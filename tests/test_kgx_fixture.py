"""The int proxies of the KGX edge key (plans/kgx_fixture.py): each
string builder reproduces its kgx_edges column and is injective on the
fixture domain, so the proxy-keyed rewrites group exactly as the string
form does."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from tests.conftest import SF_DIR

SF001 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def test_edge_key_proxies_are_injective_on_the_fixture(spark):
    from data_services_spark.catalog import load_table
    from data_services_spark.plans import kgx_fixture as kgx

    keys = ("subject", "predicate", "object", "primary_knowledge_source")
    builders = (kgx.subject_curie, kgx.predicate_curie, kgx.object_curie,
                kgx.source_curie)
    proxies = load_table(spark, SF001, "lineitem").select(
        kgx.subject_proxy().alias("subject"),
        kgx.returned_proxy().alias("predicate"),
        kgx.object_proxy().alias("object"),
        kgx.source_proxy().alias("primary_knowledge_source"))
    built = proxies.select(*[b(F.col(k)).alias(k)
                             for k, b in zip(keys, builders)])
    fixture = kgx.kgx_edges(spark, SF001).select(*keys)
    assert built.exceptAll(fixture).isEmpty()
    assert fixture.exceptAll(built).isEmpty()

    counts = proxies.agg(*[
        F.struct(F.count_distinct(k), F.count_distinct(b(F.col(k))),
                 F.count_distinct(k, b(F.col(k)))).alias(k)
        for k, b in zip(keys, builders)]).first()
    for k in keys:
        n_proxy, n_curie, n_pairs = counts[k]
        assert n_proxy == n_curie == n_pairs > 1, (k, counts[k])
