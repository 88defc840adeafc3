"""Identifier normalization — rewrite edge endpoints to canonical ids.

Reference flow (`[R: Common/kgx_file_normalizer.py — unverified]`, SURVEY §2.3
J1/J2): a node-id -> canonical-id map is fetched from the Node Normalization
service in batched HTTP calls, held as a Python dict, and each edge's
subject/object is rewritten by dict lookup; edges with an un-normalizable
endpoint are routed to a failures file.

Spark-first re-expression: the map is a *DataFrame* ``(orig_id, canon_id,
...)`` and the rewrite is two broadcast hash joins (the map is tiny relative
to the edge set — millions of ids vs billions of edges at 100 TB, well within
broadcast range after dedup, so the hint is unconditional). Failure routing
falls out of the same left join as a null-canon filter — no second pass over
the edges.

The *service* side (batched HTTP with retry) is modeled by
:class:`NodeNormalizerService` as a ``mapInPandas`` operator with a pluggable
resolver so tests inject a deterministic fake — the network call itself is
out of engine scope (driver never exercises it).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def apply_node_map(edges: DataFrame, node_map: DataFrame,
                   endpoint: str) -> DataFrame:
    """Left-join rewrite of one endpoint column via (orig_id, canon_id) map.

    Adds ``{endpoint}_normalized`` boolean; keeps the original id when the
    map misses (reference keeps the row for failure routing).
    """
    m = F.broadcast(
        node_map.select(F.col("orig_id").alias(f"__orig_{endpoint}"),
                        F.col("canon_id").alias(f"__canon_{endpoint}")))
    joined = edges.join(m, edges[endpoint] == m[f"__orig_{endpoint}"], "left")
    return (joined
            .withColumn(f"{endpoint}_normalized",
                        F.col(f"__canon_{endpoint}").isNotNull())
            .withColumn(endpoint,
                        F.coalesce(F.col(f"__canon_{endpoint}"), F.col(endpoint)))
            .drop(f"__orig_{endpoint}", f"__canon_{endpoint}"))


def normalize_edges(edges: DataFrame, node_map: DataFrame,
                    subject_col: str = "subject",
                    object_col: str = "object") -> DataFrame:
    """J1: rewrite both endpoints; flags mark per-endpoint success."""
    out = apply_node_map(edges, node_map, subject_col)
    return apply_node_map(out, node_map, object_col)


def apply_predicate_map(edges: DataFrame, predicate_map: DataFrame,
                        predicate_col: str = "predicate",
                        default: str | None = "biolink:related_to"
                        ) -> DataFrame:
    """J1 edge/predicate normalization (EdgeNormalizer twin): rewrite the
    predicate column to its canonical biolink predicate via a
    ``(raw_pred, biolink_pred)`` map `[R: Common/normalization.py —
    EdgeNormalizer — unverified]`.

    The predicate vocabulary is tiny (hundreds of relation types against
    billions of edges at 100 TB), so this is always a broadcast hash join —
    zero shuffle of the edge side. Unmapped predicates keep the row
    (reference routes them / defaults to a fallback), rewritten to
    ``default`` when given, flagged ``predicate_normalized = false`` either
    way so callers can route failures exactly like node-norm failures (J2).
    """
    m = F.broadcast(
        predicate_map.select(F.col("raw_pred").alias("__raw_pred"),
                             F.col("biolink_pred").alias("__biolink_pred")))
    joined = edges.join(m, edges[predicate_col] == m["__raw_pred"], "left")
    fallback = F.lit(default) if default is not None else F.col(predicate_col)
    return (joined
            .withColumn("predicate_normalized",
                        F.col("__biolink_pred").isNotNull())
            .withColumn(predicate_col,
                        F.coalesce(F.col("__biolink_pred"), fallback))
            .drop("__raw_pred", "__biolink_pred"))


def normalization_failures(edges: DataFrame, node_map: DataFrame,
                           endpoint: str = "subject") -> DataFrame:
    """J2: distinct endpoint ids with no canonical mapping (anti join).

    Mirrors the reference's norm-failures file `[R:
    Common/kgx_file_normalizer.py — unverified]`.
    """
    ids = edges.select(F.col(endpoint).alias("failed_id")).distinct()
    return ids.join(F.broadcast(node_map.select(F.col("orig_id").alias("failed_id"))),
                    on="failed_id", how="left_anti")


class NodeNormalizerService:
    """D1: batched id-resolution as an Arrow-boundary operator.

    ``resolver(batch_of_ids) -> dict[id, canon_id|None]`` stands in for the
    node-norm HTTP endpoint (`[R: Common/normalization.py — batched POSTs —
    unverified]`). Build the map *once* from the distinct ids, then join —
    service calls never sit on the per-edge hot path.
    """

    def __init__(self, resolver: Callable[[list[str]], dict[str, str | None]],
                 batch_size: int = 5000):
        self.resolver = resolver
        self.batch_size = batch_size

    def build_map(self, ids_df: DataFrame, id_col: str = "id") -> DataFrame:
        import pandas as pd  # local import: executors only

        resolver, batch_size = self.resolver, self.batch_size

        def resolve(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in batches:
                ids = pdf[id_col].tolist()
                out: dict[str, str | None] = {}
                for i in range(0, len(ids), batch_size):
                    out.update(resolver(ids[i:i + batch_size]))
                yield pd.DataFrame({
                    "orig_id": list(out.keys()),
                    "canon_id": list(out.values()),
                })

        distinct = ids_df.select(F.col(id_col)).distinct()
        return distinct.mapInPandas(resolve, "orig_id string, canon_id string")
