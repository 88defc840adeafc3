from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    from data_services_spark.session import get_spark

    # A fixed heap, whatever the host-sized default: a 16g heap let the
    # JVM outgrow a 15 GB host (a full run was OOM-killed at 15.3 GB
    # RSS); the suite passes with 8g.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm_cell(r[i]) for i in order) for r in rows), key=repr
    )


def assert_same_result(sdf, con, sql):
    """Driver-compare stand-in: columns, row count, exact sorted values."""
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    cs, cd = canon(srows, scols), canon(drows, dcols)
    for a, b in zip(cs, cd):
        assert a == b, f"row mismatch:\n spark : {a}\n duckdb: {b}"
