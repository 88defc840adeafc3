"""Registry-wide oracle TYPE parity (round-5 verdict asks #1/#2).

The driver hashes query results after Arrow/pandas canonicalization, so
a DuckDB oracle whose output schema diverges from Spark's — even with
identical values — reads as a driver red.  The concrete class that cost
rounds 4 and 5: DuckDB widens `SUM(BIGINT)` (plain, windowed, and over
`CASE ... THEN 1` int literals) to HUGEINT, which materializes as
Arrow decimal128(38,0) against Spark's int64.

Three layers of defense, cheapest first:

1. `test_no_hugeint_class_oracle_output` — static, no Spark: DuckDB
   `DESCRIBE` of every oracle must produce no type Spark cannot emit
   (HUGEINT and the unsigned family).  This is the exact audit that
   found the four round-5 reds, now pinned so a new oracle with a bare
   integer SUM fails CI before it ever reaches a driver window.
2. `test_comparator_catches_injected_hugeint` — proves the strict
   sweep comparator (tools/verify_queries.py) FAILS on an injected
   HUGEINT regression, i.e. the tool is no longer structurally blind
   to the class (`Decimal(3) == 3` coerced it away pre-round-6).
3. Full Spark-vs-DuckDB Arrow schema parity runs for every query in
   the strict sweep itself (`tools/verify_queries.py --strict`,
   committed as SWEEP_r{N}.json) — executing all 142 queries is sweep
   work, not unit-test work.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.verify_queries import _type_class, compare_arrow_types

# Types DuckDB can produce that Spark's Arrow export never emits; any
# oracle column landing in this set hash-mismatches on the driver even
# when every value is equal.
_NON_SPARK_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER",
                    "USMALLINT", "UTINYINT"}


def _oracle_output_types(con):
    from data_services_spark.registry import ORACLES

    for name, sql in ORACLES.items():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        yield name, [(row[0], row[1]) for row in desc]


def test_no_hugeint_class_oracle_output(duck):
    bad = []
    for name, cols in _oracle_output_types(duck):
        for col, typ in cols:
            if typ.upper() in _NON_SPARK_TYPES:
                bad.append(f"{name}.{col}: {typ}")
    assert not bad, (
        "oracle output types Spark cannot emit (wrap in CAST(... AS "
        "BIGINT) — the driver's Arrow hash will mismatch): " + "; ".join(bad)
    )


def test_describe_sees_the_widening(duck):
    """Sanity: DESCRIBE actually reports HUGEINT for the bug pattern,
    so test 1 is testing something real, not vacuously green."""
    desc = duck.execute(
        "DESCRIBE SELECT SUM(r_regionkey) AS s FROM region").fetchall()
    assert desc[0][1].upper() == "HUGEINT"
    desc = duck.execute(
        "DESCRIBE SELECT CAST(SUM(r_regionkey) AS BIGINT) AS s FROM region"
    ).fetchall()
    assert desc[0][1].upper() == "BIGINT"


def test_comparator_catches_injected_hugeint():
    con = duckdb.connect()
    widened = con.execute("SELECT SUM(x) AS s FROM (VALUES (1), (2)) t(x)"
                          ).arrow()
    assert pa.types.is_decimal(widened.schema.field("s").type)
    spark_like = pa.table({"s": pa.array([3], type=pa.int64())})
    diffs = compare_arrow_types(spark_like.schema, widened.schema)
    assert diffs and "decimal128(38, 0)" in diffs[0]
    # and the fixed form passes
    fixed = con.execute(
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1), (2)) t(x)"
    ).arrow()
    assert compare_arrow_types(spark_like.schema, fixed.schema) == []


def test_type_class_equivalences():
    # representation-identical aliases merge ...
    assert _type_class(pa.large_string()) == _type_class(pa.string())
    assert _type_class(pa.large_list(pa.float32())) == \
        _type_class(pa.list_(pa.float32()))
    assert _type_class(pa.timestamp("us", tz="UTC")) == \
        _type_class(pa.timestamp("us"))
    # ... numeric identity does NOT
    assert _type_class(pa.int64()) != _type_class(pa.decimal128(38, 0))
    assert _type_class(pa.int64()) != _type_class(pa.int32())
    assert _type_class(pa.float64()) != _type_class(pa.decimal128(38, 2))


# Nested (array/map/struct) cells are a second class the driver cannot
# canonicalize AT ALL: its `_canon` is a pandas sort_values over every
# result column, and pandas cannot sort/hash numpy.ndarray or dict
# cells.  Round 7 proved it the hard way — `embedding_quantize`
# (array<int> qvec) and `winnow_fingerprint` (array<bigint> fps) were
# sweep-exact at two scale factors yet recorded `err: unhashable type:
# 'numpy.ndarray'` in CORRECTNESS_r07, burning their window slots.
# The constraint was already documented at kgx_node_merge (which
# '|'-joins its arrays for exactly this reason); this test makes it
# structural: NO oracle-bearing query may expose a nested top-level
# column.  Array-valued operators stay available through the operators
# API or rows-only registry twins; their driver-facing forms must
# array_join (lossless for ints) or unnest.
_NESTED_PREFIXES = ("MAP(", "STRUCT(", "UNION(")


def test_no_nested_toplevel_columns_in_oracle_output(duck):
    bad = []
    for name, cols in _oracle_output_types(duck):
        for col, typ in cols:
            tu = typ.upper()
            if tu.endswith("[]") or tu.startswith(_NESTED_PREFIXES):
                bad.append(f"{name}.{col}: {typ}")
    assert not bad, (
        "oracle-bearing queries with nested top-level columns — the "
        "driver's pandas canonicalizer cannot sort these cells and "
        "records `err` (see CORRECTNESS_r07 embedding_quantize / "
        "winnow_fingerprint). array_join('|') or unnest them:\n  "
        + "\n  ".join(bad))


def test_nested_detector_sees_the_class(duck):
    """Sanity twin: DESCRIBE really does report list/map types for the
    r7 failure pattern, so the test above is not vacuously green."""
    desc = duck.execute(
        "DESCRIBE SELECT [1, 2] AS a, MAP([1],[2]) AS m, {'x': 1} AS s"
    ).fetchall()
    types = [t.upper() for _, t, *_ in desc]
    assert types[0].endswith("[]")
    assert types[1].startswith("MAP(")
    assert types[2].startswith("STRUCT(")
