"""One-pass data-quality constraint suite (ETL validation, SURVEY §2 P5
generalized).

The reference validates rows one predicate at a time while parsing
`[R: parsers/*/src/load*.py — unverified]`; an engine serving a 100 TB
build wants the Deequ-style posture instead: declare a SUITE of
constraints over a table and evaluate the whole suite in ONE scan.
Every constraint below reduces to an aggregate expression, so the
entire report is a single `df.agg(...)` — one job, partial aggregation
map-side, a few dozen rows ever crossing the final exchange. Adding a
constraint adds a column to the agg, not a pass over the data.

Constraint kinds (each returns `metric` in [0, 1] or a count, and a
boolean verdict against its threshold):

- ``not_null(col)``        — fraction of non-null values
- ``unique(col)``          — distinct(col) / count(col)  (exact)
- ``accepted(col, vals)``  — fraction of values inside an allow-list
- ``in_range(col, lo, hi)``— fraction of values inside [lo, hi]
- ``matches(col, regex)``  — fraction of values matching a pattern
- ``min_rows(n)``          — table cardinality floor

``unique`` uses `count_distinct`, which Spark executes with an expand +
two-phase aggregate — still one scan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


@dataclass(frozen=True)
class Check:
    """One constraint: a named aggregate metric plus its pass rule."""

    name: str
    column: str
    metric: Column          # aggregate expression -> double
    threshold: float        # passes iff metric >= threshold


def _frac(pred: Column) -> Column:
    """Fraction of rows satisfying `pred`, as an exact integer sum over
    an exact count finished by ONE double division — bit-identical
    across engines and shuffle orders (the stats_exact discipline; a
    plain AVG(double) would be summation-order-dependent). NULL
    predicate values count as failing. 1.0 on an empty table: a vacuous
    constraint holds."""
    n = F.count(F.lit(1))
    hits = F.coalesce(F.sum(pred.cast("long")), F.lit(0))
    return F.when(n == 0, F.lit(1.0)).otherwise(hits.cast("double") / n)


def not_null(col: str, threshold: float = 1.0) -> Check:
    return Check(f"not_null:{col}", col,
                 _frac(F.col(col).isNotNull()), threshold)


def unique(col: str, threshold: float = 1.0) -> Check:
    metric = F.when(F.count(col) == 0, F.lit(1.0)) \
              .otherwise(F.count_distinct(col).cast("double") / F.count(col))
    return Check(f"unique:{col}", col, metric, threshold)


def accepted(col: str, values: Sequence[str],
             threshold: float = 1.0) -> Check:
    return Check(f"accepted:{col}", col,
                 _frac(F.col(col).isin(list(values))), threshold)


def in_range(col: str, lo: float, hi: float,
             threshold: float = 1.0) -> Check:
    return Check(f"in_range:{col}", col,
                 _frac(F.col(col).between(lo, hi)), threshold)


def matches(col: str, pattern: str, threshold: float = 1.0) -> Check:
    return Check(f"matches:{col}", col,
                 _frac(F.col(col).rlike(pattern)), threshold)


def min_rows(n: int) -> Check:
    return Check(f"min_rows:{n}", "*", F.count(F.lit(1)).cast("double"),
                 float(n))


def run_suite(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """Evaluate every check in ONE aggregation over `df`.

    Returns a report DataFrame `(check, column, metric double, threshold
    double, passed boolean)`, one row per check, ordered by check name.
    Every metric is a fraction of exact integer counts finished by one
    double division, so the report is deterministic under any shuffle
    or partial-aggregation order."""
    if not checks:
        raise ValueError("empty check suite")
    agg = [c.metric.alias(f"m{i}") for i, c in enumerate(checks)]
    row = df.agg(*agg)
    report = row.select(F.explode(F.array(*[
        F.struct(
            F.lit(c.name).alias("check"),
            F.lit(c.column).alias("column"),
            F.col(f"m{i}").alias("metric"),
            F.lit(float(c.threshold)).alias("threshold"),
            (F.col(f"m{i}") >= F.lit(float(c.threshold))).alias("passed"),
        ) for i, c in enumerate(checks)])).alias("r")).select("r.*")
    return report.orderBy("check")


def fk_check(fact: DataFrame, fk: str, dim: DataFrame, pk: str,
             threshold: float = 1.0) -> DataFrame:
    """Referential integrity as a report row: the fraction of non-null
    fact foreign keys that resolve in the dimension. ONE lazy plan —
    a left join on the projected key column (Catalyst broadcasts a
    small dim; a big dim shuffles ids only, the fact row payload never
    moves) folded into one aggregate. Returns the `run_suite` report
    schema, so FK rows union with per-table suites into one report."""
    dimk = (dim.select(F.col(pk).alias(fk)).distinct()
            .withColumn("__hit", F.lit(1).cast("long")))
    j = fact.select(F.col(fk)).join(dimk, fk, "left")
    n = F.count(F.col(fk))                       # non-null foreign keys
    k = F.coalesce(F.sum("__hit"), F.lit(0))     # ...that resolved
    metric = F.when(n == 0, F.lit(1.0)).otherwise(k.cast("double") / n)
    return j.agg(metric.alias("metric")).select(
        F.lit(f"fk:{fk}").alias("check"),
        F.lit(fk).alias("column"),
        F.col("metric"),
        F.lit(float(threshold)).alias("threshold"),
        (F.col("metric") >= F.lit(float(threshold))).alias("passed"))
