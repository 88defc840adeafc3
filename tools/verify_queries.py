"""Local stand-in for the driver's correctness gate: run every registry
query on Spark and its oracle on DuckDB at sf0.01 and compare through
the SAME channel the driver uses — both sides materialized to Arrow —
so a type divergence the driver would hash-mismatch can never hide
behind Python's numeric coercion again (round-5 verdict ask #2: two
rounds of "142/142" `fetchall()` sweeps coexisted with driver reds
because `Decimal(3) == 3` is True; DuckDB widens integer SUMs to
HUGEINT, which surfaces as decimal128(38,0) on the Arrow channel while
Spark emits int64 — identical values, different hash). Usage:

    python tools/verify_queries.py [--json SWEEP.json] [--strict] [q ...]

Checks per query, in order:
  1. Spark runs and (for rows-only queries) returns >0 rows
  2. oracle runs on DuckDB
  3. column-name sets match
  4. TYPE PARITY: each column's Arrow type class matches exactly
     (decimal128 vs int64 FAILS; only representation-identical aliases
     such as large_string/string are equivalenced — see _type_class)
  5. row counts match
  6. order-insensitive exact value match on the Arrow-materialized rows

--json writes the machine-readable sweep (committed per round as
SWEEP_r{N}.json). --strict additionally runs the plan-regression guard
(tests/test_plan_guard.py) after the value+type sweep so one command is
the full pre-commit gate: value parity, type parity, plan pins.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import subprocess
import sys
import time

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _type_class(t: pa.DataType):
    """Canonical class of an Arrow type for parity checking.

    Deliberately strict: numeric width and decimal-ness are IDENTITY
    (int64 != decimal128(38,0) — that exact divergence is the bug class
    this tool exists to catch). Only aliases with identical value
    representation are merged: large_* offsets variants, and timestamp
    unit/zone (Spark session-local TIMESTAMP exports tz-aware UTC where
    DuckDB exports naive; the driver's pandas canonicalization treats
    both as the same wall-clock instant, verified by five rounds of
    green hashes on tz-bearing queries).
    """
    if pa.types.is_large_string(t):
        return "string"
    if pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return ("list", _type_class(t.value_type))
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_struct(t):
        return ("struct",
                tuple((f.name, _type_class(f.type)) for f in t))
    if pa.types.is_map(t):
        return ("map", _type_class(t.key_type), _type_class(t.item_type))
    if pa.types.is_decimal(t):
        return ("decimal", t.precision, t.scale)
    return str(t)


def compare_arrow_types(s_schema: pa.Schema, d_schema: pa.Schema):
    """Return list of 'col: spark_type vs duckdb_type' divergences."""
    dtypes = {f.name: f.type for f in d_schema}
    out = []
    for f in s_schema:
        dt = dtypes.get(f.name)
        if dt is not None and _type_class(f.type) != _type_class(dt):
            out.append(f"{f.name}: spark {f.type} vs duckdb {dt}")
    return out


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        # tz-aware (Spark session-local export) and naive (DuckDB) agree
        # on the instant under the UTC session; compare wall-clock UTC.
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def canon(tbl: pa.Table):
    cols = sorted(tbl.column_names)
    data = {c: tbl.column(c).to_pylist() for c in cols}
    return sorted(
        (tuple(norm_cell(data[c][i]) for c in cols)
         for i in range(tbl.num_rows)),
        key=repr,
    )


def driver_canon_check(tbl: pa.Table) -> str | None:
    """Reproduce the DRIVER's canonicalization, not ours: the driver
    sorts the pandas frame by every column before hashing, and pandas
    `sort_values` raises `TypeError: unhashable type: 'numpy.ndarray'`
    on array cells (CORRECTNESS_r07: embedding_quantize,
    winnow_fingerprint — both sweep-exact here, both `err` there,
    because this tool's own canon() happily tuples arrays). Returns
    an error string if the driver would choke, else None."""
    try:
        tbl.to_pandas().sort_values(by=sorted(tbl.column_names))
    except Exception as exc:  # noqa: BLE001 - mirror the driver verbatim
        return f"{type(exc).__name__}: {exc}"
    return None


def main() -> int:
    from data_services_spark.registry import ORACLES, QUERIES
    from data_services_spark.session import get_spark

    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i:i + 2]
    strict = "--strict" in argv
    if strict:
        argv.remove("--strict")
    only = set(argv)
    spark = get_spark("verify")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    results: dict[str, dict] = {}

    def record(name, status, rows, t0, reason=None):
        results[name] = {"status": status, "rows": rows,
                         "sec": round(time.time() - t0, 2)}
        if reason:
            results[name]["reason"] = reason

    failures = []
    attempted = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        attempted += 1
        t0 = time.time()
        try:
            stbl = fn(spark, SF_DIR).toArrow()
        except Exception as exc:
            failures.append(name)
            record(name, "fail", None, t0, f"spark error: {exc}")
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in ORACLES:
            if stbl.num_rows == 0:
                failures.append(name)
                record(name, "fail", 0, t0, "rows-only query returned 0 rows")
                print(f"FAIL  {name}: 0 rows")
            else:
                record(name, "rows_only", stbl.num_rows, t0)
                print(f"ok    {name}: rows-only ({stbl.num_rows} rows, "
                      f"{time.time()-t0:.1f}s)")
            continue
        try:
            dtbl = con.execute(ORACLES[name]).arrow()
        except Exception as exc:
            failures.append(name)
            record(name, "fail", stbl.num_rows, t0, f"duckdb error: {exc}")
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        if sorted(stbl.column_names) != sorted(dtbl.column_names):
            failures.append(name)
            record(name, "fail", stbl.num_rows, t0,
                   f"columns {sorted(stbl.column_names)} "
                   f"vs {sorted(dtbl.column_names)}")
            print(f"FAIL  {name}: columns {sorted(stbl.column_names)} "
                  f"vs {sorted(dtbl.column_names)}")
            continue
        type_diffs = compare_arrow_types(stbl.schema, dtbl.schema)
        if type_diffs:
            failures.append(name)
            record(name, "fail", stbl.num_rows, t0,
                   f"type divergence: {'; '.join(type_diffs)}")
            print(f"FAIL  {name}: type divergence: {'; '.join(type_diffs)}")
            continue
        if stbl.num_rows != dtbl.num_rows:
            failures.append(name)
            record(name, "fail", stbl.num_rows, t0,
                   f"rowcount {stbl.num_rows} vs {dtbl.num_rows}")
            print(f"FAIL  {name}: rowcount {stbl.num_rows} "
                  f"vs {dtbl.num_rows}")
            continue
        canon_err = driver_canon_check(stbl)
        if canon_err:
            failures.append(name)
            record(name, "fail", stbl.num_rows, t0,
                   f"driver canon would err: {canon_err}")
            print(f"FAIL  {name}: driver canon would err: {canon_err}")
            continue
        cs, cd = canon(stbl), canon(dtbl)
        if cs != cd:
            failures.append(name)
            bad = [i for i, (a, b) in enumerate(zip(cs, cd)) if a != b][:3]
            record(name, "fail", stbl.num_rows, t0,
                   f"value mismatch at sorted rows {bad}")
            print(f"FAIL  {name}: value mismatch at sorted rows {bad}")
            for i in bad[:2]:
                print(f"      spark : {cs[i]}")
                print(f"      duckdb: {cd[i]}")
            continue
        record(name, "pass", stbl.num_rows, t0)
        print(f"ok    {name}: {stbl.num_rows} rows + types match "
              f"({time.time()-t0:.1f}s)")

    print(f"\n{attempted - len(failures)}/{attempted} pass")
    plan_guard = None
    if strict and not only:
        print("\n--strict: running plan-regression guard ...")
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, "-m", "pytest",
             "tests/test_plan_guard.py", "-q", "--no-header"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True, text=True)
        tail = proc.stdout.strip().splitlines()[-1] if proc.stdout else ""
        plan_guard = {"pass": proc.returncode == 0, "summary": tail,
                      "sec": round(time.time() - t0, 2)}
        print(f"plan guard: {'PASS' if plan_guard['pass'] else 'FAIL'} "
              f"({tail})")
        if proc.returncode != 0:
            failures.append("__plan_guard__")
            print(proc.stdout[-4000:])
    if json_path:
        summary = {
            "sf_dir": SF_DIR,
            "mode": "strict_arrow" if strict else "arrow",
            "attempted": attempted,
            "pass": attempted - len([f for f in failures
                                     if f != "__plan_guard__"]),
            "fail": len(failures),
            "queries": results,
        }
        if plan_guard is not None:
            summary["plan_guard"] = plan_guard
        with open(json_path, "w") as fh:
            json.dump(summary, fh, indent=1)
        print(f"wrote {json_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
