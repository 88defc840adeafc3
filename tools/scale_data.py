"""Scale the driver's sf0.1 parquet tables N-fold (default 10x => an
sf1-equivalent) for amortized-scale benchmarking.

Round-3 verdict, next-round ask #1: at sf0.1 six of the seven bench
queries finish in < 0.55s absolute, so the 2x-of-baseline ratio measures
Spark's fixed per-job scheduling floor (~0.105-0.15s on this box), not the
operator designs. The fix is evidence at a scale factor where per-query
runtime >= 10x that floor. This tool manufactures that scale locally:

- fact tables (customer, supplier, part, orders, lineitem, events,
  documents, embeddings) are replicated COPIES times with every key column
  offset by copy_index * stride, strides chosen per key domain and applied
  consistently to foreign keys, so joins/groups grow 10x in cardinality
  instead of producing 10x-duplicate groups;
- dimension tables (region, nation) are copied unchanged, mirroring TPC-H
  scaling (their FKs in scaled tables stay in range).

The KGX merge fixture (plans/kgx_fixture.py) derives from customer/part/
lineitem/orders, so the graph-merge bench queries scale automatically.

Usage:
    python tools/scale_data.py [OUT_DIR] [--copies N] [--src SF_DIR]
                               [--table-copies events=100,embeddings=100]

Default OUT_DIR is .bench_data/sf1 in the checkout (gitignored). Writing is a
single DuckDB pass per table: SELECT ... FROM tbl CROSS JOIN range(N).

--table-copies overrides the factor per table: the non-TPC-H tables
(events/embeddings/documents) are tiny at any TPC-H-ish sf (events sf0.1 =
100k rows), so bench queries over them stay pinned to Spark's ~0.15s/job
scheduling floor even at 10x; the amortized-scale bench scales them 100x
so per-query runtime clears 10x the floor and ratios measure operators.
"""

from __future__ import annotations

import argparse
import os
import time

import duckdb

# stride per key domain — a clean power of 10 above the sf0.1 max key, so
# offset keys from different copies can never collide and debugging reads
# well (copy 3's order 42 is 30_000_042).
STRIDES = {
    "custkey": 1_000_000,
    "suppkey": 1_000_000,
    "partkey": 1_000_000,
    "orderkey": 10_000_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}

# table -> [(column, stride_domain)] — every key column, primary AND
# foreign, offset with its domain's stride so referential joins stay exact.
KEYED = {
    "customer": [("c_custkey", "custkey")],
    "supplier": [("s_suppkey", "suppkey")],
    "part": [("p_partkey", "partkey")],
    "orders": [("o_orderkey", "orderkey"), ("o_custkey", "custkey")],
    "lineitem": [("l_orderkey", "orderkey"), ("l_partkey", "partkey"),
                 ("l_suppkey", "suppkey")],
    "events": [("event_id", "event_id"), ("user_id", "user_id")],
    "documents": [("doc_id", "doc_id")],
    "embeddings": [("vec_id", "vec_id")],
}

DIMS = ("region", "nation")


# Tables that share a key domain must scale by the SAME factor or the
# copies' foreign keys dangle (copy i of lineitem references copy i of
# orders, etc.). Only the standalone tables may scale independently.
_LINKED_GROUPS = (("customer", "orders", "lineitem"),
                  ("part", "supplier", "lineitem"))


def _check_linked_copies(copies: int,
                         table_copies: dict[str, int]) -> None:
    unknown = set(table_copies) - set(KEYED)
    if unknown:
        raise SystemExit(f"--table-copies names unknown keyed tables: "
                         f"{sorted(unknown)} (keyed: {sorted(KEYED)})")
    for group in _LINKED_GROUPS:
        factors = {t: table_copies.get(t, copies) for t in group}
        if len(set(factors.values())) > 1:
            raise SystemExit(
                f"tables {group} share a key domain and must scale by "
                f"one factor, got {factors}: unequal copy counts leave "
                f"dangling foreign keys in every extra copy")


def scale(src: str, out: str, copies: int,
          table_copies: dict[str, int] | None = None) -> None:
    _check_linked_copies(copies, table_copies or {})
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in DIMS:
        con.execute(
            f"COPY (SELECT * FROM '{src}/{t}.parquet') TO "
            f"'{out}/{t}.parquet' (FORMAT PARQUET)")
        print(f"{t}: copied unchanged")
    for t, keys in KEYED.items():
        n_copies = (table_copies or {}).get(t, copies)
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'").fetchall()]
        offset = dict(keys)
        sel = ", ".join(
            f"{c} + _copy.i * {STRIDES[offset[c]]} AS {c}" if c in offset
            else c
            for c in cols)
        t0 = time.perf_counter()
        con.execute(
            f"COPY (SELECT {sel} FROM '{src}/{t}.parquet' "
            f"CROSS JOIN (SELECT range AS i FROM range({n_copies})) _copy) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(
            f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows ({n_copies}x) in "
              f"{time.perf_counter() - t0:.1f}s")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out", nargs="?", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_data", "sf1"))
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--table-copies", default="",
                    help="per-table override, e.g. events=100,embeddings=100")
    a = ap.parse_args()
    overrides = {}
    for item in filter(None, a.table_copies.split(",")):
        k, v = item.split("=")
        overrides[k.strip()] = int(v)
    scale(a.src, a.out, a.copies, overrides)


if __name__ == "__main__":
    main()
