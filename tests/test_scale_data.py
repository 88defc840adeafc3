"""tools/scale_data.py contract: N-fold replication with per-domain key
strides must preserve referential joins exactly — every FK join's row
count scales linearly, never quadratically (copies must not cross-join)."""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_data import scale  # noqa: E402

SRC = "/root/testdata/sf0.001"


def test_scaled_joins_stay_referential(tmp_path):
    out = str(tmp_path / "sf3x")
    scale(SRC, out, copies=3, table_copies={"events": 5})
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "events"):
        con.execute(
            f"CREATE VIEW {t}_s AS SELECT * FROM '{out}/{t}.parquet'")
        con.execute(
            f"CREATE VIEW {t}_o AS SELECT * FROM '{SRC}/{t}.parquet'")

    def one(sql):
        return con.execute(sql).fetchone()[0]

    # row counts scale by the requested factor (per-table override honored)
    assert one("SELECT count(*) FROM orders_s") == \
        3 * one("SELECT count(*) FROM orders_o")
    assert one("SELECT count(*) FROM events_s") == \
        5 * one("SELECT count(*) FROM events_o")

    # FK joins scale LINEARLY: each lineitem matches exactly its own
    # copy's order (strides are collision-free), so the join count is 3x
    # the base join count — a cross-copy collision would inflate it.
    base = one("""SELECT count(*) FROM lineitem_o l
                  JOIN orders_o o ON l.l_orderkey = o.o_orderkey""")
    scaled = one("""SELECT count(*) FROM lineitem_s l
                    JOIN orders_s o ON l.l_orderkey = o.o_orderkey""")
    assert scaled == 3 * base

    # keys are globally unique after offsetting
    assert one("SELECT count(DISTINCT o_orderkey) FROM orders_s") == \
        one("SELECT count(*) FROM orders_s")
