"""Measure the streaming near-dup probe's cost vs kept-corpus size,
bucket-pruned vs full-state read (round-7 scale evidence for SCALE.md).

Builds synthetic band states (N kept docs x `bands` rows, random band
hashes — the probe's I/O cost depends on state size and layout, not on
how the bands were derived), then times:

- the FULL per-batch call (`dedup_batch_against_state`: banding + CC
  probe + corpus probe + merge + decisions write) for a fixed real
  micro-batch from sf0.1 documents, and
- the ISOLATED corpus-probe join (state read + broadcast equi join +
  count), where the asymptotics show without the fixed job floors.

Usage:
    python tools/neardup_scale_bench.py [--docs 100000,1000000]
        [--nb 1024] [--batch 50] [--reps 3]

`--batch` and `--nb` accept comma lists: every (docs, nb) state is
built once and probed by every batch size (the round-8 batch-
amortization and num_buckets-sizing tables — a fixed tiny batch grows
with the corpus, so the production story is batches of 10^4-10^5 docs
amortizing the touched fraction, and num_buckets sized so touched ~
batch band keys).

Prints one markdown table + one JSON line.
"""

from __future__ import annotations

import argparse
import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
BANDS = 4


def build_state(spark, state_dir: str, n_docs: int, nb: int) -> float:
    """Synthetic kept-corpus band state: n_docs x BANDS rows, committed
    as batch 0 of the generational state (bucketed by (band, bh))."""
    import pyspark.sql.functions as F

    from data_services_spark.streaming.neardup import BAND_KEY, BUCKET_COLS
    from data_services_spark.streaming.ingest import merge_upsert_batch

    rows = (spark.range(n_docs * BANDS)
            .select((F.col("id") % BANDS).cast("int").alias("band"),
                    F.xxhash64((F.col("id") + 7) * 2654435761).alias("bh"),
                    (F.col("id") / BANDS).cast("long").alias("doc_id")))
    t0 = time.perf_counter()
    merge_upsert_batch(spark, rows, state_dir, 0, scalar_props=(),
                       list_props=(), key_cols=BAND_KEY,
                       bucket_cols=BUCKET_COLS, num_buckets=nb)
    return time.perf_counter() - t0


def probe_only(spark, state_dir: str, surv_bands, prune: bool) -> float:
    """The isolated corpus-probe join the batch pays per micro-batch."""
    import pyspark.sql.functions as F

    from data_services_spark.streaming import neardup

    t0 = time.perf_counter()
    buckets = neardup._probe_buckets(
        surv_bands, neardup._read_manifest(state_dir)) if prune else None
    state = neardup._state_before_batch(spark, state_dir, 1,
                                        buckets=buckets)
    n = 0
    if state is not None:
        n = (state.select("band", "bh")
             .join(F.broadcast(surv_bands), ["band", "bh"])
             .count())
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default="100000,1000000")
    ap.add_argument("--nb", default="1024")
    ap.add_argument("--batch", default="50")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    sizes = [int(x) for x in args.docs.split(",")]
    nbs = [int(x) for x in str(args.nb).split(",")]
    batches = [int(x) for x in str(args.batch).split(",")]

    from data_services_spark.catalog import load_table
    from data_services_spark.operators.dedup import band_hashes
    from data_services_spark.session import get_spark
    from data_services_spark.streaming import neardup
    import pyspark.sql.functions as F

    spark = get_spark("neardup_scale_bench")
    docs = load_table(spark, SF_DIR, "documents")

    n_real = docs.count()

    def make_batch(n: int):
        if n <= n_real:
            batch = (docs.orderBy("doc_id").limit(n)
                     .select("doc_id",
                             F.coalesce("text", F.lit("")).alias("text")))
        else:
            # production-size batches outgrow the sf0.1 corpus; the
            # probe's cost depends on the batch's BAND KEYS, not prose
            # quality, so synthesize 20-token docs whose shingles vary
            # by id (hash-derived token ids over a 5000-word vocab)
            batch = spark.range(n).select(
                F.col("id").alias("doc_id"),
                F.concat_ws(" ", F.transform(
                    F.sequence(F.lit(1), F.lit(20)),
                    lambda j: F.concat(
                        F.lit("w"),
                        F.pmod(F.xxhash64(F.col("id") * 31 + j),
                               F.lit(5000))))).alias("text"))
        sb = (band_hashes(batch, "text", "doc_id", 16, BANDS, 3,
                          "xxhash64")
              .select(F.col("id").alias("doc_id"), "band", "bh")
              .persist())
        return batch, sb, sb.select("band", "bh").distinct().count()

    results = []
    for n_docs in sizes:
        for nb in nbs:
            tmp = tempfile.mkdtemp(prefix="ndscale_")
            state_dir = f"{tmp}/state"
            build_s = build_state(spark, state_dir, n_docs, nb)
            m = neardup._read_manifest(state_dir)
            for n_batch in batches:
                batch, surv_bands, n_keys = make_batch(n_batch)
                # None = the saturation guard fired (every bucket
                # touched -> probe takes the plain full-read path)
                touched = neardup._probe_buckets(surv_bands, m)
                row = {"n_docs": n_docs, "band_rows": n_docs * BANDS,
                       "nb": nb, "batch_docs": n_batch,
                       "batch_band_keys": n_keys,
                       "touched_buckets": ("saturated" if touched is None
                                           else len(touched)),
                       "build_s": round(build_s, 2)}
                for prune in (True, False):
                    ts = [probe_only(spark, state_dir, surv_bands, prune)
                          for _ in range(args.reps)]
                    row[f"probe_{'pruned' if prune else 'full'}_s"] = \
                        round(min(ts), 3)
                # full batch call, pruned vs full (fresh decisions dirs
                # each rep)
                for prune in (True, False):
                    ts = []
                    for _ in range(args.reps):
                        shutil.rmtree(f"{state_dir}/_decisions",
                                      ignore_errors=True)
                        t0 = time.perf_counter()
                        # batch_id=1 replays against the same gen-0
                        # snapshot each rep (watermark guard skips the
                        # re-merge after rep 1 — isolate by replaying
                        # batch 1 against an unchanged state: rep 1
                        # includes the merge, reps 2+ skip it;
                        # min-of-reps therefore reports the probe+decide
                        # floor)
                        neardup.dedup_batch_against_state(
                            spark, batch, state_dir, 1, num_buckets=nb,
                            prune_state_read=prune)
                        ts.append(time.perf_counter() - t0)
                    row[f"batch_{'pruned' if prune else 'full'}_s"] = \
                        round(min(ts), 2)
                surv_bands.unpersist()
                results.append(row)
                print(f"## {row}", flush=True)
            shutil.rmtree(tmp, ignore_errors=True)
    cols = list(results[0])
    print("| " + " | ".join(cols) + " |")
    print("|" + "---|" * len(cols))
    for r in results:
        print("| " + " | ".join(str(r[c]) for c in cols) + " |")
    print(json.dumps({"results": results}))


if __name__ == "__main__":
    main()
