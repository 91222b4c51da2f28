"""Dump .explain("formatted") for bench-row queries to plans/<ROUND>/<q>_<tag>.txt.

Usage: python tools/explain.py ROUND <before|after> [query ...]

Captures an optimization round's plan evidence: every query the round
touches gets a _before and _after snapshot, so plan claims can be
checked against these files.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Bench rows whose fn(spark, sf_dir) is a pure plan (no store builds on
# the side) — safe and cheap to explain.
DEFAULT_SET = [
    "search_bm25_topk", "rel_pricing_summary", "rel_q3_top10",
    "rel_region_revenue", "rel_join_range", "win_running_total",
    "dedup_minhash_near", "dedup_simhash", "sim_ann_bruteforce",
    "stream_session_30m", "sim_cosine_top_pairs_scaled",
    "sim_cosine_near_dups_banded", "sim_tfidf_topk",
    "pipeline_global_shuffle", "dedup_prefix_jaccard", "sim_pq_topk",
    "sim_ivfpq_topk", "text_bpe_train", "text_heavy_hitters_exact",
    "sim_semdedup_scaled", "events_paths", "dedup_exact_substring",
    "search_bm25f_topk", "search_fuzzy_topk", "search_hybrid_rrf",
    "search_proximity", "sim_ivf_filtered", "sim_mmr_diversify",
    "sim_semdedup_chain", "search_bm25_cjk", "mm_png_decode",
    "mm_jpeg_decode", "text_token_histogram",
]


def main() -> int:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        print(__doc__, file=sys.stderr)
        return 2
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT_SET

    from big_data_assignment_2_spark.plans import all_queries
    from big_data_assignment_2_spark.session import get_spark

    spark = get_spark(f"explain-{rnd}", master="local[8]",
                      shuffle_partitions=32)
    qs = all_queries()
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {e}"
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
