"""Dump formatted physical plans of the headline queries to PLANS.md —
the plan-audit artifact: shows broadcast joins, pushed filters, partial
aggregation, TakeOrderedAndProject, and the absence of cartesian products
without re-running anything.

Usage: python tools/plans.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

# One representative per family — the plans worth reading.
PLAN_SET = [
    "search_bm25_topk",
    "rel_region_revenue",
    "rel_q3_top10",
    "win_running_total",
    "dedup_minhash_near",
    "dedup_simhash_near",
    # The vector near-dup rows (sim_cosine_banded and the _scaled /
    # _banded rows) are omitted: each plan is two mapInPandas passes
    # around one (band, bucket) exchange (plans/r05 has the scaled rows).
    "sim_ann_lsh",
    "sim_tfidf_topk",
    "pipeline_pack_sequences",
    "text_contamination",
    "stream_interval_join_1h",
    "skew_two_phase_agg",
    "events_funnel",
    "graph_triangles_trade",
    "dedup_prefix_jaccard",
    # sim_pq_topk omitted: the codebook / distance tables are plan-time
    # literal arrays that swamp the detail section; the shape is
    # codes-projection -> broadcast query cross join -> per-query window
    # (audited in-round, see TODO.md).
    "win_range_frame",
    # r11: the ExactSubstr span plan — in-row shingle hashing over the
    # materialized token array, map-side-partial duplicated-set agg,
    # broadcast/shuffled semi probe, per-doc island windows (r12: plus
    # the content-verify re-slice join).
    "dedup_exact_substring",
    # r12: the BM25 tombstone-delete probe — bucket-pruned postings scan,
    # broadcast anti/semi joins against the tiny tombstone log (masking +
    # per-term df correction), TakeOrderedAndProject top-k.
    "search_bm25_delete_probe",
    # r14: filtered ANN — the label conjunct rides the probed-list
    # candidate join (pre-filter), no extra shuffle vs sim_ivf_topk.
    "sim_ivf_filtered",
    # r14: keyset pagination — after-cursor predicate composing with
    # TakeOrderedAndProject over the shared scored relation.
    "search_page_after",
    # r14: Q21 shape — correlated EXISTS/NOT-EXISTS decorrelated to
    # leftsemi/leftanti hash joins on the orderkey equi-key.
    "rel_q21_sole_blame",
    # r14: match-set facets — ONE grouping-sets Expand + hash-agg for
    # all dimensions after the broadcast term probe.
    "search_facets",
]


def main() -> int:
    from big_data_assignment_2_spark.plans import all_queries
    from big_data_assignment_2_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    qs = all_queries()
    out = ["# PLANS — formatted physical plans of the headline queries",
           "",
           f"Generated by `python tools/plans.py {sf_dir}`. Things to look",
           "for: `BroadcastHashJoin` on small sides, `PushedFilters` /",
           "`PartitionFilters` reaching the scans, `partial_...` aggregate",
           "modes (map-side combine), `TakeOrderedAndProject` instead of",
           "global sorts, and no `CartesianProduct` /",
           "`BroadcastNestedLoopJoin` outside the documented broadcast",
           "scoring paths.", ""]
    for name in PLAN_SET:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(PLAN_SET)} plans)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
