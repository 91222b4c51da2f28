"""Broadcast-hint lint (VERDICT r16 #1): FAIL on any literal
``F.broadcast(rel)`` whose input could scale with the corpus.

A literal hint is a plan commitment that survives no scale-up if the
relation grows with the data.  The rule: every ``F.broadcast`` call site
in the package must either

- live in ``hints.py`` (the two size-gated helpers — the only sanctioned
  raw-broadcast sites; corpus-scaled relations must route through them), or
- appear in the allowlist below with a bounded-by-definition justification
  (1-row aggregates, query-term relations, constant dimensions like
  nation/region, k-bounded centroid/probe lists, ...).

Sites are keyed (file, enclosing function, unparsed argument) so the lint
is stable under line-number drift but breaks when a hinted expression
changes — forcing the author to re-justify.  Unused allowlist entries
also fail (stale entries would silently re-admit a removed pattern).

Usage: python tools/lint_broadcasts.py   (exit 0 = clean)
Run by tests/test_lint_broadcasts.py as part of the suite.
"""

from __future__ import annotations

import ast
import os
import sys

PKG = "big_data_assignment_2_spark"

# (file, function, argument-unparse) -> why this side is bounded.
ALLOWLIST: dict[tuple[str, str, str], str] = {
    # --- plans/events_queries.py ---
    (f"{PKG}/plans/events_queries.py", "q_zscore_outliers", "stats"):
        "per-event_type aggregate: bounded by the event-type enum",
    (f"{PKG}/plans/events_queries.py", "q_event_transitions", "outgoing"):
        "per-event_type totals: bounded by the event-type enum",
    # --- plans/graph_queries.py (nation = 25 rows at every SF) ---
    (f"{PKG}/plans/graph_queries.py", "q_pagerank_trade", "nation"):
        "nation is a constant 25-row dimension at every SF",
    (f"{PKG}/plans/graph_queries.py", "q_triangles_trade", "nation"):
        "nation is a constant 25-row dimension at every SF",
    (f"{PKG}/plans/graph_queries.py", "q_communities_trade", "nation"):
        "nation is a constant 25-row dimension at every SF",
    (f"{PKG}/plans/graph_queries.py", "q_khop_trade", "nation"):
        "nation is a constant 25-row dimension at every SF",
    # --- plans/relational_queries.py (customer/supplier/part are
    #     size-gated via hints.broadcast_if_small; only constants remain)
    (f"{PKG}/plans/relational_queries.py", "q_region_revenue", "n"):
        "nation: constant 25 rows",
    (f"{PKG}/plans/relational_queries.py", "q_region_revenue", "r"):
        "region: constant 5 rows",
    (f"{PKG}/plans/relational_queries.py", "q_nation_volume", "cn"):
        "nation projection: constant 25 rows",
    (f"{PKG}/plans/relational_queries.py", "q_nation_volume", "sn"):
        "nation projection: constant 25 rows",
    (f"{PKG}/plans/relational_queries.py", "q_hll_sketch_union",
     "per.agg(F.expr('hll_sketch_estimate(hll_union_agg(__sk))')"
     ".alias('__est'))"):
        "1-row union-sketch aggregate",
    # --- plans/search_queries.py ---
    (f"{PKG}/plans/search_queries.py", "q_eval_ndcg",
     "inline_rows(spark, [('q1',)], 'query_id string')"):
        "literal 1-row query-id relation",
    # --- plans/similarity_queries.py ---
    (f"{PKG}/plans/similarity_queries.py", "q_filtered_recall", "qlbl"):
        "per-query label relation: bounded by n_queries",
    # --- plans/streaming_queries.py ---
    (f"{PKG}/plans/streaming_queries.py", "q_enrich_static_live", "dim"):
        "5-row literal dimension (static side of stream-static join)",
    # --- plans/text_queries.py ---
    (f"{PKG}/plans/text_queries.py", "q_contamination", "ev"):
        "eval-benchmark shingles: bounded by the fixed eval suite "
        "(EVAL_MAX_ID docs), not the training corpus",
    (f"{PKG}/plans/text_queries.py", "q_upsample", "plan"):
        "per-language sampling plan: bounded by the language enum",
    # --- operators/persist.py ---
    (f"{PKG}/operators/persist.py", "bm25_probe_persisted_batch",
     "terms_df"):
        "(query_id, term) relation: bounded by the batch's query terms",
    # --- operators/relational.py ---
    (f"{PKG}/operators/relational.py", "global_rank", "offsets"):
        "per-partition offsets: one row per shuffle partition",
    (f"{PKG}/operators/relational.py", "global_cumsum", "offsets"):
        "per-partition offsets: one row per shuffle partition",
    # --- operators/search.py (query-side relations are bounded by the
    #     query's term count; stats aggregates are 1 row) ---
    (f"{PKG}/operators/search.py", "_bm25_term_rows",
     "documents_info.agg(F.count('*').alias('__n'), "
     "F.avg('length').alias('__avgdl'))"):
        "1-row corpus stats aggregate",
    (f"{PKG}/operators/search.py", "_bm25_term_rows", "terms_df"):
        "query-term relation: bounded by query size",
    (f"{PKG}/operators/search.py", "_bm25_term_rows",
     "document_frequency.join(F.broadcast(terms_df.select('term')"
     ".distinct()), 'term').filter(F.col('df') > 0)"):
        "df FILTERED to the query's terms: bounded by query size",
    (f"{PKG}/operators/search.py", "_bm25_term_rows",
     "terms_df.select('term').distinct()"):
        "query-term relation: bounded by query size",
    (f"{PKG}/operators/search.py", "fuzzy_expand_terms", "oov"):
        "out-of-vocabulary QUERY terms: bounded by query size",
    (f"{PKG}/operators/search.py", "prefix_expand_terms", "wild"):
        "wildcard QUERY patterns: bounded by query size",
    (f"{PKG}/operators/search.py", "bm25f_topk",
     "stats_f.agg(F.avg('length').alias('__avgdl'))"):
        "1-row per-field avgdl aggregate",
    (f"{PKG}/operators/search.py", "bm25f_topk", "terms_df"):
        "query-term relation: bounded by query size",
    (f"{PKG}/operators/search.py", "bm25f_topk", "uterms"):
        "distinct query terms: bounded by query size",
    (f"{PKG}/operators/search.py", "bm25f_topk",
     "first_stats.agg(F.count('*').alias('__n'))"):
        "1-row corpus-N aggregate",
    (f"{PKG}/operators/search.py", "bm25f_topk", "dfq"):
        "per-field df FILTERED to query terms: bounded by query size",
    (f"{PKG}/operators/search.py", "more_like_this",
     "documents_info.agg(F.count('*').alias('__n'))"):
        "1-row corpus-N aggregate",
    (f"{PKG}/operators/search.py", "more_like_this",
     "term_document.filter(F.col('doc_id') == doc_id)"
     ".select('term', 'tf')"):
        "ONE document's term set: bounded by |doc| (r16 fix — the hint "
        "moved here OFF the vocabulary-sized document_frequency side)",
    (f"{PKG}/operators/search.py", "snippet_extract", "terms_df"):
        "query-term relation: bounded by query size",
    (f"{PKG}/operators/search.py", "snippet_extract",
     "doc_ids.select('doc_id')"):
        "top-k result doc ids: bounded by k",
    (f"{PKG}/operators/search.py", "facet_counts", "terms_df"):
        "query-term relation: bounded by query size",
    (f"{PKG}/operators/search.py", "bm25_page_after",
     "cursor.select(F.col('score').alias('__cs'), "
     "F.col('doc_id').alias('__cd'))"
     ".orderBy(F.asc('__cs'), F.desc('__cd')).limit(1)"):
        "1-row pagination cursor",
    (f"{PKG}/operators/search.py", "proximity_boosted_topk", "terms_df"):
        "query-term relation: bounded by query size",
    # --- operators/similarity.py ---
    (f"{PKG}/operators/similarity.py", "brute_force_topk", "q"):
        "query-vector relation: bounded by n_queries",
    (f"{PKG}/operators/similarity.py", "lsh_topk", "q"):
        "query-vector relation: bounded by n_queries",
    (f"{PKG}/operators/similarity.py", "_assign_nearest", "cdf"):
        "centroid relation: bounded by k",
    (f"{PKG}/operators/similarity.py", "ivf_topk_deterministic", "probes"):
        "probe lists: bounded by n_queries * nprobe",
    (f"{PKG}/operators/similarity.py", "tfidf_cosine_topk", "n"):
        "1-row corpus-N aggregate (df-ratio cut + weight join)",
    (f"{PKG}/operators/similarity.py", "tfidf_cosine_topk", "q"):
        "query-side weights: bounded by n_queries docs' terms",
    (f"{PKG}/operators/similarity.py", "tfidf_cosine_topk", "nq"):
        "per-query norms: bounded by n_queries",
    (f"{PKG}/operators/similarity.py", "pq_topk", "q"):
        "query-vector relation: bounded by n_queries",
    (f"{PKG}/operators/similarity.py", "ivfpq_score", "probes"):
        "probe lists: bounded by n_queries * nprobe",
    # --- operators/sketches.py ---
    (f"{PKG}/operators/sketches.py", "heavy_hitters_exact", "cand"):
        "sketch candidate set: bounded by k (Misra-Gries guarantee)",
    (f"{PKG}/operators/sketches.py", "heavy_hitters_exact", "total"):
        "1-row total-count aggregate",
}

# The size-gated helpers themselves: the only raw-broadcast code allowed
# outside the allowlist.
SANCTIONED_FILES = {f"{PKG}/hints.py"}


def broadcast_sites(root: str = PKG):
    """Yield (file, enclosing function, unparsed arg) for every literal
    ``F.broadcast(...)`` under root."""
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read())
            stack: list[str] = []
            sites: list[tuple[str, str, str]] = []

            class V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    fx = node.func
                    if (isinstance(fx, ast.Attribute)
                            and fx.attr == "broadcast"
                            and isinstance(fx.value, ast.Name)
                            and fx.value.id == "F"):
                        arg = (ast.unparse(node.args[0])
                               if node.args else "?")
                        sites.append(
                            (path, stack[-1] if stack else "<module>", arg))
                    self.generic_visit(node)

            V().visit(tree)
            yield from sites


def run(root: str = PKG) -> list[str]:
    """Return a list of violation strings (empty = clean)."""
    problems = []
    seen = set()
    for site in broadcast_sites(root):
        path, func, arg = site
        if path in SANCTIONED_FILES:
            continue
        if site in ALLOWLIST:
            seen.add(site)
            continue
        problems.append(
            f"UNJUSTIFIED F.broadcast in {path}::{func}({arg[:80]}) — "
            "either the input is bounded by definition (add an allowlist "
            "entry with the justification) or it scales with the corpus "
            "(route it through hints.broadcast_if_small / "
            "broadcast_if_source_small)")
    for site in ALLOWLIST:
        if site not in seen:
            problems.append(
                f"STALE allowlist entry (no matching site): {site}")
    return problems


def main() -> int:
    problems = run()
    for p in problems:
        print(p)
    print(f"broadcast lint: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.path.insert(0, ".")
    sys.exit(main())
