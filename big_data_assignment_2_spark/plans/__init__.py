"""Query registry: every implemented operator from SURVEY.md §2 (and the
extension surface) declared as a ``(spark, sf_dir) -> DataFrame`` callable
with a DuckDB ANSI-SQL oracle twin.

Each family module exposes ``QUERIES: dict[str, callable]`` and
``ORACLES: dict[str, str]``; :func:`all_queries` / :func:`all_oracles` merge
them for ``__spark_entry__``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _prioritized(_interleaved([m.QUERIES for m in _family_modules()]))


def all_oracles() -> dict[str, str]:
    return _prioritized(_interleaved([m.ORACLES for m in _family_modules()]))


def _family_modules():
    # Family list order: never-driver-verified families (round 1 gate cut)
    # lead; the proven search/relational/window families close the list.
    mods = []
    for name in ("dedup_queries", "similarity_queries", "text_queries",
                 "streaming_queries", "multimodal_queries", "source_queries",
                 "skew_queries", "events_queries", "graph_queries",
                 "sql_queries",
                 "search_queries", "relational_queries", "window_queries"):
        try:
            mods.append(__import__(f"{__name__}.{name}", fromlist=[name]))
        except ImportError:
            pass
    return mods


def _interleaved(dicts: list[dict]) -> dict:
    """Round-robin across the family dicts (intra-family order preserved):
    the external correctness driver walks queries() in dict order under a
    budget, so ANY prefix cut covers every family roughly evenly instead
    of silently dropping whole late families (the round-1 failure mode,
    where everything after position 50 got no correctness row)."""
    out: dict = {}
    iters = [iter(d.items()) for d in dicts]
    while iters:
        alive = []
        for it in iters:
            try:
                k, v = next(it)
            except StopIteration:
                continue
            out[k] = v
            alive.append(it)
        iters = alive
    return out


# Flagship heavies: keep a hard driver row for these fresh every round even
# when the rotation is busy clearing the never-verified backlog.
_FLAGSHIPS = ("search_bm25_topk", "dedup_minhash_near", "dedup_clusters",
              "sim_cosine_near_dups_banded", "rel_pricing_summary")


_LAST_GREEN_CACHE: dict | None = None


def _last_green_round() -> dict:
    """Per-query LAST round with a fully-green row (rows+schema+hash) in
    any committed CORRECTNESS_r*.json; absent key = never verified.  The
    external driver checks the FIRST 50 registry entries each round, so
    ordering never-verified first and then stalest-first rotates hard
    verification across the whole registry over rounds instead of
    re-checking the same prefix forever (round-5 VERDICT task #7: once
    every query has a green row somewhere, recency is the fair rotation
    key — the r1-only cohort gets re-certified before last round's).

    Memoized per interpreter (r14, VERDICT r13 watch item): the scan
    re-parses one JSON file per past round and was previously paid on
    EVERY ``queries()`` call; the files are committed round artifacts
    that never change within a process's lifetime."""
    global _LAST_GREEN_CACHE
    if _LAST_GREEN_CACHE is not None:
        return _LAST_GREEN_CACHE
    import json
    import re
    from pathlib import Path

    last: dict = {}
    root = Path(__file__).resolve().parents[2]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, r in rows.items():
            if isinstance(r, dict) and r.get("rows_match") \
                    and r.get("schema_match") and r.get("hash_match"):
                last[name] = max(rnd, last.get(name, 0))
    _LAST_GREEN_CACHE = last
    return last


def _prioritized(entries: dict) -> dict:
    """Registry order = flagships, then never-verified, then stalest
    first (ascending last-green round; ties keep the interleaved family
    order).  Flagships lead (not follow) the never-verified block so
    they stay inside the driver's 50-entry window even when the backlog
    alone would fill it (round-4 ADVICE)."""
    last = _last_green_round()
    head = {k: entries[k] for k in _FLAGSHIPS if k in entries}
    head.update({k: v for k, v in entries.items() if k not in last})
    pos = {k: i for i, k in enumerate(entries)}
    for k in sorted(entries, key=lambda k: (last.get(k, 0), pos[k])):
        head.setdefault(k, entries[k])
    return head
