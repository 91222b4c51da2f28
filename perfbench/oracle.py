"""Output checks: a DuckDB BM25 replay of the search results, and recall
of the injected near-duplicate pairs.

The BM25 replay follows the oracle CTE chain the repository's plan tests
use (tokens → postings → df → doc stats → scored → ranked), with the
reference formula: idf = ln(max(1, N / max(1, df))), k1 = 1.0, b = 0.75,
scores rounded to 6 digits, ties broken by doc_id.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from gen import cosine, jaccard

_BM25_SQL = r"""
WITH docs AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           list_filter(string_split_regex(
               regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               t -> t <> '') AS toks
    FROM read_parquet($paths)
),
tokens AS (SELECT doc_id, unnest(toks) AS term FROM docs),
postings AS (
    SELECT term, doc_id, count(*) AS tf FROM tokens
    WHERE term IN (SELECT term FROM qterms)
    GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
stats AS (SELECT doc_id, len(toks) AS length FROM docs),
consts AS (SELECT count(*) AS n, avg(length) AS avgdl FROM stats),
scored AS (
    SELECT q.query_id, p.doc_id,
           round(sum(ln(greatest(1.0, c.n / greatest(1, d.df)))
                     * (p.tf * 2.0)
                     / (p.tf + 1.0 * (0.25 + 0.75 * s.length / c.avgdl))), 6)
               AS score
    FROM postings p
    JOIN qterms q USING (term)
    JOIN dfreq d USING (term)
    JOIN stats s USING (doc_id)
    CROSS JOIN consts c
    GROUP BY q.query_id, p.doc_id)
SELECT query_id, doc_id, score FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored)
WHERE rank <= $k
ORDER BY query_id, rank
"""


def bm25_topk(paths: list[str], queries: list[str], k: int = 10) -> list[list]:
    """Top-k [(doc_id, score), ...] per query over the documents in
    ``paths``.  Query terms are whitespace-separated lowercase words."""
    qterms = pa.table({
        "query_id": pa.array([i for i, q in enumerate(queries)
                              for _ in q.split()], pa.int64()),
        "term": pa.array([t for q in queries for t in q.split()], pa.string()),
    })
    con = duckdb.connect()
    try:
        con.register("qterms", qterms)
        rows = con.execute(_BM25_SQL, {"paths": paths, "k": k}).fetchall()
    finally:
        con.close()
    out: list[list] = [[] for _ in queries]
    for qid, doc_id, score in rows:
        out[qid].append((doc_id, float(score)))
    return out


def same_topk(got: list, want: list, tol: float = 1e-5) -> bool:
    """Equal ranked lists of (doc_id, score).  Scores may differ by float
    summation order; two docs may swap only where their scores tie."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return False
        if gd != wd and not any(d == gd and abs(s - gs) <= tol
                                for d, s in want):
            return False
    return True


def pair_recall(found: set, truth: set) -> float:
    return len(found & truth) / len(truth) if truth else 1.0


def check_text_pairs(rows, tokens_by_id: dict, threshold: float) -> int:
    """Number of reported (doc_a, doc_b, jaccard) rows that are wrong: not
    a canonical pair, a Jaccard that differs from the exact token-set
    value, or one below the threshold."""
    bad = 0
    for a, b, j in rows:
        a, b = int(a), int(b)
        exact = jaccard(tokens_by_id[a], tokens_by_id[b])
        if a >= b or abs(exact - j) > 1e-6 or exact < threshold - 1e-9:
            bad += 1
    return bad


def check_vector_pairs(rows, vec_by_id: dict, threshold: float) -> int:
    """Number of reported (vec_a, vec_b, cos_sim) rows that are wrong."""
    bad = 0
    for a, b, c in rows:
        exact = cosine(vec_by_id[int(a)], vec_by_id[int(b)])
        if int(a) >= int(b) or abs(exact - c) > 1e-5 or c < threshold:
            bad += 1
    return bad
