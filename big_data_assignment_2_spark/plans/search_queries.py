"""Search-engine family: the reference's entire pipeline as declared queries
(SURVEY.md §2.3, §2.5, §3) with DuckDB oracle twins.

Oracle tokenizer note: the Spark tokenizer uses ``(?U)[^\\w\\s]`` for
Python-``\\w`` Unicode parity (SURVEY.md §7.5).  DuckDB's RE2 ``\\w`` is
ASCII-only; the harness corpus is pure ``[a-z0-9 ]`` (verified), where the
two agree exactly, so the oracles use plain ``\\w``.  The Unicode divergence
is covered JVM-side by tests/test_index_invariants.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.index import (build_postings, doc_freq, doc_stats,
                               tokenize_positions)
from ..operators.search import search_documents
from ..sources.io import load_table

# A query over the synthetic corpus vocabulary (TESTDATA.md documents table).
FLAGSHIP_QUERY = "vector query stream fast join"

# Shared oracle CTEs: tokenize → positions (0-based, document order).
# ``docs_where`` filters the corpus (the tombstone-delete oracle replays
# BM25 over the full corpus minus the deleted docs).
def _tokens_cte(docs_where: str = "") -> str:
    return r"""
docs AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           list_filter(
               string_split_regex(
                   regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+'),
               t -> t <> '') AS toks
    FROM documents """ + docs_where + r"""
),
tokens AS (
    SELECT doc_id,
           unnest(toks) AS term,
           CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS position
    FROM docs
)
"""


_TOKENS_CTE = _tokens_cte()


def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: positional token stream."""
    return tokenize_positions(load_table(spark, sf_dir, "documents")) \
        .select("doc_id", "term", "position")


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: inverted index postings (term, doc_id, tf, positions).

    Positions are rendered ``array_join(positions, ',')`` — the reference's
    own storage format (`app/mapreduce/reducer1.py:7`) — because the
    external driver's pandas canonicalizer cannot hash array columns.  The
    array-typed operator itself is covered by tests/test_index_invariants.
    """
    toks = tokenize_positions(load_table(spark, sf_dir, "documents"))
    from pyspark.sql import functions as F
    return build_postings(toks).select(
        "term", "doc_id", "tf",
        F.array_join("positions", ",").alias("positions"))


def q_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: document frequency per term."""
    toks = tokenize_positions(load_table(spark, sf_dir, "documents"))
    return doc_freq(build_postings(toks))


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-document token count."""
    return doc_stats(load_table(spark, sf_dir, "documents"))


def q_boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive boolean retrieval (every query term must appear) — the
    classic unranked retrieval mode beside BM25.  Distinct (doc, term)
    pairs filtered to the query terms, one hash-agg per doc, kept when
    all terms hit; same broadcast-friendly shape as the BM25 probe."""
    from pyspark.sql import functions as F

    from ..functions.text import tokenize_query

    terms = tokenize_query(FLAGSHIP_QUERY)
    toks = tokenize_positions(load_table(spark, sf_dir, "documents"))
    pairs = (toks.filter(F.col("term").isin(terms))
             .select("doc_id", "term").distinct())
    return (pairs.groupBy("doc_id")
            .agg(F.countDistinct("term").alias("n_terms"))
            .filter(F.col("n_terms") == len(terms)))


def q_boolean_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive boolean retrieval with NOT-exclusion: docs matching ANY
    query term but NONE of the excluded terms, scored by matched-term
    breadth — completes the unranked retrieval modes (AND / OR / NOT)
    beside BM25.  The exclusion is a left-anti join on doc_id against the
    excluded-term postings — the scale-safe NOT (never a full-corpus
    NOT-IN subquery)."""
    from pyspark.sql import functions as F

    include = ["vector", "query", "stream"]
    exclude = ["slow"]
    toks = tokenize_positions(load_table(spark, sf_dir, "documents"))
    hits = (toks.filter(F.col("term").isin(include))
            .select("doc_id", "term").distinct())
    banned = toks.filter(F.col("term").isin(exclude)).select("doc_id")
    return (hits.join(banned, "doc_id", "left_anti")
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("n_terms")))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 end-to-end: BM25 top-10 for the flagship query."""
    docs = load_table(spark, sf_dir, "documents")
    return search_documents(spark, docs, FLAGSHIP_QUERY, k=10)


def q_bm25_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index MAINTENANCE end-to-end (r11 — the search-index
    lifecycle completed, mirroring the ANN index's append row): build the
    persisted index from 3/4 of the corpus, APPEND the remaining quarter
    as a day's ingest batch (``persist.append_to_index`` — postings land
    in the same term-bucket partitions, df becomes an append-only
    per-batch log summed at probe time, doc stats plain-append and the
    batch's (n, total_length) row joins the corpus_stats log, so N and
    avgdl follow the corpus), then probe the flagship query.  The result
    must equal BM25 over the FULL corpus — the search_bm25_topk oracle
    applies verbatim, so a green row certifies that appending a batch is
    indistinguishable from rebuilding, which is what makes daily index
    maintenance a partition append instead of a full-corpus job."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.persist import (append_to_index, bm25_probe_persisted,
                                     write_index)
    from ..operators.index import build_index
    from ..sources.io import cleanup_stale_scratch

    docs = load_table(spark, sf_dir, "documents")
    nid = F.col("doc_id").cast("bigint")
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    ixdir = os.path.join(scratch, f"ix_append_{os.getpid()}")
    cleanup_stale_scratch(scratch, "ix_append_*", keep=ixdir)
    write_index(build_index(docs.filter((nid % 4) != 0),
                        term_buckets=16), ixdir)
    append_to_index(docs.filter((nid % 4) == 0), ixdir)
    return bm25_probe_persisted(spark, ixdir, FLAGSHIP_QUERY, k=10)


def q_phrase_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-store append certified THROUGH a positional
    consumer: build the index from 3/4 of the corpus, APPEND the
    remaining quarter (``append_to_index``), read it back through
    ``read_index``, and run the phrase query.  BM25 probes can't certify
    the appended positions (scoring never reads them), so this row is the
    one that would flip if a batch's positions were written wrong: the
    in-flight search_phrase_match oracle applies verbatim because the
    final corpus is the full document set."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.index import build_index
    from ..operators.persist import (append_to_index, read_index,
                                     write_index)
    from ..operators.search import phrase_match
    from ..sources.io import cleanup_stale_scratch

    docs = load_table(spark, sf_dir, "documents")
    nid = F.col("doc_id").cast("bigint")
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    ixdir = os.path.join(scratch, f"ix_appphrase_{os.getpid()}")
    cleanup_stale_scratch(scratch, "ix_appphrase_*", keep=ixdir)
    write_index(build_index(docs.filter((nid % 4) != 0),
                        term_buckets=16), ixdir)
    append_to_index(docs.filter((nid % 4) == 0), ixdir)
    return phrase_match(read_index(spark, ixdir)["term_document"], PHRASE)


IX_DELETE_MOD, IX_DELETE_REM = 7, 3   # doc_id % 7 == 3 plays the takedowns


def q_bm25_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index TOMBSTONE deletes (r12 — the takedown/GDPR path
    completing the THIRD persisted index's lifecycle, after the
    fingerprint store and IVF+PQ grew theirs in r10/r11): build the
    persisted index on the full corpus, tombstone doc_id % {mod} ==
    {rem} (persist.delete_from_index — an append-only log, no
    read-modify-write), then probe the flagship query.  The probe must
    serve results as if the deleted docs were never indexed: postings
    masked, the deleted docs' count and lengths subtracted from the
    corpus stats (N and avgdl follow), and — the genuinely
    non-trivial part — each probed term's df reduced by the deleted
    docs that contained it, the correction derived from the
    bucket-pruned postings scan the probe already does.  The oracle is
    the full BM25 replay over the corpus MINUS the deleted docs, so a
    green row certifies delete-then-probe ≡ rebuild-without-docs;
    physical removal at compaction is pinned by
    tests/test_index_tombstones.py."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.index import build_index
    from ..operators.persist import (bm25_probe_persisted, delete_from_index,
                                     write_index)
    from ..sources.io import cleanup_stale_scratch

    docs = load_table(spark, sf_dir, "documents")
    nid = F.col("doc_id").cast("bigint")
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    ixdir = os.path.join(scratch, f"ix_delete_{os.getpid()}")
    cleanup_stale_scratch(scratch, "ix_delete_*", keep=ixdir)
    write_index(build_index(docs, term_buckets=16), ixdir)
    delete_from_index(
        spark, ixdir,
        docs.filter((nid % IX_DELETE_MOD) == IX_DELETE_REM).select("doc_id"))
    return bm25_probe_persisted(spark, ixdir, FLAGSHIP_QUERY, k=10)


q_bm25_delete_probe.__doc__ = q_bm25_delete_probe.__doc__.format(
    mod=IX_DELETE_MOD, rem=IX_DELETE_REM)


def q_bm25_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION certified through the driver gate (r12): build → delete
    → ``persist.compact_index`` (physical rewrite: postings/stats minus
    the deleted docs, df log collapsed with the per-term correction,
    tombstone log dropped) → probe.  Compaction must be result-invariant
    over the masked probe, so the SAME corpus-minus-deleted oracle as
    ``search_bm25_delete_probe`` applies — a green row certifies the
    physical rewrite produced exactly the smaller corpus's index, with
    the probe now running with NO tombstone branch in its plan (the
    serving state a maintenance window leaves behind)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.index import build_index
    from ..operators.persist import (bm25_probe_persisted, compact_index,
                                     delete_from_index, write_index)
    from ..sources.io import cleanup_stale_scratch

    docs = load_table(spark, sf_dir, "documents")
    nid = F.col("doc_id").cast("bigint")
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    ixdir = os.path.join(scratch, f"ix_compact_{os.getpid()}")
    cleanup_stale_scratch(scratch, "ix_compact_*", keep=ixdir)
    write_index(build_index(docs, term_buckets=16), ixdir)
    delete_from_index(
        spark, ixdir,
        docs.filter((nid % IX_DELETE_MOD) == IX_DELETE_REM).select("doc_id"))
    compact_index(spark, ixdir)
    return bm25_probe_persisted(spark, ixdir, FLAGSHIP_QUERY, k=10)


BATCH_QUERIES = {
    "q_vec": "vector query stream",
    "q_join": "join merge hash",
    "q_tbl": "table column row data",
}
PHRASE = ["data", "line"]


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query BM25: 3 queries scored in one plan, top-5 each."""
    from ..functions.text import tokenize_query
    from ..operators.index import build_query_index
    from ..operators.search import bm25_topk_batch

    # r17: index scoped to the UNION of the batch queries' terms
    # (see q_proximity — identical results for every scored term).
    batch_terms = [t for q in BATCH_QUERIES.values()
                   for t in tokenize_query(q)]
    ix = build_query_index(load_table(spark, sf_dir, "documents"),
                           batch_terms)
    return bm25_topk_batch(spark, BATCH_QUERIES, ix["term_document"],
                           ix["document_frequency"], ix["documents_info"], k=5)


def q_bm25_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED probe of the PERSISTED index (r13, VERDICT r12 #4): one
    bucket-pruned postings scan serves all {n} batch queries, composed
    with tombstone masking — the index is built on the full corpus,
    doc_id % {mod} == {rem} is deleted, and the batch probe must equal
    per-query BM25 over the corpus that never contained those docs.
    The oracle is the batched replay over the shrunk corpus, so a green
    row certifies scan-amortization AND the per-term df subtraction at
    batch grain in one shot."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.index import build_index
    from ..operators.persist import (bm25_probe_persisted_batch,
                                     delete_from_index, write_index)
    from ..sources.io import cleanup_stale_scratch

    docs = load_table(spark, sf_dir, "documents")
    nid = F.col("doc_id").cast("bigint")
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    ixdir = os.path.join(scratch, f"ix_batchprobe_{os.getpid()}")
    cleanup_stale_scratch(scratch, "ix_batchprobe_*", keep=ixdir)
    write_index(build_index(docs, term_buckets=16), ixdir)
    delete_from_index(
        spark, ixdir,
        docs.filter((nid % IX_DELETE_MOD) == IX_DELETE_REM).select("doc_id"))
    return bm25_probe_persisted_batch(spark, ixdir, BATCH_QUERIES, k=5)


q_bm25_batch_probe.__doc__ = q_bm25_batch_probe.__doc__.format(
    n=len(BATCH_QUERIES), mod=IX_DELETE_MOD, rem=IX_DELETE_REM)


# BM25F fielded scoring (r14, VERDICT r13 #6).  The harness documents
# table has no separate title column, so the fields are DERIVED
# deterministically: title = the first TITLE_LEN tokens, body = the rest
# — the split a pipeline without explicit titles actually uses (lead
# text ≈ headline).  Title hits weigh 2× a body hit of the same
# normalized strength.
TITLE_LEN = 8
BM25F_WEIGHTS = {"title": 2.0, "body": 1.0}


def q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fielded BM25F top-10 (operators.search.bm25f_topk): per-field
    length-normalized tf, weighted-summed before ONE saturation
    (Robertson's simple BM25F), idf over any-field df.  The fielded
    index comes from ONE tokenize pass (`index.build_fielded_index` —
    position < TITLE_LEN is the derived title; measured r14: cold
    8.5 s → 3.9 s at sf0.1 vs the old per-field re-tokenize, output
    identical)."""
    from ..operators.index import build_fielded_index
    from ..operators.search import bm25f_topk

    docs = load_table(spark, sf_dir, "documents")
    fields = build_fielded_index(docs, TITLE_LEN)
    return bm25f_topk(spark, FLAGSHIP_QUERY, fields, BM25F_WEIGHTS, k=10)


# Fuzzy expansion (r14, VERDICT r13 #7): two misspellings with exactly
# one edit-distance-1 vocabulary neighbor each ("vektor"→vector,
# "fastt"→fast), one in-vocabulary term scored exactly ("join"), and one
# hopeless term with NO neighbor ("zzzz" — must contribute nothing).
FUZZY_QUERY = "vektor fastt join zzzz"


def q_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 with Levenshtein-1 expansion of out-of-vocabulary
    query terms (operators.search.bm25_fuzzy_topk).  The edit-distance
    join is query-terms × VOCABULARY (the df table), never × postings."""
    from ..operators.index import build_index
    from ..operators.search import bm25_fuzzy_topk

    ix = build_index(load_table(spark, sf_dir, "documents"))
    return bm25_fuzzy_topk(spark, FUZZY_QUERY, ix["term_document"],
                           ix["document_frequency"], ix["documents_info"],
                           k=10)


PREFIX_QUERY = "vec* merge"


def q_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 with trailing-wildcard expansion
    (operators.search.bm25_prefix_topk — Lucene's PrefixQuery rewrite):
    'vec*' expands to every vocabulary term starting with 'vec', scored
    as ordinary query terms beside the plain term.  The pattern join is
    wildcards × VOCABULARY (the df table), never × postings."""
    from ..operators.index import build_index
    from ..operators.search import bm25_prefix_topk

    ix = build_index(load_table(spark, sf_dir, "documents"))
    return bm25_prefix_topk(spark, PREFIX_QUERY, ix["term_document"],
                            ix["document_frequency"], ix["documents_info"],
                            k=10)


# Hybrid retrieval (r14): BM25 and dense-vector lists fused by
# reciprocal-rank fusion — the production shape for "semantic + lexical"
# search.  The corpus embedding for doc d is embeddings.vec_id = d (the
# partially-embedded case is exercised at sf0.1, where only ids < 2000
# of 5000 docs have vectors — missing docs just lack that list's
# contribution).  The dense query is vec_id 0's embedding.
FUSE_K = 20    # depth of each retriever's list entering the fusion
RRF_K = 60     # the standard RRF damping constant (Cormack et al. 2009)
HYBRID_QVEC = 0


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF hybrid retrieval: BM25 top-{FUSE_K} for the flagship query +
    exact cosine top-{FUSE_K} around query vector {HYBRID_QVEC}, fused by
    1/(60+rank) sums (operators.search.rrf_fuse)."""
    from pyspark.sql import functions as F

    from ..functions.text import tokenize_query
    from ..operators.index import build_query_index
    from ..operators.search import bm25_topk, rrf_fuse
    from ..operators.similarity import brute_force_topk

    docs = load_table(spark, sf_dir, "documents")
    em = load_table(spark, sf_dir, "embeddings")
    # r17: query-scoped in-flight index (see q_proximity).
    ix = build_query_index(docs, tokenize_query(FLAGSHIP_QUERY))
    bm = bm25_topk(spark, FLAGSHIP_QUERY, ix["term_document"],
                   ix["document_frequency"], ix["documents_info"], k=FUSE_K)
    # ranks over the already-top-K (TakeOrderedAndProject) relation: the
    # window runs on <= FUSE_K rows, never the corpus
    from pyspark.sql import Window
    bm_rank = bm.withColumn(
        "rank", F.row_number().over(
            Window.orderBy(F.desc("score"), F.asc("doc_id")))) \
        .select("doc_id", "rank")
    qdf = em.filter(F.col("vec_id") == HYBRID_QVEC) \
        .selectExpr("vec_id AS query_id", "embedding")
    vec_rank = brute_force_topk(em, qdf, k=FUSE_K) \
        .select(F.col("neighbor_id").cast("string").alias("doc_id"), "rank")
    return rrf_fuse([bm_rank, vec_rank], k_rrf=RRF_K, k=10)


# "More like this" (r14): the Lucene-MLT shape — a source document's
# top-weight terms become the query.  Doc 7 is arbitrary-but-fixed and
# exists at every harness sf (ids are dense from 0).
MLT_DOC = "7"
MLT_TERMS = 5


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-document retrieval (operators.search.more_like_this): doc
    {MLT_DOC}'s top-{MLT_TERMS} tf·idf terms (6-dp rounded, ties by
    term) queried as BM25 over the corpus minus the source doc."""
    from ..operators.index import build_index
    from ..operators.search import more_like_this

    ix = build_index(load_table(spark, sf_dir, "documents"))
    return more_like_this(spark, MLT_DOC, ix["term_document"],
                          ix["document_frequency"], ix["documents_info"],
                          n_terms=MLT_TERMS, k=10)


SNIPPET_WINDOW = 10


def q_snippet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positions-based snippets for the flagship query's top-10 page
    (operators.search.snippet_extract): the {SNIPPET_WINDOW}-token window
    with the most query-term hits per returned doc, rendered from the
    document text — the serving feature the reference's stored positions
    lists (`reducer1.py:7`) exist for but its query path never built."""
    from ..functions.text import tokenize_query
    from ..operators.index import build_query_index
    from ..operators.search import bm25_topk, snippet_extract

    docs = load_table(spark, sf_dir, "documents")
    # r17: query-scoped in-flight index (see q_proximity).
    ix = build_query_index(docs, tokenize_query(FLAGSHIP_QUERY))
    page = bm25_topk(spark, FLAGSHIP_QUERY, ix["term_document"],
                     ix["document_frequency"], ix["documents_info"], k=10) \
        .select("doc_id")
    return snippet_extract(ix["term_document"], docs, page,
                           tokenize_query(FLAGSHIP_QUERY),
                           window=SNIPPET_WINDOW)


def q_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted navigation beside the ranked list: per facet dimension
    (lang, source), how many docs in the flagship query's MATCH SET carry
    each value — one grouping-sets aggregation over the matched-doc
    metadata join (single shuffle for all dimensions)."""
    from ..functions.text import tokenize_query
    from ..operators.index import build_query_index
    from ..operators.search import facet_counts

    docs = load_table(spark, sf_dir, "documents")
    # r17: query-scoped in-flight index (see q_proximity).
    ix = build_query_index(docs, tokenize_query(FLAGSHIP_QUERY))
    return facet_counts(ix["term_document"], docs,
                        tokenize_query(FLAGSHIP_QUERY), ["lang", "source"])


def q_page_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination (`search_after`): page TWO of the flagship query
    as a strictly-after-cursor predicate on the scored relation — the
    O(page) serving pattern, never OFFSET (which re-ranks and discards
    every earlier page per request).  The cursor here is derived in-plan
    as page one's last row; in serving it arrives from the client."""
    from pyspark.sql import functions as F

    from ..functions.text import tokenize_query
    from ..operators.index import build_query_index
    from ..operators.search import bm25_page_after, bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    # r17: query-scoped in-flight index (see q_proximity).
    ix = build_query_index(docs, tokenize_query(FLAGSHIP_QUERY))
    args = (ix["term_document"], ix["document_frequency"], ix["documents_info"])
    page1 = bm25_topk(spark, FLAGSHIP_QUERY, *args, k=10)
    cursor = page1.orderBy(F.asc("score"), F.desc("doc_id")).limit(1)
    return bm25_page_after(spark, FLAGSHIP_QUERY, *args, cursor, k=10)


def q_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity-boosted BM25 over the stored positions arrays: docs where
    distinct query terms appear close together outrank bag-of-words
    matches — min pairwise term gap computed in-row from the postings
    (no token explode), blended as score·(1 + 1/(1+min_dist))."""
    from ..functions.text import tokenize_query
    from ..operators.index import build_query_index
    from ..operators.search import proximity_boosted_topk

    docs = load_table(spark, sf_dir, "documents")
    # r17: in-flight index scoped to the (plan-literal) query terms —
    # the postings/df shuffles carry query-term rows only; identical
    # results (the scoring joins filter to these terms anyway).
    ix = build_query_index(docs, tokenize_query(FLAGSHIP_QUERY))
    return proximity_boosted_topk(spark, FLAGSHIP_QUERY, ix["term_document"],
                                  ix["document_frequency"],
                                  ix["documents_info"], k=10)


def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline ranker evaluation (operators.search.eval_rankings —
    trec_eval's two headline numbers as distributed relational math):
    nDCG@10 and AP@10 of the plain-BM25 page against graded qrels derived
    from the BM25F fielded ranking (grade = 11 − fielded rank) — the
    ranker-migration A/B question ("how far is the old ranker from the
    new one's ordering") asked offline, deterministically."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.index import build_index
    from ..operators.search import bm25_topk, eval_rankings

    docs = load_table(spark, sf_dir, "documents")
    ix = build_index(docs)
    page = bm25_topk(spark, FLAGSHIP_QUERY, ix["term_document"],
                     ix["document_frequency"], ix["documents_info"], k=10)
    # query_id joins in as a 1-row RELATION, not a lit(): a literal
    # partition key constant-folds away and every per-query window in the
    # metric math degrades to an unpartitioned WindowExec (the
    # single-partition warning); a scan-sourced column keeps them
    # partitioned for the general multi-query case this row stands for.
    from ..functions.localrel import inline_rows
    qid = F.broadcast(inline_rows(spark, [("q1",)], "query_id string"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    run = (page.crossJoin(qid)
           .withColumn("rank", F.row_number().over(w))
           .select("query_id", "doc_id", "rank"))
    qrels = (q_bm25f_topk(spark, sf_dir).crossJoin(qid)
             .withColumn("grade", F.lit(11) - F.row_number().over(w))
             .select("query_id", "doc_id", "grade"))
    return eval_rankings(run, qrels, k=10)


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search over the postings arrays."""
    from ..operators.index import build_index
    from ..operators.search import phrase_match

    ix = build_index(load_table(spark, sf_dir, "documents"))
    return phrase_match(ix["term_document"], PHRASE)


def q_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance proven by oracle: build the index on
    80% of the corpus, fold the other 20% in with merge_index (pure
    unions + a full-outer df merge — |delta| work, not |corpus|), and
    return the merged document-frequency table.  The oracle computes df
    over the FULL corpus, so a green row means merge ≡ rebuild."""
    from ..operators.index import build_index, merge_index

    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import functions as F
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    merged = merge_index(build_index(base), delta)
    return merged["document_frequency"]


QUERIES = {
    "search_eval_ndcg": q_eval_ndcg,
    "search_facets": q_facets,
    "search_page_after": q_page_after,
    "search_proximity": q_proximity,
    "search_bm25f_topk": q_bm25f_topk,
    "search_fuzzy_topk": q_fuzzy_topk,
    "search_prefix_topk": q_prefix_topk,
    "search_hybrid_rrf": q_hybrid_rrf,
    "search_snippet": q_snippet,
    "search_more_like_this": q_more_like_this,
    "search_bm25_delete_probe": q_bm25_delete_probe,
    "search_bm25_compact_probe": q_bm25_compact_probe,
    "search_boolean_and": q_boolean_and,
    "search_boolean_or_not": q_boolean_or,
    "search_index_merge": q_index_merge,
    "search_bm25_batch": q_bm25_batch,
    "search_bm25_batch_probe": q_bm25_batch_probe,
    "search_phrase_match": q_phrase_match,
    "search_tokenize": q_tokenize,
    "search_postings": q_postings,
    "search_doc_freq": q_doc_freq,
    "search_doc_stats": q_doc_stats,
    "search_bm25_topk": q_bm25_topk,
    "search_bm25_append_probe": q_bm25_append_probe,
    "search_phrase_append": q_phrase_append,
}

def _phrase_oracle(terms: list[str]) -> str:
    ctes, joins = [], []
    inter = "p0.p0"
    for i, t in enumerate(terms):
        ctes.append(
            f"p{i} AS (SELECT doc_id, list(position - {i} ORDER BY position) "
            f"AS p{i} FROM tokens WHERE term = '{t}' GROUP BY doc_id)")
        if i > 0:
            joins.append(f"JOIN p{i} ON p{i}.doc_id = p0.doc_id")
            inter = f"list_intersect({inter}, p{i}.p{i})"
    return f"""
WITH {_TOKENS_CTE},
{', '.join(ctes)}
SELECT p0.doc_id, CAST(len({inter}) AS INTEGER) AS n_occurrences
FROM p0 {' '.join(joins)}
WHERE len({inter}) > 0
"""


_QTERMS_VALUES = ", ".join(
    f"('{qid}', '{t}')"
    for qid, q in BATCH_QUERIES.items() for t in q.split())


def _batch_sql(docs_where: str = "") -> str:
    """Batched BM25 replay (3 queries, top-5 each); ``docs_where``
    shrinks the corpus for the tombstone-delete batch-probe replay."""
    return f"""
WITH {_tokens_cte(docs_where)},
postings AS (
    SELECT term, doc_id, count(*) AS tf FROM tokens GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
stats AS (SELECT doc_id, len(toks) AS length FROM docs),
consts AS (SELECT count(*) AS n, avg(length) AS avgdl FROM stats),
qterms AS (SELECT * FROM (VALUES {_QTERMS_VALUES}) AS t(query_id, term)),
scored AS (
    SELECT q.query_id, p.doc_id,
           round(sum( ln(greatest(1.0, c.n / greatest(1, d.df)))
                * (p.tf * 2.0)
                / (p.tf + 1.0 * (0.25 + 0.75 * s.length / c.avgdl)) ), 6)
               AS score
    FROM postings p
    JOIN qterms q USING (term)
    JOIN dfreq d USING (term)
    JOIN stats s USING (doc_id)
    CROSS JOIN consts c
    WHERE d.df > 0
    GROUP BY q.query_id, p.doc_id)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
WHERE rank <= 5
"""


_BATCH_SQL = _batch_sql()

ORACLES = {
    "search_boolean_and": f"""
WITH {_TOKENS_CTE}
SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS n_terms
FROM tokens WHERE term IN ('vector', 'query', 'stream', 'fast', 'join')
GROUP BY doc_id
HAVING count(DISTINCT term) = 5
""",
    "search_boolean_or_not": f"""
WITH {_TOKENS_CTE}
SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS n_terms
FROM tokens
WHERE term IN ('vector', 'query', 'stream')
  AND doc_id NOT IN (SELECT doc_id FROM tokens WHERE term = 'slow')
GROUP BY doc_id
""",
    # full-corpus df — identical to search_doc_freq: merge must ≡ rebuild
    "search_index_merge": f"""
WITH {_TOKENS_CTE}
SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term
""",
    "search_bm25_batch": _BATCH_SQL,
    "search_phrase_match": _phrase_oracle(PHRASE),
    "search_tokenize": f"WITH {_TOKENS_CTE} SELECT doc_id, term, position FROM tokens",
    "search_postings": f"""
WITH {_TOKENS_CTE}
SELECT term, doc_id, CAST(count(*) AS INTEGER) AS tf,
       array_to_string(list(position ORDER BY position), ',') AS positions
FROM tokens GROUP BY term, doc_id
""",
    "search_doc_freq": f"""
WITH {_TOKENS_CTE}
SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term
""",
    "search_doc_stats": f"""
WITH {_TOKENS_CTE}
SELECT doc_id, CAST(len(toks) AS INTEGER) AS length FROM docs
""",
}


def _bm25_scored_ctes(docs_where: str = "") -> str:
    """The shared BM25 CTE chain ending in ``scored`` (doc_id, raw score)
    — the common prefix of the top-k, keyset-pagination, and
    proximity-boost oracles."""
    return f"""{_tokens_cte(docs_where)},
postings AS (
    SELECT term, doc_id, count(*) AS tf FROM tokens GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
stats AS (SELECT doc_id, len(toks) AS length FROM docs),
consts AS (SELECT count(*) AS n, avg(length) AS avgdl FROM stats),
qterms AS (
    SELECT unnest(string_split('{FLAGSHIP_QUERY}', ' ')) AS term
),
scored AS (
    SELECT p.doc_id,
           sum( ln(greatest(1.0, c.n / greatest(1, d.df)))
                * (p.tf * 2.0)
                / (p.tf + 1.0 * (1.0 - 0.75 + 0.75 * s.length / c.avgdl)) )
               AS score
    FROM postings p
    JOIN qterms q USING (term)
    JOIN dfreq d USING (term)
    JOIN stats s USING (doc_id)
    CROSS JOIN consts c
    WHERE d.df > 0
    GROUP BY p.doc_id
)"""


def _bm25_sql(docs_where: str = "") -> str:
    """Exact reference BM25 (idf=ln(max(1,N/max(1,df))), k1=1.0, b=0.75,
    true-double avgdl; `app/query.py:145,169-188`), ties by doc_id on the
    6-dp-rounded score — mirrors operators/search.py exactly.
    ``docs_where`` shrinks the corpus for the tombstone-delete replay."""
    return f"""
WITH {_bm25_scored_ctes(docs_where)}
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY round(score, 6) DESC, doc_id ASC
LIMIT 10
"""


ORACLES["search_bm25_topk"] = _bm25_sql()

# Facets: distinct matched docs (>=1 query term) joined to metadata, one
# GROUPING SETS aggregation for all dimensions — mirrors facet_counts.
ORACLES["search_facets"] = f"""
WITH {_TOKENS_CTE},
qterms AS (SELECT unnest(string_split('{FLAGSHIP_QUERY}', ' ')) AS term),
matched AS (SELECT DISTINCT doc_id FROM tokens JOIN qterms USING (term)),
m AS (SELECT d.lang, d.source
      FROM matched x JOIN documents d ON CAST(d.doc_id AS VARCHAR) = x.doc_id)
SELECT CASE WHEN GROUPING(lang) = 0 THEN 'lang' ELSE 'source' END AS facet,
       coalesce(lang, source) AS value, count(*) AS n_docs
FROM m GROUP BY GROUPING SETS ((lang), (source))
"""

# Keyset pagination: under the deterministic total order
# (score DESC, doc_id ASC), the strictly-after-cursor predicate with the
# rank-10 cursor is exactly ranks 11..20 — the ANSI twin.
ORACLES["search_page_after"] = f"""
WITH {_bm25_scored_ctes()},
r AS (SELECT doc_id, round(score, 6) AS score,
             row_number() OVER (ORDER BY round(score, 6) DESC, doc_id ASC) AS rn
      FROM scored)
SELECT doc_id, score FROM r WHERE rn BETWEEN 11 AND 20
"""

# Proximity boost: min pairwise gap between occurrences of two DIFFERENT
# query terms (token-level join twin of the in-row array-distance matrix),
# blended into the shared scored relation.
ORACLES["search_proximity"] = f"""
WITH {_bm25_scored_ctes()},
prox AS (
  SELECT a.doc_id, min(abs(a.position - b.position)) AS min_dist
  FROM tokens a JOIN qterms qa ON a.term = qa.term
       JOIN tokens b ON b.doc_id = a.doc_id
       JOIN qterms qb ON b.term = qb.term
  WHERE a.term < b.term
  GROUP BY a.doc_id)
SELECT doc_id, score, min_dist, boosted FROM (
  SELECT s.doc_id, round(s.score, 6) AS score, p.min_dist,
         round(round(s.score, 6)
               * (CASE WHEN p.min_dist IS NULL THEN 1.0
                       ELSE 1.0 + 1.0 / (1.0 + p.min_dist) END), 6) AS boosted
  FROM scored s LEFT JOIN prox p ON p.doc_id = s.doc_id)
ORDER BY boosted DESC, doc_id ASC
LIMIT 10
"""

# BM25F: replay the derived title/body split (first TITLE_LEN tokens /
# rest) and Robertson's simple-BM25F formula — weighted per-field
# normalized tf summed BEFORE the single saturation; idf over any-field
# df; identical expression shapes/order to operators/search.bm25f_topk
# so the 6-dp-rounded scores hash-match.
ORACLES["search_bm25f_topk"] = f"""
WITH {_TOKENS_CTE},
fdocs AS (
    SELECT doc_id, toks[1:{TITLE_LEN}] AS ttoks,
           toks[{TITLE_LEN + 1}:] AS btoks
    FROM docs
),
ttokens AS (SELECT doc_id, unnest(ttoks) AS term FROM fdocs),
btokens AS (SELECT doc_id, unnest(btoks) AS term FROM fdocs),
tpost AS (SELECT term, doc_id, count(*) AS tf FROM ttokens GROUP BY ALL),
bpost AS (SELECT term, doc_id, count(*) AS tf FROM btokens GROUP BY ALL),
tstats AS (SELECT doc_id, len(ttoks) AS length FROM fdocs),
bstats AS (SELECT doc_id, len(btoks) AS length FROM fdocs),
tavg AS (SELECT avg(length) AS avgdl FROM tstats),
bavg AS (SELECT avg(length) AS avgdl FROM bstats),
nrel AS (SELECT count(*) AS n FROM fdocs),
qterms AS (SELECT unnest(string_split('{FLAGSHIP_QUERY}', ' ')) AS term),
contrib AS (
    SELECT p.term, p.doc_id,
           {BM25F_WEIGHTS['title']} * p.tf
               / (0.25 + 0.75 * s.length / a.avgdl) AS c
    FROM tpost p JOIN qterms q USING (term)
    JOIN tstats s USING (doc_id) CROSS JOIN tavg a
    UNION ALL
    SELECT p.term, p.doc_id,
           {BM25F_WEIGHTS['body']} * p.tf
               / (0.25 + 0.75 * s.length / a.avgdl) AS c
    FROM bpost p JOIN qterms q USING (term)
    JOIN bstats s USING (doc_id) CROSS JOIN bavg a
),
tfw AS (SELECT term, doc_id, sum(c) AS tfw FROM contrib GROUP BY ALL),
pairs AS (
    SELECT DISTINCT term, doc_id FROM (
        SELECT p.term, p.doc_id FROM tpost p JOIN qterms USING (term)
        UNION ALL
        SELECT p.term, p.doc_id FROM bpost p JOIN qterms USING (term))
),
dfq AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
scored AS (
    SELECT t.doc_id,
           sum( ln(greatest(1.0, c.n / greatest(1, d.df)))
                * t.tfw / (1.0 + t.tfw) ) AS score
    FROM tfw t JOIN dfq d USING (term) CROSS JOIN nrel c
    GROUP BY t.doc_id)
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY round(score, 6) DESC, doc_id ASC
LIMIT 10
"""

# Hybrid RRF: the bm25 replay ranked to FUSE_K + the exact-cosine replay
# (same expression as sim_ann_bruteforce's oracle) ranked to FUSE_K,
# fused by 1/(RRF_K + rank) sums over the lists each doc appears in.
from .similarity_queries import _COS, _VECS  # noqa: E402  (shared macros)

ORACLES["search_hybrid_rrf"] = f"""
WITH {_TOKENS_CTE},
postings AS (
    SELECT term, doc_id, count(*) AS tf FROM tokens GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
stats AS (SELECT doc_id, len(toks) AS length FROM docs),
consts AS (SELECT count(*) AS n, avg(length) AS avgdl FROM stats),
qterms AS (
    SELECT unnest(string_split('{FLAGSHIP_QUERY}', ' ')) AS term
),
bmscore AS (
    SELECT p.doc_id,
           round(sum( ln(greatest(1.0, c.n / greatest(1, d.df)))
                * (p.tf * 2.0)
                / (p.tf + 1.0 * (1.0 - 0.75 + 0.75 * s.length / c.avgdl)) ),
                 6) AS score
    FROM postings p
    JOIN qterms q USING (term)
    JOIN dfreq d USING (term)
    JOIN stats s USING (doc_id)
    CROSS JOIN consts c
    WHERE d.df > 0
    GROUP BY p.doc_id
),
bmrank AS (
    SELECT doc_id, rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        FROM bmscore)
    WHERE rank <= {FUSE_K}
),
{_VECS},
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id = {HYBRID_QVEC}),
vscored AS (
    SELECT b.vec_id AS neighbor_id, round({_COS}, 6) AS cos_sim
    FROM q a JOIN vecs b ON b.vec_id != a.query_id),
vrank AS (
    SELECT CAST(neighbor_id AS VARCHAR) AS doc_id, rank FROM (
        SELECT neighbor_id,
               row_number() OVER (ORDER BY cos_sim DESC, neighbor_id ASC)
                   AS rank
        FROM vscored)
    WHERE rank <= {FUSE_K}
),
contrib AS (
    SELECT doc_id, 1.0 / ({RRF_K} + rank) AS c FROM bmrank
    UNION ALL
    SELECT doc_id, 1.0 / ({RRF_K} + rank) AS c FROM vrank
)
SELECT doc_id, round(sum(c), 6) AS rrf_score,
       CAST(count(*) AS INTEGER) AS n_lists
FROM contrib
GROUP BY doc_id
ORDER BY round(sum(c), 6) DESC, doc_id ASC
LIMIT 10
"""

# Snippet: best SNIPPET_WINDOW-token window per top-10 doc — candidate
# windows start at a hit (self-join bounded by hits-per-doc), max hits
# then smallest start, rendered by list slicing.
ORACLES["search_snippet"] = f"""
WITH {_TOKENS_CTE},
postings AS (
    SELECT term, doc_id, count(*) AS tf FROM tokens GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
stats AS (SELECT doc_id, len(toks) AS length FROM docs),
consts AS (SELECT count(*) AS n, avg(length) AS avgdl FROM stats),
qterms AS (
    SELECT unnest(string_split('{FLAGSHIP_QUERY}', ' ')) AS term
),
bmscore AS (
    SELECT p.doc_id,
           round(sum( ln(greatest(1.0, c.n / greatest(1, d.df)))
                * (p.tf * 2.0)
                / (p.tf + 1.0 * (1.0 - 0.75 + 0.75 * s.length / c.avgdl)) ),
                 6) AS score
    FROM postings p
    JOIN qterms q USING (term)
    JOIN dfreq d USING (term)
    JOIN stats s USING (doc_id)
    CROSS JOIN consts c
    WHERE d.df > 0
    GROUP BY p.doc_id
),
page AS (
    SELECT doc_id FROM bmscore
    ORDER BY score DESC, doc_id ASC LIMIT 10
),
hits AS (
    SELECT DISTINCT t.doc_id, t.position
    FROM tokens t JOIN qterms USING (term) JOIN page USING (doc_id)
),
win AS (
    SELECT a.doc_id, a.position AS s, count(*) AS n
    FROM hits a JOIN hits b
      ON b.doc_id = a.doc_id
     AND b.position >= a.position
     AND b.position < a.position + {SNIPPET_WINDOW}
    GROUP BY a.doc_id, a.position
),
best AS (
    SELECT doc_id, s, n FROM (
        SELECT doc_id, s, n,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n DESC, s ASC) AS rn
        FROM win)
    WHERE rn = 1
)
SELECT b.doc_id, CAST(b.s AS INTEGER) AS snippet_start,
       CAST(b.n AS INTEGER) AS n_hits,
       array_to_string(d.toks[b.s + 1 : b.s + {SNIPPET_WINDOW}], ' ')
           AS snippet
FROM best b JOIN docs d USING (doc_id)
"""

# More-like-this: the source doc's top tf·idf terms (6-dp rounded,
# ties by term — mirroring the operator's selection exactly) feed the
# plain BM25 replay; the source doc is excluded from results.
ORACLES["search_more_like_this"] = f"""
WITH {_TOKENS_CTE},
postings AS (
    SELECT term, doc_id, count(*) AS tf FROM tokens GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
stats AS (SELECT doc_id, len(toks) AS length FROM docs),
consts AS (SELECT count(*) AS n, avg(length) AS avgdl FROM stats),
qterms AS (
    SELECT term FROM (
        SELECT p.term,
               round(p.tf * ln(greatest(1.0, c.n / greatest(1, d.df))), 6)
                   AS w
        FROM postings p JOIN dfreq d USING (term) CROSS JOIN consts c
        WHERE p.doc_id = '{MLT_DOC}')
    ORDER BY w DESC, term ASC LIMIT {MLT_TERMS}
),
scored AS (
    SELECT p.doc_id,
           sum( ln(greatest(1.0, c.n / greatest(1, d.df)))
                * (p.tf * 2.0)
                / (p.tf + 1.0 * (1.0 - 0.75 + 0.75 * s.length / c.avgdl)) )
               AS score
    FROM postings p
    JOIN qterms q USING (term)
    JOIN dfreq d USING (term)
    JOIN stats s USING (doc_id)
    CROSS JOIN consts c
    WHERE d.df > 0
    GROUP BY p.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM scored
WHERE doc_id <> '{MLT_DOC}'
ORDER BY round(score, 6) DESC, doc_id ASC
LIMIT 10
"""

# Fuzzy expansion: in-vocabulary query terms pass through; OOV terms
# expand to vocabulary terms within Levenshtein 1 (DuckDB's levenshtein
# is the same classic edit distance as Spark's); then plain BM25.
ORACLES["search_fuzzy_topk"] = f"""
WITH {_TOKENS_CTE},
postings AS (
    SELECT term, doc_id, count(*) AS tf FROM tokens GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
stats AS (SELECT doc_id, len(toks) AS length FROM docs),
consts AS (SELECT count(*) AS n, avg(length) AS avgdl FROM stats),
rawq AS (SELECT unnest(string_split('{FUZZY_QUERY}', ' ')) AS qterm),
qterms AS (
    SELECT qterm AS term FROM rawq
    WHERE qterm IN (SELECT term FROM dfreq)
    UNION ALL
    SELECT v.term FROM dfreq v
    JOIN (SELECT qterm FROM rawq
          WHERE qterm NOT IN (SELECT term FROM dfreq)) o
      ON levenshtein(v.term, o.qterm) <= 1
),
scored AS (
    SELECT p.doc_id,
           sum( ln(greatest(1.0, c.n / greatest(1, d.df)))
                * (p.tf * 2.0)
                / (p.tf + 1.0 * (1.0 - 0.75 + 0.75 * s.length / c.avgdl)) )
               AS score
    FROM postings p
    JOIN qterms q USING (term)
    JOIN dfreq d USING (term)
    JOIN stats s USING (doc_id)
    CROSS JOIN consts c
    WHERE d.df > 0
    GROUP BY p.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY round(score, 6) DESC, doc_id ASC
LIMIT 10
"""

ORACLES["search_prefix_topk"] = f"""
WITH {_TOKENS_CTE},
postings AS (
    SELECT term, doc_id, count(*) AS tf FROM tokens GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
stats AS (SELECT doc_id, len(toks) AS length FROM docs),
consts AS (SELECT count(*) AS n, avg(length) AS avgdl FROM stats),
qterms AS (
    SELECT v.term FROM dfreq v WHERE v.term LIKE 'vec%'
    UNION ALL
    SELECT 'merge' AS term
),
scored AS (
    SELECT p.doc_id,
           sum( ln(greatest(1.0, c.n / greatest(1, d.df)))
                * (p.tf * 2.0)
                / (p.tf + 1.0 * (1.0 - 0.75 + 0.75 * s.length / c.avgdl)) )
               AS score
    FROM postings p
    JOIN qterms q USING (term)
    JOIN dfreq d USING (term)
    JOIN stats s USING (doc_id)
    CROSS JOIN consts c
    WHERE d.df > 0
    GROUP BY p.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM scored
ORDER BY round(score, 6) DESC, doc_id ASC
LIMIT 10
"""

# Deleting docs from the persisted index then probing must equal BM25 over
# the corpus that never contained them — postings/stats masking plus the
# per-term df subtraction reconstruct exactly the smaller corpus's index.
ORACLES["search_bm25_delete_probe"] = _bm25_sql(
    f"WHERE CAST(doc_id AS BIGINT) % {IX_DELETE_MOD} <> {IX_DELETE_REM}")

# Compaction is result-invariant over the masked probe: same oracle, with
# the green row certifying the PHYSICAL rewrite (tombstone-free plan).
ORACLES["search_bm25_compact_probe"] = ORACLES["search_bm25_delete_probe"]

# Batched probe after tombstone deletes: the batched replay over the
# corpus minus the deleted docs — one green row certifies the
# scan-amortized serving path AND the df correction at batch grain.
ORACLES["search_bm25_batch_probe"] = _batch_sql(
    f"WHERE CAST(doc_id AS BIGINT) % {IX_DELETE_MOD} <> {IX_DELETE_REM}")

# Appending a batch to the persisted index must be indistinguishable from
# indexing the full corpus — the full-corpus BM25 oracle applies verbatim;
# the green row's information is that the partition append + df-log sum +
# stats append reconstruct the exact index state.
ORACLES["search_bm25_append_probe"] = ORACLES["search_bm25_topk"]
# write + append + read back == the in-flight full-corpus index, so the
# plain phrase oracle applies.
ORACLES["search_phrase_append"] = ORACLES["search_phrase_match"]


# Offline ranker eval: nDCG@10 / AP@10 of plain BM25 vs BM25F-graded
# qrels — both retrievers replayed by their existing oracle statements
# (DuckDB allows WITH inside a derived table), metric math in SQL.
ORACLES["search_eval_ndcg"] = f"""
WITH run AS (
  SELECT 'q1' AS query_id, doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM ({ORACLES["search_bm25_topk"]})),
qrels AS (
  SELECT 'q1' AS query_id, doc_id,
         11 - row_number() OVER (ORDER BY score DESC, doc_id ASC) AS grade
  FROM ({ORACLES["search_bm25f_topk"]})),
hit AS (
  SELECT r.query_id, r.rank, coalesce(q.grade, 0) AS grade
  FROM run r LEFT JOIN qrels q
       ON q.query_id = r.query_id AND q.doc_id = r.doc_id),
dcg AS (
  SELECT query_id,
         sum((pow(2.0, grade) - 1.0) / (ln(rank + 1.0) / ln(2.0))) AS d
  FROM hit GROUP BY 1),
ideal AS (
  SELECT query_id,
         sum((pow(2.0, grade) - 1.0) / (ln(ipos + 1.0) / ln(2.0))) AS i
  FROM (SELECT query_id, grade,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY grade DESC, doc_id ASC) AS ipos
        FROM qrels)
  WHERE ipos <= 10 GROUP BY 1),
prec AS (
  SELECT query_id, sum(nrel_at * 1.0 / rank) AS ap_num
  FROM (SELECT query_id, rank, grade,
               sum(CASE WHEN grade >= 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY query_id ORDER BY rank) AS nrel_at
        FROM hit)
  WHERE grade >= 1 GROUP BY 1),
nrel AS (
  SELECT query_id, least(count(*), 10) AS nr
  FROM qrels WHERE grade >= 1 GROUP BY 1)
SELECT b.query_id,
       round(CASE WHEN i.i > 0 THEN d.d / i.i ELSE 0 END, 6) AS ndcg,
       round(CASE WHEN n.nr > 0 THEN coalesce(p.ap_num, 0) / n.nr
             ELSE 0 END, 6) AS ap
FROM (SELECT DISTINCT query_id FROM run) b
LEFT JOIN dcg d USING (query_id) LEFT JOIN ideal i USING (query_id)
LEFT JOIN nrel n USING (query_id) LEFT JOIN prec p USING (query_id)
"""
