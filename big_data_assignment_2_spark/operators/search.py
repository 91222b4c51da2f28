"""BM25 search (SURVEY.md §3 E3, §2.4 J1-J3, §2.6 T1).

The reference's query path is driver-side Python: per-term Cassandra point
reads (`app/query.py:97-139`), a Python scoring loop (`:182-190`), and one
RDD ``reduceByKey`` (`:193-194`).  Here a query over an IN-FLIGHT index
(``bm25_topk`` and friends) is ONE Catalyst plan:

    query terms ⋈ postings ⋈ doc_freq ⋈ doc_stats
      → BM25 expr → groupBy(doc).sum → TakeOrderedAndProject(k)

A probe of a PERSISTED index (``persist.bm25_probe_persisted``) runs in
two steps instead, each a handful of Spark jobs:

1. stats collect — one driver query for N, avgdl and the probed terms'
   df (the reference's point reads, `query.py:63-80, 114-139`);
2. scoring plan — bucket-pruned postings (each carrying its document's
   length) → BM25 expr over those literals (:func:`bm25_literal_score`)
   → groupBy(doc).sum → TakeOrderedAndProject(k).

No state is cached between calls: the store may change between probes
(``append_to_index``, ``delete_from_index``), so every call re-reads it.

Scale notes (100 TB):
- The query-term relation is a handful of rows → ``broadcast()`` it so the
  postings probe is a broadcast hash join: each postings partition is scanned
  once, no shuffle of the (huge) postings side.  This is the distributed
  equivalent of the reference's single-partition Cassandra reads
  (`query.py:114-118`).
- ``doc_freq`` joins on ``term`` *after* the term filter → only |q| rows
  survive; Catalyst pushes the semi-join down.
- ``orderBy().limit(k)`` plans as TakeOrderedAndProject — per-partition
  top-k then a k-row merge on the driver; no global sort (same early-exit
  trick as the reference's ``takeOrdered``, `query.py:247`).
- Ties broken by doc_id: the reference's tie order is partition-dependent
  (SURVEY.md §7.5); deterministic here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import inline_rows, json_literal
from ..functions.scoring import B_DEFAULT, K1_DEFAULT, bm25_term_score, idf_plain
from ..functions.text import tokenize, tokenize_query


def collection_stats(documents_info: DataFrame) -> tuple[int, float]:
    """A4+A5 (`app/query.py:63-80`): N and true-double avgdl in one pass
    (the reference issues two Cassandra aggregate queries and gets a
    truncated int average — SURVEY.md §7.5)."""
    row = documents_info.agg(
        F.count("*").alias("n"), F.avg("length").alias("avgdl")
    ).first()
    return int(row["n"]), float(row["avgdl"] or 0.0)


def bm25_scores(spark: SparkSession, query: str, term_document: DataFrame,
                document_frequency: DataFrame, documents_info: DataFrame,
                k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> DataFrame:
    """Score every candidate doc for ``query``; returns (doc_id, score).

    Distinct query terms (the reference iterates a Python ``set``-free list
    but scores each term once per occurrence only implicitly — it loops
    `query.py:161` over tokens; duplicated query terms would double-count
    there too, so we keep duplicates, matching `query.py:161-175`).
    """
    terms = tokenize_query(query)
    if not terms:
        return term_document.sparkSession.createDataFrame([], "doc_id string, score double")
    terms_df = inline_rows(spark, [(t,) for t in terms], "term string")
    # Plan notes (live in _bm25_scores_from_terms): A4+A5 as a broadcast
    # 1-row relation (one job, no pre-pass); J1 broadcasts the tiny term
    # relation against postings and df; J2's inner join on doc length
    # doubles as the metadata-existence predicate P8 (`query.py:183`);
    # A6 (`query.py:193-194`) sums partial scores per doc.
    return _bm25_scores_from_terms(terms_df, term_document,
                                   document_frequency, documents_info, k1, b)


def bm25_topk(spark: SparkSession, query: str, term_document: DataFrame,
              document_frequency: DataFrame, documents_info: DataFrame,
              k: int = 10, k1: float = K1_DEFAULT, b: float = B_DEFAULT,
              round_to: int | None = 6) -> DataFrame:
    """T1 (`query.py:247`): top-k by score, deterministic tie-break.

    Scores rounded (default 6 dp) so Spark/DuckDB float summation-order
    differences can't flip the hash compare (SURVEY.md §7.5); ordering uses
    the rounded score so the k-boundary is deterministic too.
    """
    scores = bm25_scores(spark, query, term_document, document_frequency,
                         documents_info, k1, b)
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk_batch(spark: SparkSession, queries: dict[str, str],
                    term_document: DataFrame, document_frequency: DataFrame,
                    documents_info: DataFrame, k: int = 10,
                    k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> DataFrame:
    """Batched BM25: score MANY queries in ONE plan — the throughput path.

    The query-term relation carries a query_id; the postings probe, df
    attach, scoring, and per-query top-k (window row_number) all amortize
    into a single pass over the index instead of |Q| sequential jobs.
    Returns (query_id, doc_id, score, rank).
    """
    rows = [(qid, t) for qid, q in queries.items() for t in tokenize_query(q)]
    if not rows:
        return spark.createDataFrame(
            [], "query_id string, doc_id string, score double, rank int")
    terms_df = inline_rows(spark, rows, "query_id string, term string")
    return _sum_rank_per_query(
        _bm25_term_rows(terms_df, term_document, document_frequency,
                        documents_info, k1, b), F.col("term_score"), k)


def rank_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of a (query_id, doc_id, score) relation by
    (score desc, doc_id asc), numbered in a ``rank`` column (window
    row_number — one partition per query, never a global sort)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _sum_rank_per_query(scored: DataFrame, term_score: Column,
                        k: int) -> DataFrame:
    """The batch probes' tail (:func:`bm25_topk_batch`,
    ``persist.bm25_probe_persisted_batch``): ``term_score`` summed per
    (query_id, doc_id), rounded to 6 dp, and :func:`rank_per_query`.
    Hash-partitioning on query_id ONCE, before the sum, satisfies both
    the sum's and the window's distribution: one exchange, not two."""
    return rank_per_query(
        scored.repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("score")), k)


def _term_lookup(values: dict) -> Column:
    """``values[term]`` for the row's ``term``, as ONE literal map lookup."""
    return json_literal(dict(sorted(values.items())),
                        "map<string,bigint>")[F.col("term")]


def bm25_literal_score(n: int, avgdl: float, df: dict[str, int],
                       weight: dict[str, int] | None = None) -> Column:
    """Per-(term, doc) BM25 partial score of a row's ``term``, ``tf`` and
    ``length`` with the corpus statistics as LITERALS — N, avgdl and a
    term→df map collected by the caller (the persisted probe's stats
    step).  The same :func:`bm25_term_score`/:func:`idf_plain`
    expressions as the in-plan path, so the same values.  ``weight``
    multiplies each term's score by its multiplicity in the query (the
    in-plan path joins one query-term row per occurrence instead)."""
    score = bm25_term_score(F.col("tf"), idf_plain(_term_lookup(df), n),
                            F.col("length"), avgdl)
    return score if weight is None else score * _term_lookup(weight)


def _bm25_scores_from_terms(terms_df: DataFrame, term_document: DataFrame,
                            document_frequency: DataFrame,
                            documents_info: DataFrame, k1: float,
                            b: float) -> DataFrame:
    """BM25 scoring against an ALREADY-MATERIALIZED query-term relation
    (term string, one row per scoring occurrence) — the shared core of
    :func:`bm25_scores` and :func:`bm25_fuzzy_topk`.  Same plan as the
    module docstring: broadcast terms ⋈ postings ⋈ df ⋈ stats → BM25
    expr → per-doc sum."""
    return (_bm25_term_rows(terms_df, term_document, document_frequency,
                            documents_info, k1, b)
            .groupBy("doc_id").agg(F.sum("term_score").alias("score")))


def _bm25_term_rows(terms_df: DataFrame, term_document: DataFrame,
                    document_frequency: DataFrame, documents_info: DataFrame,
                    k1: float, b: float) -> DataFrame:
    """One row per (query-term row, doc) with its BM25 ``term_score``:
    broadcast terms ⋈ postings ⋈ df ⋈ doc lengths ⋈ stats.  ``terms_df``
    has a ``term`` column and may carry a ``query_id`` (batch path)."""
    stats = F.broadcast(documents_info.agg(
        F.count("*").alias("__n"), F.avg("length").alias("__avgdl")))
    return (
        term_document.join(F.broadcast(terms_df), "term")
        .join(F.broadcast(
            document_frequency.join(
                F.broadcast(terms_df.select("term").distinct()), "term")
            .filter(F.col("df") > 0)  # P7 (`query.py:165-167`)
        ), "term")
        .join(documents_info.select("doc_id", "length"), "doc_id")
        .crossJoin(stats)
        .withColumn("term_score", bm25_term_score(
            F.col("tf"), idf_plain(F.col("df"), F.col("__n")),
            F.col("length"), F.col("__avgdl"), k1, b)))


def fuzzy_expand_terms(terms_df: DataFrame, document_frequency: DataFrame,
                       max_dist: int = 1) -> DataFrame:
    """Fuzzy query-term expansion (r14, VERDICT r13 #7): query terms
    ABSENT from the index vocabulary expand to every vocabulary term
    within Levenshtein distance ``max_dist``; terms present in the
    vocabulary pass through unchanged (exact match is never diluted by
    its own neighbors).  Returns a (term string) relation ready for BM25
    scoring — one row per scoring occurrence, so an out-of-vocabulary
    term with two close neighbors contributes both, and a misspelling
    with no neighbor contributes nothing (same as a zero-df term).

    Scale shape (100 TB): the edit-distance join is the TINY query-term
    relation against the VOCABULARY relation (``document_frequency``,
    ~|vocab| rows — zipf-bounded, millions at web scale, never the
    postings).  With the OOV side broadcast it plans as a
    BroadcastNestedLoopJoin of |vocab| × |oov| — |oov| is a handful, so
    this is a single vocabulary scan per query batch; postings are only
    ever probed by the expanded (equi-join) terms."""
    vocab = document_frequency.select("term")
    exact = terms_df.join(vocab, "term", "left_semi")
    oov = terms_df.join(vocab, "term", "left_anti") \
        .withColumnRenamed("term", "__qterm")
    expanded = vocab.join(
        F.broadcast(oov),
        F.levenshtein(F.col("term"), F.col("__qterm")) <= max_dist) \
        .select("term")
    return exact.unionByName(expanded)


def bm25_fuzzy_topk(spark: SparkSession, query: str,
                    term_document: DataFrame,
                    document_frequency: DataFrame,
                    documents_info: DataFrame, k: int = 10,
                    max_dist: int = 1, k1: float = K1_DEFAULT,
                    b: float = B_DEFAULT,
                    round_to: int | None = 6) -> DataFrame:
    """BM25 top-k with fuzzy expansion of out-of-vocabulary query terms
    (:func:`fuzzy_expand_terms`) — the "did you mean" serving path: a
    misspelled term still retrieves via its edit-distance-1 vocabulary
    neighbors, scored as ordinary query terms (`query.py` has no such
    path; its unknown terms silently score nothing)."""
    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "doc_id string, score double")
    terms_df = inline_rows(spark, [(t,) for t in terms], "term string")
    eff = fuzzy_expand_terms(terms_df, document_frequency, max_dist)
    scores = _bm25_scores_from_terms(eff, term_document, document_frequency,
                                     documents_info, k1, b)
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def prefix_expand_terms(terms_df: DataFrame,
                        document_frequency: DataFrame) -> DataFrame:
    """Trailing-wildcard query-term expansion (r15) — Lucene's
    PrefixQuery rewrite: a query term ending in ``*`` expands to EVERY
    vocabulary term starting with its stem; plain terms pass through
    unchanged.  Same scale shape as :func:`fuzzy_expand_terms`: the
    pattern join is the tiny broadcast wildcard relation × the
    VOCABULARY relation (``document_frequency``, zipf-bounded — never
    the postings); the expanded terms then probe postings by ordinary
    equi-join.  One row per scoring occurrence (a term matched both
    exactly and via a wildcard contributes twice — the occurrence
    convention fuzzy expansion set)."""
    wild = (terms_df.filter(F.col("term").endswith("*"))
            .select(F.regexp_replace("term", r"\*+$", "").alias("__stem"))
            .filter(F.length("__stem") > 0))
    plain = terms_df.filter(~F.col("term").endswith("*"))
    expanded = (document_frequency.select("term")
                .join(F.broadcast(wild),
                      F.col("term").startswith(F.col("__stem")))
                .select("term"))
    return plain.unionByName(expanded)


def bm25_prefix_topk(spark: SparkSession, query: str,
                     term_document: DataFrame,
                     document_frequency: DataFrame,
                     documents_info: DataFrame, k: int = 10,
                     k1: float = K1_DEFAULT, b: float = B_DEFAULT,
                     round_to: int | None = 6) -> DataFrame:
    """BM25 top-k with trailing-wildcard expansion
    (:func:`prefix_expand_terms`) — the ``vec*`` serving path every
    search box grows.  The query is whitespace-split and lowercased
    (NOT run through the tokenizer, which would strip the ``*``);
    expanded terms score as ordinary query terms with their own df."""
    terms = [t.lower() for t in query.split() if t]
    if not terms:
        return spark.createDataFrame([], "doc_id string, score double")
    terms_df = inline_rows(spark, [(t,) for t in terms], "term string")
    eff = prefix_expand_terms(terms_df, document_frequency)
    scores = _bm25_scores_from_terms(eff, term_document, document_frequency,
                                     documents_info, k1, b)
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25f_topk(spark: SparkSession, query: str,
               fields: dict[str, dict[str, DataFrame]],
               weights: dict[str, float], k: int = 10,
               k1: float = K1_DEFAULT, b: float = B_DEFAULT,
               round_to: int | None = 6) -> DataFrame:
    """Fielded BM25F top-k (r14, VERDICT r13 #6 — the reference stores
    ``title`` in documents_info, `app/app.py:54-59`, but never scores
    it).  Robertson & Zaragoza's "simple BM25F": per-field length-
    normalized term frequencies are WEIGHTED and SUMMED before the
    single saturation, so a title hit is worth ``w_title`` body hits of
    the same normalized strength instead of being saturated separately:

        tf̃(t,d)  = Σ_f  w_f · tf_f / (1 - b + b · len_f(d)/avglen_f)
        score(d) = Σ_t  idf(t) · tf̃ / (k1 + tf̃)

    ``fields`` maps field name → {"term_document": (term, doc_id, tf),
    "documents_info": (doc_id, length)} — exactly what
    :func:`..operators.index.build_index` returns per field, so a
    fielded index is N plain index builds.  idf uses the reference's
    clamped form with df = docs containing the term in ANY field.

    Preconditions: every field's documents_info has one row per corpus
    doc (N is read from the first field's stats); weights keys == fields
    keys.

    Scale shape: per-field postings are probed by the broadcast query
    terms (equi-join), contributions union + one (term, doc) hash-agg;
    df is a second pass over the SAME query-pruned postings — never a
    corpus-wide pass; all singleton stats are broadcast 1-row relations.
    """
    if set(weights) != set(fields):
        raise ValueError(f"weights keys {sorted(weights)} != "
                         f"fields keys {sorted(fields)}")
    terms = tokenize_query(query)
    if not terms:
        return spark.createDataFrame([], "doc_id string, score double")
    terms_df = inline_rows(spark, [(t,) for t in terms], "term string")
    uterms = terms_df.distinct()

    contribs, pairs = [], []
    for fname, fd in fields.items():
        w = weights[fname]
        stats_f = fd["documents_info"].select("doc_id", "length")
        avg_f = F.broadcast(stats_f.agg(F.avg("length").alias("__avgdl")))
        hit = fd["term_document"].join(F.broadcast(terms_df), "term")
        contribs.append(
            hit.join(stats_f, "doc_id").crossJoin(avg_f)
            .select("term", "doc_id",
                    (F.lit(w) * F.col("tf")
                     / (F.lit(1.0 - b) + F.lit(b) * F.col("length")
                        / F.col("__avgdl"))).alias("__c")))
        pairs.append(fd["term_document"].join(F.broadcast(uterms), "term")
                     .select("term", "doc_id"))

    tfw = contribs[0]
    for c in contribs[1:]:
        tfw = tfw.unionByName(c)
    tfw = tfw.groupBy("term", "doc_id").agg(F.sum("__c").alias("__tfw"))

    any_field = pairs[0]
    for p in pairs[1:]:
        any_field = any_field.unionByName(p)
    dfq = any_field.distinct().groupBy("term") \
        .agg(F.count("*").alias("df"))

    first_stats = next(iter(fields.values()))["documents_info"]
    nrel = F.broadcast(first_stats.agg(F.count("*").alias("__n")))

    scored = (tfw.join(F.broadcast(dfq), "term").crossJoin(nrel)
              .withColumn("term_score",
                          idf_plain(F.col("df"), F.col("__n"))
                          * F.col("__tfw") / (F.lit(k1) + F.col("__tfw"))))
    scores = scored.groupBy("doc_id").agg(F.sum("term_score").alias("score"))
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def more_like_this(spark: SparkSession, doc_id: str,
                   term_document: DataFrame, document_frequency: DataFrame,
                   documents_info: DataFrame, n_terms: int = 5,
                   k: int = 10, k1: float = K1_DEFAULT,
                   b: float = B_DEFAULT,
                   round_to: int | None = 6) -> DataFrame:
    """"More like this" (the Lucene MoreLikeThis shape): the source doc's
    ``n_terms`` highest-weight terms — weight = tf · idf, 6-dp-rounded,
    ties by term — become a BM25 query over the rest of the corpus (the
    source doc itself is excluded from the results).  Returns
    (doc_id, score) top-k.

    Plan: term selection reads ONLY the source doc's postings row-group
    (an equi-filter on doc_id — with a doc-bucketed layout that is one
    partition), joins the |doc|-sized term set against df — the HINT is
    on the bounded |doc|-sized side (document_frequency is
    vocabulary-sized and must never be broadcast wholesale) — and the
    1-row N relation, and ranks via orderBy().limit(n_terms) —
    TakeOrderedAndProject, never a corpus sort.  Scoring then reuses the
    standard broadcast-terms BM25 plan."""
    nrel = F.broadcast(documents_info.agg(F.count("*").alias("__n")))
    src = (F.broadcast(term_document.filter(F.col("doc_id") == doc_id)
                       .select("term", "tf"))
           .join(document_frequency, "term")
           .crossJoin(nrel)
           .select("term",
                   F.round(F.col("tf")
                           * idf_plain(F.col("df"), F.col("__n")), 6)
                   .alias("__w"))
           .orderBy(F.desc("__w"), F.asc("term")).limit(n_terms)
           .select("term"))
    scores = _bm25_scores_from_terms(src, term_document,
                                     document_frequency, documents_info,
                                     k1, b) \
        .filter(F.col("doc_id") != doc_id)
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def rrf_fuse(lists: list[DataFrame], k_rrf: int = 60, k: int = 10,
             id_col: str = "doc_id", round_to: int | None = 6) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
    retrieval combiner: each input list is (id, rank) with rank starting
    at 1; fused score = Σ_lists 1/(k_rrf + rank), summed only over the
    lists the doc appears in (a doc missing from a list simply gets no
    contribution — no outer-join NULL arithmetic).  Returns the top-k
    (id, rrf_score, n_lists) by (score desc, id asc).

    Scale shape: a UNION of the (already top-K-truncated) lists plus one
    hash-agg on id — no N-way outer join, no full-corpus pass; at 100 TB
    the inputs are each retriever's serving output (tens of rows per
    query), so fusion is a driver-trivial operation that still composes
    per-query in one plan for batched serving."""
    contribs = [
        df.select(F.col(id_col),
                  (F.lit(1.0) / (F.lit(k_rrf) + F.col("rank")))
                  .alias("__c"))
        for df in lists
    ]
    u = contribs[0]
    for c in contribs[1:]:
        u = u.unionByName(c)
    fused = u.groupBy(id_col).agg(
        F.sum("__c").alias("rrf_score"),
        F.count("*").cast("int").alias("n_lists"))
    if round_to is not None:
        fused = fused.withColumn("rrf_score", F.round("rrf_score", round_to))
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)


def snippet_extract(term_document: DataFrame, docs: DataFrame,
                    doc_ids: DataFrame, query_terms: list[str],
                    window: int = 10, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Positions-based SNIPPET extraction — the other classic use of the
    positions lists the reference stores (`reducer1.py:7`) but never
    reads (phrase_match being the first): for each doc in ``doc_ids``,
    find the ``window``-token span holding the most query-term hits (the
    best window always starts AT a hit; ties → smallest start) and
    render it from the document text.  Returns
    (doc_id, snippet_start, n_hits, snippet).

    Plan: postings pruned by the broadcast term AND doc-id relations,
    positions re-exploded only for those (|page| × |q|) rows, one
    per-doc collect_list (bounded by hits-per-doc), then the best window
    is chosen INSIDE higher-order array functions — no per-candidate
    self-join, no UDF.  The final snippet render joins the page-sized
    doc-id set back to the corpus text."""
    spark = term_document.sparkSession
    terms_df = inline_rows(spark, [(t,) for t in set(query_terms)],
                                     "term string")
    hits = (term_document.join(F.broadcast(terms_df), "term")
            .join(F.broadcast(doc_ids.select("doc_id")), "doc_id")
            .select("doc_id", F.explode("positions").alias("p"))
            .distinct())
    ps = hits.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("p")).alias("__ps"))
    # candidate windows start at each hit; struct (n, -start) makes
    # array_max pick max-hits then min-start in one ordering
    cand = F.transform(
        F.col("__ps"),
        lambda s: F.struct(
            F.size(F.filter(F.col("__ps"),
                            lambda x: (x >= s) & (x < s + F.lit(window))))
            .alias("n"),
            (-s).alias("negstart")))
    best = ps.select("doc_id", F.array_max(cand).alias("__b")) \
        .select("doc_id",
                (-F.col("__b.negstart")).alias("snippet_start"),
                F.col("__b.n").alias("n_hits"))
    toks = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                       tokenize(text_col).alias("__toks"))
    return (best.join(toks, "doc_id")
            .select("doc_id", "snippet_start", "n_hits",
                    F.array_join(
                        F.slice("__toks", F.col("snippet_start") + 1,
                                window), " ").alias("snippet")))


def phrase_match(term_document: DataFrame, phrase_terms: list[str]) -> DataFrame:
    """Positional phrase search — the capability the reference's positions
    lists (D5, `reducer1.py:7`) enable but its query path never uses.

    For phrase [t0..tn-1], a doc matches at position p iff t_i occurs at
    p+i for all i.  With per-(term,doc) sorted position arrays this is an
    n-way broadcast-key join on doc_id plus an array-intersection of
    shifted position lists — no re-tokenization, no explode.
    Returns (doc_id, n_occurrences > 0).
    """
    if not phrase_terms:
        raise ValueError("empty phrase")
    base = (term_document.filter(F.col("term") == phrase_terms[0])
            .select("doc_id", F.col("positions").alias("__p")))
    for i, t in enumerate(phrase_terms[1:], start=1):
        nxt = (term_document.filter(F.col("term") == t)
               .select("doc_id",
                       F.transform("positions", lambda x: x - i).alias(f"__q{i}")))
        base = base.join(nxt, "doc_id") \
            .withColumn("__p", F.array_intersect("__p", f"__q{i}")) \
            .drop(f"__q{i}")
    return (base.select("doc_id", F.size("__p").alias("n_occurrences"))
            .filter(F.col("n_occurrences") > 0))


def search_documents(spark: SparkSession, docs: DataFrame, query: str,
                     k: int = 10, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """End-to-end: build the index lineage and run one query over it.
    For repeated queries, build the index once and reuse.

    r17: the in-flight index is QUERY-SCOPED (index.build_query_index) —
    the query terms are known plan literals here, so the postings/df
    aggregations shuffle only query-term rows; result-identical (the
    scoring joins filtered to exactly these terms anyway)."""
    from .index import build_query_index

    ix = build_query_index(docs, tokenize_query(query),
                           text_col=text_col, id_col=id_col)
    return bm25_topk(spark, query, ix["term_document"],
                     ix["document_frequency"], ix["documents_info"], k=k)


def facet_counts(term_document: DataFrame, documents: DataFrame,
                 query_terms: list[str],
                 facet_cols: list[str]) -> DataFrame:
    """Faceted navigation over the MATCH SET (every doc containing ≥1
    query term — not just the top-k page): per facet dimension, how many
    matching docs carry each value.  The search-UI sidebar every engine
    serves beside the ranked list (Solr/Elasticsearch `facets`/`aggs`).

    Shape: the match set is the broadcast-terms postings probe collapsed
    to distinct doc_ids; ONE grouping-sets aggregation then produces all
    facet dimensions in a single shuffle (no per-dimension re-scan of the
    match relation).  Returns (facet, value, n_docs).
    """
    spark = term_document.sparkSession
    terms_df = inline_rows(
        spark, [(t,) for t in dict.fromkeys(query_terms)], "term string")
    matched = (term_document.join(F.broadcast(terms_df), "term")
               .select("doc_id").distinct())
    m = matched.join(
        documents.select(F.col("doc_id").cast("string").alias("doc_id"),
                         *facet_cols), "doc_id")
    g = (m.groupingSets([[c] for c in facet_cols], *[F.col(c) for c in facet_cols])
         .agg(F.count("*").alias("n_docs"),
              # grouping() is only legal inside the grouping-sets agg list
              *[F.grouping(c).alias(f"__g_{c}") for c in facet_cols]))
    facet = None
    for c in facet_cols:
        cond = F.col(f"__g_{c}") == 0
        facet = (F.when(cond, F.lit(c)) if facet is None
                 else facet.when(cond, F.lit(c)))
    return g.select(facet.alias("facet"),
                    F.coalesce(*facet_cols).alias("value"), "n_docs")


def bm25_page_after(spark: SparkSession, query: str, term_document: DataFrame,
                    document_frequency: DataFrame, documents_info: DataFrame,
                    cursor: DataFrame, k: int = 10) -> DataFrame:
    """KEYSET pagination (`search_after`): the next page is every result
    STRICTLY AFTER the cursor in the total order (score DESC, doc_id ASC),
    evaluated as a predicate on the scored relation — never OFFSET, which
    at scale ranks and discards every earlier page on every request.

    ``cursor`` SHOULD be exactly one (score, doc_id) row — the client's
    last row; here the caller derives it in-plan.  A multi-row cursor
    (a buggy caller passing its whole page) is resolved DETERMINISTICALLY
    as "resume after that page": the row deepest in the total order —
    min score, then max doc_id — is taken (r16 advice: the previous bare
    ``limit(1)`` on an unordered relation picked an ARBITRARY row, so a
    buggy caller got a run-to-run-varying page instead of the documented
    predictable behavior).  An EMPTY cursor (e.g. built from an empty
    page one) still returns an empty page two, not page-one semantics
    (r14 advice: fail predictable, not surprising).  The predicate
    composes with TakeOrderedAndProject exactly like page one:
    per-partition top-k after the pushed-down filter, k-row driver
    merge.
    """
    scores = bm25_scores(spark, query, term_document, document_frequency,
                         documents_info).withColumn("score", F.round("score", 6))
    cur = F.broadcast(cursor.select(F.col("score").alias("__cs"),
                                    F.col("doc_id").alias("__cd"))
                      .orderBy(F.asc("__cs"), F.desc("__cd")).limit(1))
    return (scores.crossJoin(cur)
            .filter((F.col("score") < F.col("__cs"))
                    | ((F.col("score") == F.col("__cs"))
                       & (F.col("doc_id") > F.col("__cd"))))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def proximity_boosted_topk(spark: SparkSession, query: str,
                           term_document: DataFrame,
                           document_frequency: DataFrame,
                           documents_info: DataFrame, k: int = 10) -> DataFrame:
    """Proximity-boosted BM25: documents where distinct query terms occur
    CLOSE TOGETHER outrank bag-of-words matches — the second serving use
    of the stored positions arrays (after phrase_match/snippets).

    min_dist(doc) = the smallest gap between occurrences of two DIFFERENT
    query terms, computed IN-ROW from the postings' positions arrays —
    a LINEAR fold over the two merged (sorted) position lists, not a
    |a|×|b| distance matrix: the min gap between two sorted sequences
    is always achieved by an adjacent pair in their merge, so one
    O(|a|+|b|) pass tracking the last position seen from each side
    suffices (a matrix would materialize |a|·|b| elements in ONE row —
    quadratic in term frequency, an executor-OOM row for two terms that
    each occur thousands of times in a long document).  The pair
    relation is the per-doc self-join of the ≤|q| matched postings
    rows, so its size is bounded by |q|² per document.

    final = round(bm25 * (1 + 1/(1 + min_dist)), 6); single-term matches
    keep their BM25 score (no pair → boost 1).  Returns
    (doc_id, score, min_dist, boosted) top-k by (boosted DESC, doc_id).
    """
    from ..functions.text import tokenize_query

    terms = list(dict.fromkeys(tokenize_query(query)))
    terms_df = inline_rows(spark, [(t,) for t in terms], "term string")
    hits = (term_document.join(F.broadcast(terms_df), "term")
            .select("term", "doc_id", "positions"))
    a, b = hits.alias("a"), hits.alias("b")
    # Tag each side, merge-sort by position, then fold once: on an A
    # element the candidate gap is (pos - last B seen), and vice versa.
    # Sentinel -1 = "none seen yet"; best starts at a gap no document
    # can exceed (positions are int32).
    tagged = F.array_sort(F.concat(
        F.transform(F.col("a.positions"),
                    lambda x: F.struct(x.alias("p"),
                                       F.lit(0).alias("side"))),
        F.transform(F.col("b.positions"),
                    lambda y: F.struct(y.alias("p"),
                                       F.lit(1).alias("side")))))
    big = F.lit(2 ** 31 - 1)
    init = F.struct(F.lit(-1).alias("la"), F.lit(-1).alias("lb"),
                    big.alias("best"))
    merged_min = F.aggregate(
        tagged, init,
        lambda acc, s: F.struct(
            F.when(s["side"] == 0, s["p"]).otherwise(acc["la"]).alias("la"),
            F.when(s["side"] == 1, s["p"]).otherwise(acc["lb"]).alias("lb"),
            F.least(
                acc["best"],
                F.when((s["side"] == 0) & (acc["lb"] >= 0),
                       s["p"] - acc["lb"])
                .when((s["side"] == 1) & (acc["la"] >= 0),
                      s["p"] - acc["la"])
                .otherwise(acc["best"])).alias("best")),
        lambda acc: acc["best"])
    mind = (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                   & (F.col("a.term") < F.col("b.term")))
            .select(F.col("a.doc_id").alias("doc_id"),
                    merged_min.alias("__d"))
            .groupBy("doc_id").agg(F.min("__d").alias("min_dist")))
    scores = bm25_scores(spark, query, term_document, document_frequency,
                         documents_info).withColumn("score", F.round("score", 6))
    boost = F.when(F.col("min_dist").isNotNull(),
                   F.lit(1.0) + F.lit(1.0) / (F.lit(1.0) + F.col("min_dist"))) \
        .otherwise(F.lit(1.0))
    return (scores.join(mind, "doc_id", "left")
            .withColumn("boosted", F.round(F.col("score") * boost, 6))
            .select("doc_id", "score", "min_dist", "boosted")
            .orderBy(F.desc("boosted"), F.asc("doc_id")).limit(k))


def eval_rankings(run: DataFrame, qrels: DataFrame, k: int = 10) -> DataFrame:
    """IR evaluation harness: per-query nDCG@k and AP@k of a ranked run
    against graded qrels — the offline metric loop every search migration
    runs before switching rankers (trec_eval's two headline numbers).

    ``run``: (query_id, doc_id, rank) — any ranker's output, rank 1-based.
    ``qrels``: (query_id, doc_id, grade) — graded relevance, grade ≥ 1 for
    relevant (binary AP treats grade ≥ 1 as relevant).

    nDCG@k = Σ (2^grade − 1)/log2(pos+1) over the run's top-k, normalized
    by the ideal DCG from the qrels' own grade ordering (ties by doc_id,
    deterministic).  AP@k = mean over relevant retrieved positions of
    precision-at-that-position, divided by min(|relevant|, k).

    Shape: run⋈qrels is an equi-join on (query_id, doc_id); the ideal-DCG
    ranking is a per-query window over qrels — everything distributes, no
    driver math.  6-dp rounded so the SQL twin hash-matches."""
    from pyspark.sql import Window

    r = run.filter(F.col("rank") <= k)
    hit = (r.join(qrels, ["query_id", "doc_id"], "left")
           .withColumn("grade", F.coalesce("grade", F.lit(0))))
    # discount = ln(pos+1)/ln(2) (not F.log2): the ln-ratio is the exact
    # expression the DuckDB twin evaluates, and ln parity is already
    # established across engines by the BM25 idf oracles
    gain = (F.pow(F.lit(2.0), F.col("grade")) - 1.0) / \
        (F.log(F.col("rank").cast("double") + 1.0) / F.log(F.lit(2.0)))
    dcg = hit.groupBy("query_id").agg(F.sum(gain).alias("__dcg"))

    wq = Window.partitionBy("query_id").orderBy(
        F.desc("grade"), F.asc("doc_id"))
    ideal = (qrels.withColumn("__ipos", F.row_number().over(wq))
             .filter(F.col("__ipos") <= k)
             .groupBy("query_id")
             .agg(F.sum((F.pow(F.lit(2.0), F.col("grade")) - 1.0)
                        / (F.log(F.col("__ipos").cast("double") + 1.0)
                           / F.log(F.lit(2.0))))
                  .alias("__idcg")))

    wr = Window.partitionBy("query_id").orderBy("rank")
    rel = hit.withColumn("__isrel", (F.col("grade") >= 1).cast("int"))
    prec = (rel.withColumn("__nrel_at", F.sum("__isrel").over(wr))
            .filter(F.col("__isrel") == 1)
            .groupBy("query_id")
            .agg(F.sum(F.col("__nrel_at") / F.col("rank")).alias("__ap_num")))
    nrel = qrels.filter(F.col("grade") >= 1).groupBy("query_id") \
        .agg(F.least(F.count("*"), F.lit(k)).alias("__nrel"))

    # Every run query scores (r14 advice): a query with no qrels rows (or
    # none at grade >= 1) must report ndcg=0 / ap=0, not silently vanish
    # from the output under-reporting eval coverage — so the spine is the
    # run's distinct query_ids with LEFT joins, and the ratios guard
    # explicitly (no engine-dependent division-by-zero/NULL semantics).
    return (r.select("query_id").distinct()
            .join(dcg, "query_id", "left")
            .join(ideal, "query_id", "left")
            .join(nrel, "query_id", "left")
            .join(prec, "query_id", "left")
            .select("query_id",
                    F.round(F.when(F.col("__idcg") > 0,
                                   F.col("__dcg") / F.col("__idcg"))
                            .otherwise(0.0), 6).alias("ndcg"),
                    F.round(F.when(F.col("__nrel") > 0,
                                   F.coalesce(F.col("__ap_num"), F.lit(0.0))
                                   / F.col("__nrel"))
                            .otherwise(0.0), 6).alias("ap")))
