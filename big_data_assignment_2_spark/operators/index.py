"""Inverted-index build (SURVEY.md §2.3 X1, §2.5 A1-A3).

The reference runs three sequential Hadoop Streaming jobs — tokenize+explode
(`mapper1.py`), TF+positions sort-agg (`reducer1.py`), document frequency
(`mapper2.py`/`reducer2.py`), doc stats (`mapper3.py`) — shuffling
tab-separated *text* between forked Python subprocesses (`app/index.sh:28-63`)
and batch-loading Cassandra (`app/app.py:121-250`).  Here the whole thing is
one declarative DataFrame lineage:

    documents → posexplode(tokenize) → groupBy agg ×2 (+ a map-side length)

Scale notes (100 TB):
- ``posexplode`` is a generator inside whole-stage codegen — no Python.
- A1 groups by (term, doc_id): high-cardinality, well-distributed key →
  hash-agg with map-side partial aggregation; no hot keys.
- A2 derives df from A1's *already-distinct* (term, doc_id) pairs, so it is a
  plain count — reusing A1's shuffle output instead of re-exploding tokens
  (the reference re-reads step1 for the same reason, `mapper2.py:3-16`).
  ``doc_freq_exact`` keeps the semantically-explicit countDistinct form, and
  at extreme scale ``approx_count_distinct`` is one argument away.
- A3 never shuffles at all: doc length is a per-row expression.
- Persisting postings partitioned by a hash bucket of ``term`` would give
  storage-level pruning for term probes (the Cassandra-PK equivalent,
  `app/app.py:48`); at harness scale a plain Parquet table + broadcast join
  wins, so bucketing is left to the caller via ``sources.io.write_parquet``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize


def tokenize_positions(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """X1 (`mapper1.py:5-18`): one row per token occurrence.

    Schema: (doc_id string, position int, term string); positions are 0-based
    token offsets in document order, exactly the reference's emission.
    """
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode(tokenize(text_col)).alias("position", "term"),
    )


def build_postings(tokens: DataFrame) -> DataFrame:
    """A1 (`reducer1.py:4-35`): (term, doc_id) → tf + sorted positions list.

    ``sort_array`` pins the ordering the reference only gets implicitly from
    Hadoop's per-split emission order (SURVEY.md §1.3, §7.5).
    """
    return tokens.groupBy("term", "doc_id").agg(
        F.count("*").cast("int").alias("tf"),
        F.sort_array(F.collect_list("position")).alias("positions"),
    )


def doc_freq(postings: DataFrame) -> DataFrame:
    """A2 (`mapper2.py`+`reducer2.py`): term → number of docs containing it.

    Input rows are already distinct per (term, doc_id) — A1's grouping key —
    so a plain count is the exact distinct count, no second dedup shuffle.
    """
    return postings.groupBy("term").agg(F.count("*").alias("df"))


def doc_freq_exact(tokens: DataFrame) -> DataFrame:
    """A2 computed straight from the token stream with an explicit distinct
    aggregation (the `set()` in `reducer2.py:9,23`)."""
    return tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))


def doc_stats(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", title_col: str | None = None) -> DataFrame:
    """A3 (`mapper3.py:5-14`): per-doc token count — a map-side expression,
    no shuffle (the reference burns a whole MR job + identity reducer on it).

    ``title_col`` mirrors D7's title passthrough when the corpus has one
    (the harness ``documents`` table doesn't).
    """
    cols = [F.col(id_col).cast("string").alias("doc_id")]
    if title_col:
        cols.append(F.col(title_col).alias("title"))
    cols.append(F.size(tokenize(text_col)).alias("length"))
    return docs.select(*cols)


def merge_index(base: dict[str, DataFrame], delta_docs: DataFrame,
                text_col: str = "text", id_col: str = "doc_id") -> dict[str, DataFrame]:
    """Incremental index maintenance: fold a batch of NEW documents into an
    existing index without re-tokenizing the base corpus.

    Requires delta doc_ids disjoint from the base (append-only corpus — the
    common ingest shape).  Postings and doc stats are pure unions (the
    (term, doc_id) key cannot collide); document frequency merges by
    summing per-term counts — a full-outer join on term, not a recount of
    the whole corpus.  At 100 TB this is the difference between touching
    |delta| and |corpus| per ingest batch.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    delta = build_index(delta_docs, text_col, id_col)
    merged_df = (base["document_frequency"]
                 .withColumnRenamed("df", "df_a")
                 .join(delta["document_frequency"].withColumnRenamed("df", "df_b"),
                       "term", "full_outer")
                 .select("term",
                         (F.coalesce("df_a", F.lit(0))
                          + F.coalesce("df_b", F.lit(0))).alias("df")))
    return {
        "term_document": base["term_document"]
            .unionByName(delta["term_document"]),
        "document_frequency": merged_df,
        "documents_info": base["documents_info"]
            .unionByName(delta["documents_info"]),
    }


def build_index(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                title_col: str | None = None,
                term_buckets: int | None = None) -> dict[str, DataFrame]:
    """E2 collapsed (SURVEY.md §3): the three index tables as one lineage.

    ``term_buckets`` (r18, VERDICT r17 #7 — guide §2.4 "two operations
    keyed the same way can share one exchange"): when the index is built
    TO BE PERSISTED bucket-partitioned, pass the same bucket count as
    ``write_index``/``partition_postings_by_term_bucket``.  The token
    stream is then hash-partitioned ONCE on ``term_bucket`` alone — the
    postings aggregation's required clustering by (term_bucket, term,
    doc_id) is satisfied by that partitioning (a subset of the grouping
    key), so the aggregate adds NO second exchange, and the writer skips
    its repartition because every row of a bucket is already in ONE
    partition — so each ``term_bucket=N/`` directory gets one file.
    Build+persist pays one wide shuffle of the token stream instead of
    two (tokens for the agg + the whole postings relation again for the
    layout).  term_document then carries a ``term_bucket`` column
    (metadata-tagged with the count so the writer can fail fast on a
    mismatched bucket count).  The price: partitioning by ≤term_buckets
    distinct values caps the postings aggregation (and the write) at
    term_buckets tasks, fewer where buckets collide in the hash — pick
    term_buckets ≥ the cores the build runs on.  Leave the default
    ``None`` for in-flight (non-persisted) indexes, where that cap buys
    no layout gain.
    """
    tokens = tokenize_positions(docs, text_col, id_col)
    if term_buckets is not None:
        from .persist import term_bucket
        tokens = (tokens
                  .withColumn("term_bucket",
                              term_bucket(F.col("term"), term_buckets)
                              .alias("term_bucket",
                                     metadata={"n_buckets": term_buckets}))
                  .repartition(F.col("term_bucket")))
        postings = tokens.groupBy("term_bucket", "term", "doc_id").agg(
            F.count("*").cast("int").alias("tf"),
            F.sort_array(F.collect_list("position")).alias("positions"),
        )
    else:
        postings = build_postings(tokens)
    return {
        "term_document": postings,
        "document_frequency": doc_freq(postings),
        "documents_info": doc_stats(docs, text_col, id_col, title_col),
    }


def build_query_index(docs: DataFrame, terms: list[str],
                      text_col: str = "text",
                      id_col: str = "doc_id") -> dict[str, DataFrame]:
    """:func:`build_index` scoped to a KNOWN query-term set — the
    in-flight single-query search shape (r17, guide §2.3 "shuffle fewer
    bytes" / §2.4): the term literal filter lands directly above the
    tokenize Generate, so the (term, doc_id) aggregation shuffles only
    query-term occurrences instead of the whole token stream, and
    document frequency derives from the FILTERED postings (df(t) = number
    of docs containing t — exactly the same value build_index produces
    for every t ∈ terms, since postings are per-doc-distinct by
    construction) instead of re-tokenizing the corpus a second time.
    ``documents_info`` stays corpus-wide — N and avgdl are corpus stats.

    Result-identical to build_index for ANY consumer that only reads
    terms ∈ ``terms`` from term_document / document_frequency, which is
    what every single-query scoring path does (the scoring joins begin
    by filtering both relations to the query terms).

    CONTRACT (r18 advice): the returned document_frequency is restricted
    to ``terms`` — it must NEVER feed a term-EXPANSION consumer
    (bm25_fuzzy_topk / bm25_prefix_topk / more_like_this use df as the
    vocabulary, so a scoped index silently degrades expansion to exact
    matches).  Expansion paths must build the full :func:`build_index`.
    """
    tokens = tokenize_positions(docs, text_col, id_col)
    if terms:
        tokens = tokens.filter(F.col("term").isin(sorted(set(terms))))
    else:  # empty query: empty postings, same as the unfiltered join
        tokens = tokens.filter(F.lit(False))
    postings = build_postings(tokens)
    return {
        "term_document": postings,
        "document_frequency": doc_freq(postings),
        "documents_info": doc_stats(docs, text_col, id_col),
    }


def build_fielded_index(docs: DataFrame, split_at: int,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> dict[str, dict[str, DataFrame]]:
    """Fielded index from ONE tokenize pass (r14 perf): token positions
    < ``split_at`` are the derived title field, the rest the body — the
    same split the two-pass build (array_join slices re-tokenized per
    field) produced, token-for-token, but without re-materializing field
    strings or tokenizing the corpus once per field.

    Per-field ``documents_info`` keeps one row per CORPUS doc (length 0
    when the doc has no tokens in that field) — the avgdl parity the
    BM25F preconditions require; a groupBy over the token stream alone
    would silently drop empty-field docs and shift the field's norm.

    Returns {field: {"term_document": (term, doc_id, tf),
    "documents_info": (doc_id, length)}} — the bm25f_topk input shape.
    """
    from pyspark.sql import functions as F

    toks = tokenize_positions(docs, text_col, id_col).withColumn(
        "__field", F.when(F.col("position") < split_at,
                          F.lit("title")).otherwise(F.lit("body")))
    td = toks.groupBy("__field", "term", "doc_id") \
        .agg(F.count("*").alias("tf"))
    lengths = toks.groupBy("__field", "doc_id") \
        .agg(F.count("*").alias("__len"))
    all_docs = docs.select(F.col(id_col).cast("string").alias("doc_id"))
    out: dict[str, dict[str, DataFrame]] = {}
    for f in ("title", "body"):
        info = (all_docs.join(
            lengths.filter(F.col("__field") == f).drop("__field"),
            "doc_id", "left")
            .select("doc_id",
                    F.coalesce("__len", F.lit(0)).alias("length")))
        out[f] = {
            "term_document": td.filter(F.col("__field") == f)
            .select("term", "doc_id", "tf"),
            "documents_info": info,
        }
    return out
