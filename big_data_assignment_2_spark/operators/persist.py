"""Index persistence — the Cassandra replacement (SURVEY.md §2.1 S8/S9).

The reference creates three Cassandra tables and batch-INSERTs them from the
driver (`app/app.py:29-72, 121-250`, batch sizes 5/50/25 with a "Batch too
large" fallback).  Here each index table is a Parquet dataset written
directly from its DataFrame — distributed, columnar, statistics-bearing.

A persisted BM25 store (:func:`write_index`, grown by
:func:`append_to_index`, shrunk by :func:`delete_from_index` +
:func:`compact_index`) is five Parquet directories under one base path:

- ``term_document/term_bucket=N/`` — postings (term, doc_id, tf,
  positions, length): the reference's D5 rows plus their document's
  ``length``, so a probe scores from the postings alone;
- ``document_frequency/`` — an append-only log of (term, df), one row per
  (term, batch); a term's df is the SUM of its rows;
- ``documents_info/`` — (doc_id[, title], length), the reference's D7;
- ``corpus_stats/`` — an append-only log of (n, total_length), one row per
  batch; N and the total length are the SUMS of its rows, and
  avgdl = total_length / N;
- ``tombstones/`` — present only while deletes await compaction.

A probe (:func:`bm25_probe_persisted`, :func:`bm25_probe_persisted_batch`)
is two steps: a stats collect (the corpus_stats rows and the probed
terms' df rows, one union of scans, summed on the driver) and a scoring
plan (bucket-pruned postings → BM25 over those literals → per-doc sum →
top-k).  It reads ``documents_info`` only while tombstones exist.  A
store written before postings carried ``length`` has no
``corpus_stats``; every probe, append and compaction of it raises
(:func:`_require_corpus_stats`) — rewrite it with :func:`write_index`.

Physical layout options mirror the reference's storage semantics:
- ``partition_postings_by_term_bucket``: the reference's `term` partition
  key (`app.py:48`) made scan-prunable — postings land in
  ``term_bucket=N/`` directories by a portable hash of the term, so a
  term-probe query reads 1/N of the data (partition pruning, visible as
  PartitionFilters in the scan).
- ``write_bucketed``: bucketBy(orderkey/doc_id) via saveAsTable — two
  tables bucketed on the same key join with ZERO exchange (tested in
  tests/test_persist.py).  At 100 TB this is how you make the repeated
  fact-fact join (lineitem ⋈ orders, postings ⋈ stats) shuffle-free.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_hash64
from ..hints import broadcast_if_small
from .lifecycle import (append_tombstones, atomic_rewrite,
                        drop_tombstones, hadoop_delete, hadoop_fs,
                        hadoop_rename, mask_tombstones, read_tombstones,
                        tombstone_log)

# Declared read schemas of the index relations, as far as the BM25 probe
# reads them.  A declared schema skips the footer-inference job that every
# schema-less ``spark.read.parquet`` launches; the probe never reads
# ``positions`` or ``title``, so they are left out.  A store whose column
# types differ fails at read.
TERM_DOCUMENT_READ_SCHEMA = \
    "term string, doc_id string, tf int, length int, term_bucket int"
DOCUMENT_FREQUENCY_READ_SCHEMA = "term string, df long"
DOCUMENTS_INFO_READ_SCHEMA = "doc_id string, length int"
CORPUS_STATS_SCHEMA = "n long, total_length long"


def write_index(index: dict[str, DataFrame], base_path: str,
                term_buckets: int = 16) -> None:
    """Persist an index (``build_index``'s three relations) as a new
    store (module docstring: the store layout), in this order:

    1. ``documents_info`` (:func:`_documents_info_batch`);
    2. ``term_document``: the postings joined to those lengths,
       term-bucket-partitioned; positions are stored as the reference's
       absolute ``list<int>`` (`app.py:42-50`);
    3. ``document_frequency``: :func:`index.doc_freq` over the postings
       just written — a scan of their dictionary-encoded term column,
       the same rows ``index["document_frequency"]`` holds (df counts a
       term's postings, `reducer2.py`), and cheaper than caching the
       postings (positions and all) to derive it from;
    4. ``corpus_stats``: the batch's one (n, total_length) row."""
    from .index import doc_freq

    spark = index["documents_info"].sparkSession
    postings = f"{base_path}/term_document"
    with _documents_info_batch(index["documents_info"], base_path,
                               "overwrite") as lengths:
        partition_postings_by_term_bucket(
            index["term_document"].join(lengths, "doc_id"), postings,
            term_buckets)
        doc_freq(spark.read.schema("term string").parquet(postings)) \
            .write.mode("overwrite") \
            .parquet(f"{base_path}/document_frequency")


def append_to_index(docs: DataFrame, base_path: str,
                    term_buckets: int = 16) -> None:
    """Append one ingest batch to a PERSISTED index — the daily
    maintenance write that completes the search-serving lifecycle
    (build → probe → APPEND → probe), the same pattern as the ANN
    index's ``append_to_ivfpq`` and the fingerprint store's
    ``append_fingerprints``:

    - ``documents_info``: plain per-doc append
      (:func:`_documents_info_batch`);
    - ``term_document``: the batch's postings rows (each with its
      document's length) land in the SAME ``term_bucket=N/``
      directories (an atomic partition append — new doc ids never
      collide with persisted rows, so no read-modify-write);
    - ``document_frequency``: an append-only PER-BATCH log — batch doc
      sets are disjoint, so the union corpus's df is the SUM of the
      per-batch dfs, re-aggregated at probe time
      (:func:`bm25_probe_persisted`), exactly the fingerprint store's
      read-time-min contract.  The postings are cached across the two
      writes, since the batch's df is derived from them;
    - ``corpus_stats``: the batch's (n, total_length) row, summed at
      probe time like the df log.

    The batch index is built from the incoming docs only — one batch
    pass, never a rebuild; at 100 TB this is the difference between a
    nightly full-corpus index job and appending the day's crawl.  A
    store without ``corpus_stats`` (written by older code) raises
    before anything is written."""
    from pyspark import StorageLevel

    from .index import build_index

    _require_corpus_stats(docs.sparkSession, base_path)
    index = build_index(docs)
    td = index["term_document"].persist(StorageLevel.MEMORY_AND_DISK)
    try:
        with _documents_info_batch(index["documents_info"], base_path,
                                   "append") as lengths:
            (td.join(lengths, "doc_id")
             .withColumn("term_bucket",
                         term_bucket(F.col("term"), term_buckets))
             .repartition(F.col("term_bucket"))
             .sortWithinPartitions("term")
             .write.mode("append").partitionBy("term_bucket")
             .parquet(f"{base_path}/term_document"))
            index["document_frequency"].write.mode("append") \
                .parquet(f"{base_path}/document_frequency")
    finally:
        td.unpersist()


@contextmanager
def _documents_info_batch(info: DataFrame, base_path: str, mode: str):
    """Write one batch's ``documents_info`` with ``mode`` and yield its
    (doc_id, length) for the postings join; once the block has written
    the batch's postings and df, write its ``corpus_stats`` row.

    ``info`` is cached for the block, so the documents are tokenized
    once; the join broadcasts it while it fits
    :func:`hints.broadcast_if_small`, which keeps a
    ``build_index(term_buckets=N)`` lineage's one exchange and one file
    per bucket (above the gate AQE picks the join, and a shuffle join
    spreads each bucket over several files).  The batch's
    (n, total_length) is taken by
    ``DataFrame.observe`` during the ``documents_info`` write (no extra
    job) and written last, so a batch whose block failed adds nothing
    to N."""
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    spark = info.sparkSession
    obs = Observation()
    info = info.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        _observe_corpus_stats(info, obs).write.mode(mode) \
            .parquet(f"{base_path}/documents_info")
        yield broadcast_if_small(info.select("doc_id", "length"))
    finally:
        info.unpersist()
    _corpus_stats_row(spark, obs).write.mode(mode) \
        .parquet(f"{base_path}/corpus_stats")


def _observe_corpus_stats(info: DataFrame, obs) -> DataFrame:
    """``info`` (a documents_info relation) measuring its n and
    total_length into ``obs`` when an action runs it."""
    return info.observe(obs, F.count(F.lit(1)).alias("n"),
                        F.sum("length").alias("total_length"))


def _corpus_stats_row(spark: SparkSession, obs) -> DataFrame:
    """The (n, total_length) row :func:`_observe_corpus_stats` measured
    (an empty relation sums to 0), as a one-partition relation: its
    write is one task and one file."""
    got = obs.get
    return spark.range(1, numPartitions=1).select(
        F.lit(got["n"]).cast("long").alias("n"),
        F.lit(got["total_length"] or 0).cast("long").alias("total_length"))


def _require_corpus_stats(spark: SparkSession, base_path: str) -> None:
    """Fail fast on a store written before postings carried ``length``:
    it has no ``corpus_stats`` log, and probing it would score with NULL
    lengths."""
    fs, hpath = hadoop_fs(spark, f"{base_path}/corpus_stats")
    if not fs.exists(hpath):
        raise ValueError(
            f"{base_path} has no corpus_stats: it was written by an older "
            "write_index whose postings carry no document length. Rewrite "
            "this store with write_index(build_index(docs), base_path).")


def delete_from_index(spark: SparkSession, base_path: str, doc_ids) -> None:
    """TOMBSTONE documents out of a persisted BM25 index — the takedown/
    GDPR path of the search index's lifecycle (shared ``lifecycle``
    tombstone-log mechanics): :func:`bm25_probe_persisted` masks the
    docs out of the postings at read time and SUBTRACTS their N, length
    and df contributions; :func:`compact_index` removes their rows
    physically and drops the log.

    df correctness is the non-trivial part: a deleted doc must stop
    counting toward every term it contained.  The probe derives the
    per-term correction from the postings rows it already scans (the
    tombstoned docs' rows for the probed terms are still on disk until
    compaction), so no full-index pass happens on the query path.

    ``doc_ids``: a DataFrame whose first column is the doc id, or a
    Python iterable of ids (castable to string — the index's doc_id
    type)."""
    append_tombstones(spark, base_path, doc_ids, "__del_doc", "string")


def _index_tombstones(spark: SparkSession, base_path: str):
    """The tombstone log as a 1-column ``doc_id`` DataFrame (repeated
    ids kept: every consumer is a semi/anti join), or None if no delete
    has ever been issued."""
    log = tombstone_log(spark, base_path, "__del_doc", "string")
    return None if log is None else log.toDF("doc_id")


def compact_index(spark: SparkSession, base_path: str) -> None:
    """Physically remove tombstoned documents from every index relation
    and drop the tombstone log — the periodic maintenance job (same
    maintenance-window contract and Hadoop-FS directory swap as
    ``dedup.compact_fingerprint_store``).  No-op when nothing was ever
    deleted; raises on a store without ``corpus_stats``
    (:func:`_require_corpus_stats`).

    - ``term_document``: anti-join on doc_id, rewritten into the same
      term_bucket partition layout (the bucket column survives the
      round-trip as a partition column; ``length`` rides along);
    - ``document_frequency``: the per-batch append log is collapsed to
      one row per term with the deleted docs' contribution subtracted —
      computed from the postings scan (postings rows are unique per
      (term, doc), so the correction is a per-term count of deleted
      rows); terms whose df reaches zero are dropped;
    - ``documents_info``: plain anti-join, its survivors' (n,
      total_length) observed during the rewrite;
    - ``corpus_stats``: the per-batch log collapsed to that one
      survivors-only row.

    After compaction no byte of a deleted document remains in the index
    — pinned by tests/test_index_tombstones.py."""
    from pyspark.sql import Observation

    tomb_docs = _index_tombstones(spark, base_path)
    if tomb_docs is None:
        return
    _require_corpus_stats(spark, base_path)
    postings = spark.read.parquet(f"{base_path}/term_document")
    delta = (postings.join(tomb_docs, "doc_id", "left_semi")
             .groupBy("term").agg(F.count("*").alias("__ddf")))
    new_df = (spark.read.parquet(f"{base_path}/document_frequency")
              .groupBy("term").agg(F.sum("df").cast("long").alias("df"))
              .join(delta, "term", "left")
              .select("term", (F.col("df")
                               - F.coalesce("__ddf", F.lit(0))).alias("df"))
              .filter(F.col("df") > 0))
    # df must be materialized BEFORE term_document is swapped out from
    # under its lazy scan — write order: df first, then postings, stats.
    atomic_rewrite(spark, base_path, "document_frequency", new_df)
    atomic_rewrite(spark, base_path, "term_document",
                   postings.join(tomb_docs, "doc_id", "left_anti")
                   .repartition(F.col("term_bucket"))
                   .sortWithinPartitions("term"), "term_bucket")
    obs = Observation()
    atomic_rewrite(spark, base_path, "documents_info", _observe_corpus_stats(
        spark.read.parquet(f"{base_path}/documents_info")
        .join(tomb_docs, "doc_id", "left_anti"), obs))
    atomic_rewrite(spark, base_path, "corpus_stats",
                   _corpus_stats_row(spark, obs))
    drop_tombstones(spark, base_path)


def read_index(spark: SparkSession, base_path: str) -> dict[str, DataFrame]:
    """Logical view of a persisted index: the three relations of
    ``build_index``, postings carrying absolute ``positions``.  The
    postings' stored ``length`` is dropped (it is ``documents_info``'s,
    which every in-flight consumer joins), and ``corpus_stats`` is
    probe-side only."""
    return {
        "term_document": spark.read.parquet(f"{base_path}/term_document")
        .drop("length"),
        "document_frequency": spark.read.parquet(f"{base_path}/document_frequency"),
        "documents_info": spark.read.parquet(f"{base_path}/documents_info"),
    }


def term_bucket(col, n_buckets: int):
    """Portable stable bucket id for a term (md5-derived, not JVM-hash)."""
    return (md5_hash64(col) % n_buckets).alias("term_bucket")


def partition_postings_by_term_bucket(postings: DataFrame, path: str,
                                      n_buckets: int = 16,
                                      rowgroup_bytes: int | None = None) -> None:
    """Directory pruning via the bucket column; within each file the rows
    are sorted by term so parquet rowgroup min/max statistics let the
    reader skip rowgroups for a term predicate — two pruning levels, the
    same layering Cassandra gives the reference (partition key + clustering
    key, `app/app.py:48`).

    ``rowgroup_bytes`` sizes parquet rowgroups (``parquet.block.size``):
    at 100 TB you tune this so a selective term probe skips most groups
    while scans still stream ≥tens of MB per group; tests use a tiny value
    to exercise skipping on small data.

    When ``postings`` already carries a ``term_bucket`` column (a
    build_index(term_buckets=N) lineage — r18), the rows are already
    hash-partitioned on term_bucket by the build's single exchange, so
    the writer skips its repartition outright (guide §2.4): every
    bucket's rows sit in one task, which writes that bucket's one file.
    The column's metadata pins the bucket count the builder used — a
    mismatch with ``n_buckets`` fails fast here instead of silently
    laying out directories probes won't find."""
    if "term_bucket" in postings.columns:
        meta = postings.schema["term_bucket"].metadata or {}
        built_n = meta.get("n_buckets")
        if built_n != n_buckets:
            raise ValueError(
                f"postings were built with term_buckets={built_n!r} but "
                f"the store is being written with n_buckets={n_buckets}; "
                "probes derive directories from the WRITE count — pass "
                "the same value to build_index and the writer")
        w = (postings.sortWithinPartitions("term")
             .write.mode("overwrite"))
    else:
        w = (postings.withColumn("term_bucket",
                                 term_bucket(F.col("term"), n_buckets))
             .repartition(F.col("term_bucket"))
             .sortWithinPartitions("term")
             .write.mode("overwrite"))
    if rowgroup_bytes is not None:
        w = w.option("parquet.block.size", str(rowgroup_bytes))
    w.partitionBy("term_bucket").parquet(path)


def probe_postings(spark: SparkSession, path: str, terms: list[str],
                   n_buckets: int = 16) -> DataFrame:
    """Term probe against bucket-partitioned postings: the bucket predicate
    prunes directories BEFORE any row is read — the Spark analogue of the
    reference's single-partition Cassandra reads (`query.py:114-118`).
    Reads the :data:`TERM_DOCUMENT_READ_SCHEMA` columns."""
    buckets = sorted({_py_bucket(t, n_buckets) for t in terms})
    df = spark.read.schema(TERM_DOCUMENT_READ_SCHEMA).parquet(path)
    return df.filter(F.col("term_bucket").isin(buckets)
                     & F.col("term").isin(terms))


def _py_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of :func:`term_bucket` for probe planning."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n_buckets


def export_reference_format(index: dict[str, DataFrame], base_path: str) -> None:
    """Reference-compatible TSV export of the three index tables — the
    exact shapes the Hadoop jobs leave on HDFS (SURVEY.md §1.1 D5-D7):
    ``term \\t doc_id \\t tf \\t pos1,pos2,…`` (F6 position-list rendering,
    `reducer1.py:7`), ``term \\t df``, ``doc_id \\t [title \\t] length``.
    A migration-path sink only; Parquet is the real format."""
    postings = index["term_document"].select(
        "term", "doc_id", F.col("tf").cast("string"),
        F.array_join("positions", ","))
    postings.write.mode("overwrite").option("sep", "\t") \
        .csv(f"{base_path}/step1")
    index["document_frequency"].write.mode("overwrite").option("sep", "\t") \
        .csv(f"{base_path}/step2")
    index["documents_info"].write.mode("overwrite").option("sep", "\t") \
        .csv(f"{base_path}/step3")


def _bm25_probe_relations(spark: SparkSession, base_path: str,
                          terms: list[str], n_buckets: int = 16):
    """The shared read side of every persisted-BM25 probe.  It runs the
    first of the probe's two steps and prepares the second:

    1. **Stats collect** — ONE driver query: the ``corpus_stats`` rows
       and the probed terms' ``document_frequency`` rows as one union of
       scans (no aggregate, so no exchange); the driver sums them.  Both
       logs hold one row per batch (a single build has one), so N, the
       total length and each term's df are SUMS, and avgdl =
       total_length / N in Python — bit for bit Spark's ``avg(length)``
       over the documents (Spark sums an int column in doubles, exact
       below 2**53, then divides once; Python's int / int is correctly
       rounded the same way).
    2. **Scoring input** — the bucket-pruned postings scan restricted to
       the LIVE terms (df > 0); each row carries its document's
       ``length``, so no lengths join follows.

    Returns ``(postings, n, avgdl, df)``; ``df`` maps each live term to
    its df and is empty when no probed term is live.  Every relation is
    read with its declared schema (no footer inference).  Nothing is
    cached between calls: each call re-reads the store, so a probe sees
    every earlier ``append_to_index``/``delete_from_index``.  A store
    without ``corpus_stats`` raises (:func:`_require_corpus_stats`).

    Tombstoned docs (delete_from_index): the log is read once per probe
    and broadcast into both steps (no ``distinct``: a semi/anti join
    ignores repeated ids).  The stats collect adds a (−1, −length) row
    per tombstoned doc in ``documents_info`` and a df −1 row per
    tombstoned postings row of a probed term (one row per (term, doc),
    so this is the exact correction; the rows are still on disk until
    compact_index); the scoring plan anti-joins the postings against
    the log.  No full-index pass ever lands on the query path."""
    def read(rel: str, schema: str) -> DataFrame:
        return spark.read.schema(schema).parquet(f"{base_path}/{rel}")

    def scan(ts: list[str]) -> DataFrame:
        return probe_postings(spark, f"{base_path}/term_document", ts,
                              n_buckets).drop("term_bucket")

    def row(term="NULL", n="NULL", total_length="NULL", df="NULL"):
        return [f"CAST({term} AS STRING) AS term",
                f"CAST({n} AS BIGINT) AS n",
                f"CAST({total_length} AS BIGINT) AS total_length",
                f"CAST({df} AS BIGINT) AS df"]

    _require_corpus_stats(spark, base_path)
    parts = [
        read("corpus_stats", CORPUS_STATS_SCHEMA)
        .selectExpr(*row(n="n", total_length="total_length")),
        read("document_frequency", DOCUMENT_FREQUENCY_READ_SCHEMA)
        .filter(F.col("term").isin(terms)).selectExpr(*row("term", df="df")),
    ]
    tomb = _index_tombstones(spark, base_path)
    if tomb is not None:
        tomb = broadcast_if_small(tomb)
        parts += [
            read("documents_info", DOCUMENTS_INFO_READ_SCHEMA)
            .join(tomb, "doc_id", "left_semi")
            .selectExpr(*row(n="-1", total_length="-length")),
            scan(terms).join(tomb, "doc_id", "left_semi")
            .selectExpr(*row("term", df="-1")),
        ]
    n = total_length = 0
    df: dict[str, int] = {}
    for r in reduce(DataFrame.union, parts).collect():
        if r["term"] is None:
            n += r["n"]
            total_length += r["total_length"]
        else:
            df[r["term"]] = df.get(r["term"], 0) + r["df"]
    df = {t: v for t, v in df.items() if v > 0}
    postings = scan(sorted(df))
    if tomb is not None:
        postings = postings.join(tomb, "doc_id", "left_anti")
    return postings, n, total_length / n if n else None, df


def bm25_probe_persisted(spark: SparkSession, base_path: str, query: str,
                         k: int = 10, n_buckets: int = 16) -> "DataFrame":
    """Serving-path BM25 over a PERSISTED index, in two steps: the stats
    collect of :func:`_bm25_probe_relations` (one driver query for N,
    avgdl and the probed terms' df), then ONE scoring plan — the
    bucket-pruned postings of the live terms (each carrying its
    document's length), the BM25 expression over those literals (a
    query term's multiplicity is a literal weight), per-doc sum,
    ``round(·, 6)``, top-k by (score desc, doc_id asc).  On a store
    without tombstones that is 3 Spark jobs: the collect, the sum's
    shuffle and the top-k.  No state is cached between calls.  Same
    rows as the in-flight ``search.bm25_topk`` over the same corpus; a
    query with no live term returns no rows.  A store written by older
    code (no ``corpus_stats``) raises: rewrite it with
    :func:`write_index`."""
    from collections import Counter

    from ..functions.text import tokenize_query
    from .search import bm25_literal_score

    terms = tokenize_query(query)
    postings, n, avgdl, df = _bm25_probe_relations(
        spark, base_path, terms, n_buckets)
    if not df:
        return spark.createDataFrame([], "doc_id string, score double")
    score = bm25_literal_score(n, avgdl, df,
                               Counter(t for t in terms if t in df))
    return (postings
            .groupBy("doc_id").agg(F.round(F.sum(score), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def bm25_probe_persisted_batch(spark: SparkSession, base_path: str,
                               queries: dict[str, str], k: int = 10,
                               n_buckets: int = 16) -> "DataFrame":
    """BATCHED serving-path BM25 (r13, VERDICT r12 #4): serve MANY
    queries from the persisted index with ONE stats collect and ONE
    bucket-pruned postings scan over the UNION of all queries' terms —
    the amortization a real query service runs.  Scoring joins the
    broadcast (query_id, term) relation (one row per scoring occurrence)
    to the postings, applies the same literal BM25 expression as
    :func:`bm25_probe_persisted`, and ranks with a per-query window
    top-k off one ``query_id`` exchange.  On a store without tombstones
    that is 4 Spark jobs: the collect, the term relation's broadcast,
    the shuffle and the ranking.  Q sequential ``bm25_probe_persisted``
    calls would pay Q stats collects and Q scoring plans; the batch pays
    one of each — measured in bench.py (`search_bm25_batch_probe`).

    Composes with the full index lifecycle: append-log summing and
    tombstone subtraction come from the shared
    :func:`_bm25_probe_relations` read side, so a batch probe after
    delete_from_index equals per-query probes over the shrunk corpus.
    A store written by older code (no ``corpus_stats``) raises.
    Returns (query_id, doc_id, score, rank ≤ k)."""
    from ..functions.localrel import inline_rows
    from ..functions.text import tokenize_query
    from .search import bm25_literal_score, _sum_rank_per_query

    q_terms = [(qid, t) for qid, q in queries.items()
               for t in tokenize_query(q)]
    postings, n, avgdl, df = _bm25_probe_relations(
        spark, base_path, sorted({t for _, t in q_terms}), n_buckets)
    rows = [(qid, t) for qid, t in q_terms if t in df]
    if not rows:
        return spark.createDataFrame(
            [], "query_id string, doc_id string, score double, rank int")
    terms_df = inline_rows(spark, rows, "query_id string, term string")
    return _sum_rank_per_query(postings.join(F.broadcast(terms_df), "term"),
                               bm25_literal_score(n, avgdl, df), k)


def write_ivf(assigned: DataFrame, path: str) -> None:
    """Persist IVF-assigned vectors partitioned by list_id — a probe scans
    only its nprobe lists' directories (partition pruning), mirroring the
    term-bucket layout for text."""
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(path)


def probe_ivf_lists(spark: SparkSession, path: str,
                    list_ids: list[int]) -> DataFrame:
    return spark.read.parquet(path).filter(F.col("list_id").isin(list_ids))


def write_ivfpq(vectors: DataFrame, base_path: str, n_centroids: int = 4,
                coarse_iters: int = 1, m: int = 4, ks: int = 8,
                pq_iters: int = 1, dim: int = 64,
                vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """Train the IVF+PQ index ONCE and persist everything a query needs:

    - ``coarse/``   — (cid, centroid double[dim]) coarse centroids
    - ``books/``    — (subspace, cid, centroid double[dim/m]) sub-codebooks
    - ``codes/``    — (neighbor_id, c0..c{m-1}) PARTITIONED BY list_id

    This is the production ANN shape the in-flight ``ivfpq_topk``
    deliberately is not: at 100 TB the index is built once and probed
    millions of times, so Lloyd training must never be billed to a
    query.  The codes layout mirrors ``write_ivf`` — a probe's nprobe
    lists prune to their partition directories before any row is read —
    and the codebooks are a few KB of parquet the serving session
    collects once (the same bounded-driver-collect contract as
    broadcasting IVF centroids).  Doubles round-trip parquet exactly, so
    the persisted index probes BIT-IDENTICALLY to the in-flight query
    (asserted in tests/test_ivfpq_persist.py)."""
    from .similarity import ivfpq_train

    spark = vectors.sparkSession
    cent, books, codes, cached = ivfpq_train(
        vectors, n_centroids, coarse_iters, m, ks, pq_iters, dim,
        vec_col, id_col)
    try:
        codes.write.mode("overwrite").partitionBy("list_id") \
            .parquet(f"{base_path}/codes")
    finally:
        for df in cached:
            df.unpersist()
    # r17: single-slice parallelize instead of coalesce(1) — a Python
    # local relation defaults to defaultParallelism slices, and
    # coalesce(1) makes ONE task drain all of them through sequential
    # Python-worker rounds (measured 6-7 s to write a 4-row codebook;
    # single-slice: ~0.2 s).  Same single output file.
    spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, list(c)) for i, c in enumerate(cent)], 1),
        "cid INT, centroid ARRAY<DOUBLE>") \
        .write.mode("overwrite").parquet(f"{base_path}/coarse")
    spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(s, i, list(c)) for s, book in enumerate(books)
             for i, c in enumerate(book)], 1),
        "subspace INT, cid INT, centroid ARRAY<DOUBLE>") \
        .write.mode("overwrite").parquet(f"{base_path}/books")


def _read_ivfpq_codebooks(spark: SparkSession, base_path: str):
    """Collect the (tiny) persisted coarse centroids + sub-codebooks —
    the serving session's one bounded driver read, shared by the probe
    and the append path."""
    crows = sorted(spark.read.parquet(f"{base_path}/coarse").collect(),
                   key=lambda r: r["cid"])
    cent = [list(r["centroid"]) for r in crows]
    brows = spark.read.parquet(f"{base_path}/books").collect()
    n_sub = max(r["subspace"] for r in brows) + 1
    books: list[list[list[float]]] = [[] for _ in range(n_sub)]
    for r in sorted(brows, key=lambda r: (r["subspace"], r["cid"])):
        books[r["subspace"]].append(list(r["centroid"]))
    return cent, books


def ivfpq_append(vectors: DataFrame, base_path: str, dim: int = 64,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """Incrementally ADD vectors to a persisted IVF+PQ index — the FAISS
    ``add()`` maintenance path a production corpus runs daily: encode
    the new vectors against the FROZEN stored codebooks (one map-side
    projection, :func:`similarity.ivfpq_encode` — no retraining, no
    shuffle) and append the code rows into the list_id-partitioned
    store.  Probes immediately see old + new rows; codebook drift is a
    periodic REBUILD decision (write_ivfpq again), exactly as with
    FAISS."""
    from .similarity import ivfpq_encode

    spark = vectors.sparkSession
    cent, books = _read_ivfpq_codebooks(spark, base_path)
    (ivfpq_encode(vectors, cent, books, dim, vec_col, id_col)
     .write.mode("append").partitionBy("list_id")
     .parquet(f"{base_path}/codes"))


def ivfpq_delete(spark: SparkSession, base_path: str, vec_ids) -> None:
    """TOMBSTONE vectors out of a persisted IVF+PQ index — the takedown/
    GDPR path of the ANN lifecycle (shared ``lifecycle`` tombstone-log
    mechanics): :func:`ivfpq_probe_persisted` masks the ids out of the
    code scan before scoring; :func:`ivfpq_compact` removes their code
    rows physically and drops the log.  Codebooks are frozen
    constants (a few KB trained on the historical corpus) — deleting a
    vector removes it as a NEIGHBOR; codebook re-training is a periodic
    rebuild decision, exactly as with FAISS ``remove_ids``.

    ``vec_ids``: a DataFrame whose first column is the vector id, or a
    Python iterable of ints."""
    append_tombstones(spark, base_path, vec_ids, "__nid", "bigint")


def _ivfpq_tombstones(spark: SparkSession, base_path: str):
    """Tombstoned vec_ids as a 1-column DataFrame, or None if no delete
    has ever been issued."""
    return read_tombstones(spark, base_path, "__nid", "bigint")


def ivfpq_compact(spark: SparkSession, base_path: str) -> None:
    """Physically remove tombstoned vectors' code rows and drop the
    tombstone log — same maintenance-window contract and FS-API
    directory swap as ``dedup.compact_fingerprint_store`` (the shared
    ``lifecycle`` mechanics).  No-op when nothing was ever deleted."""
    tomb = _ivfpq_tombstones(spark, base_path)
    if tomb is None:
        return
    atomic_rewrite(spark, base_path, "codes",
                   mask_tombstones(spark.read.parquet(f"{base_path}/codes"),
                                   tomb, "neighbor_id"),
                   partition_col="list_id")
    drop_tombstones(spark, base_path)


def _sq8_codes(vectors: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(vec_id, scale, codes tinyint[]) — the SQ8 storage relation."""
    from .similarity import as_double

    v = as_double(vec_col)
    scale = F.greatest(F.array_max(F.transform(v, F.abs)) / F.lit(127.0),
                       F.lit(1e-30))
    return (vectors.select(F.col(id_col).alias("vec_id"), v.alias("__v"),
                           scale.alias("scale"))
            .select("vec_id", "scale",
                    F.transform("__v", lambda x: F.round(x / F.col("scale"))
                                .cast("tinyint")).alias("codes")))


def write_sq8(vectors: DataFrame, path: str, vec_col: str = "embedding",
              id_col: str = "vec_id") -> None:
    """Persist the SQ8 MEMORY TIER (r15): per-vector symmetric int8
    codes (code = round(x/scale), scale = max|x|/127 floored at 1e-30 —
    the zero-vector guard shared with ``similarity.sq8_dequantized``)
    plus the one double scale — 1 byte/dim + 8 bytes vs 8 bytes/dim for
    the float64 store, the FAISS ``IndexScalarQuantizer`` layout.  The
    codes are exact small integers, so parquet stores them losslessly
    and the probe reconstructs BIT-IDENTICALLY to the in-flight
    ``sq8_topk`` (round(x/scale) is a whole double ≤ 127 — the tinyint
    cast and the read-back multiply are both exact).

    Layout (r16): ``{path}/codes`` + an optional ``{path}/tombstones``
    log — the same base-path shape as the IVF+PQ and BM25 stores, so
    the shared ``lifecycle`` delete/compact mechanics apply verbatim."""
    _sq8_codes(vectors, vec_col, id_col).write.mode("overwrite") \
        .parquet(f"{path}/codes")


def sq8_append(vectors: DataFrame, path: str, vec_col: str = "embedding",
               id_col: str = "vec_id") -> None:
    """GROW the persisted SQ8 store: per-vector quantization carries NO
    trained state (each row's scale is its own max|x|/127), so ingesting
    new vectors is a pure partition append — no codebooks to freeze, no
    drift, no retrain decision, ever.  The contrast to the IVF+PQ add()
    path is the point: scalar quantization trades 8× compression for
    zero maintenance; PQ trades deeper compression for the
    frozen-codebook decay the append-recall row certifies."""
    _sq8_codes(vectors, vec_col, id_col).write.mode("append") \
        .parquet(f"{path}/codes")


def sq8_delete(spark: SparkSession, path: str, vec_ids) -> None:
    """TOMBSTONE vectors out of the persisted SQ8 store (r16, VERDICT
    r15 #4) — the takedown/GDPR path, completing the "every persisted
    store has the same lifecycle" story: identical append-only tombstone
    log as the IVF+PQ (``ivfpq_delete``), BM25, and fingerprint stores
    (shared ``lifecycle`` mechanics).  :func:`sq8_probe_persisted` masks
    the ids out of the code scan before scoring; :func:`sq8_compact`
    removes the rows physically.  Unlike IVF+PQ there is no trained
    state to go stale — a delete is complete the moment the log row
    lands.

    ``vec_ids``: a DataFrame whose first column is the vector id, or a
    Python iterable of ints."""
    append_tombstones(spark, path, vec_ids, "__nid", "bigint")


def sq8_compact(spark: SparkSession, path: str) -> None:
    """Physically remove tombstoned vectors' code rows and drop the
    tombstone log — same maintenance-window contract and FS-API
    directory swap as ``ivfpq_compact`` (shared ``lifecycle``
    mechanics).  No-op when nothing was ever deleted.  Post-condition
    (asserted in tests/test_persist.py): a compacted store probes
    bit-identically to a fresh ``write_sq8`` over the surviving
    vectors — per-vector scales make the store row-independent, so
    dropping rows cannot perturb the survivors."""
    tomb = read_tombstones(spark, path, "__nid", "bigint")
    if tomb is None:
        return
    atomic_rewrite(spark, path, "codes",
                   mask_tombstones(spark.read.parquet(f"{path}/codes"),
                                   tomb, "vec_id"))
    drop_tombstones(spark, path)


def sq8_probe_persisted(spark: SparkSession, path: str, queries: DataFrame,
                        k: int = 10, vec_col: str = "embedding",
                        q_id_col: str = "query_id") -> DataFrame:
    """Serve ASYMMETRIC SQ8 search from the persisted int8 store:
    reconstruct each stored vector in-row (codes × scale — one map-side
    transform over the 4x-smaller scan) and score full-precision queries
    with the exact cosine path.  Identical results to the in-flight
    ``similarity.sq8_topk`` by exact-arithmetic construction (asserted
    in tests/test_persist.py), so the ``sim_sq8_topk`` oracle applies
    verbatim to the persisted row.  Tombstoned ids (``sq8_delete``) are
    masked out of the scan before scoring — a deleted vector stops being
    a neighbor immediately, before any compaction."""
    from .similarity import brute_force_topk

    store = mask_tombstones(spark.read.parquet(f"{path}/codes"),
                            read_tombstones(spark, path, "__nid", "bigint"),
                            "vec_id")
    dq = store.select(
        "vec_id",
        F.transform("codes", lambda c: c.cast("double") * F.col("scale"))
        .alias(vec_col))
    return brute_force_topk(dq, queries, k=k, vec_col=vec_col,
                            id_col="vec_id", q_id_col=q_id_col)


def ivfpq_list_stats(spark: SparkSession, base_path: str) -> DataFrame:
    """Per-list HEALTH of a persisted IVF+PQ store: live (non-tombstoned)
    vector count per coarse list.  The list-balance ratio max(n)/avg(n)
    derived from this relation is the retrain trigger a production
    deployment monitors — frozen-codebook appends (:func:`ivfpq_append`)
    never rebalance lists, so a drifting ingest distribution skews them
    and ADC recall decays silently until a retrain
    (:func:`ivfpq_retrain`).  One groupBy over the code store; at 100 TB
    the codes scan is the same partition-pruned m-byte relation the
    probes read."""
    codes = mask_tombstones(spark.read.parquet(f"{base_path}/codes"),
                            _ivfpq_tombstones(spark, base_path),
                            "neighbor_id")
    return (codes.groupBy("list_id")
            .agg(F.count("*").cast("bigint").alias("n_vectors")))


def ivfpq_retrain(vectors: DataFrame, base_path: str, n_centroids: int = 4,
                  coarse_iters: int = 1, m: int = 4, ks: int = 8,
                  pq_iters: int = 1, dim: int = 64,
                  vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """PERIODIC RETRAIN of a persisted IVF+PQ index — the FAISS re-train
    story (drop the index, `train()` + `add()` on the live corpus):
    frozen-codebook appends keep serving cheaply, but after enough
    distribution drift the coarse lists skew and codebook quantization
    error grows, so recall decays; the remedy is retraining centroids +
    codebooks from scratch over the LIVE corpus.

    ``vectors`` is the raw-vector relation (the system of record — PQ
    codes are lossy, so retraining needs the originals, exactly as with
    FAISS); it is semi-joined to the store's surviving neighbor_ids so
    tombstoned vectors neither train nor re-enter the index (retrain
    subsumes compaction — the tombstone log is dropped).  The three
    relations (coarse/books/codes) are trained into a scratch sibling
    and swapped in via rename, the same maintenance-window contract as
    :func:`ivfpq_compact`.

    Determinism: `write_ivfpq` is deterministic in its input relation,
    so a retrained index is BIT-IDENTICAL to a fresh build over the same
    live corpus (asserted in tests/test_ivfpq_persist.py) — which is
    what lets the `sim_ivfpq_retrain_probe` row share the fresh-build
    first-principles oracle."""
    import uuid

    spark = vectors.sparkSession
    live_ids = mask_tombstones(
        spark.read.parquet(f"{base_path}/codes").select("neighbor_id"),
        _ivfpq_tombstones(spark, base_path), "neighbor_id") \
        .distinct().withColumnRenamed("neighbor_id", id_col)
    live = vectors.join(live_ids, id_col, "left_semi")
    tmp = f"{base_path}/retrain_{uuid.uuid4().hex[:8]}"
    write_ivfpq(live, tmp, n_centroids=n_centroids,
                coarse_iters=coarse_iters, m=m, ks=ks, pq_iters=pq_iters,
                dim=dim, vec_col=vec_col, id_col=id_col)
    for rel in ("coarse", "books", "codes"):
        old = f"{base_path}/{rel}_old_{uuid.uuid4().hex[:8]}"
        hadoop_rename(spark, f"{base_path}/{rel}", old)
        hadoop_rename(spark, f"{tmp}/{rel}", f"{base_path}/{rel}")
        hadoop_delete(spark, old)
    hadoop_delete(spark, tmp)
    if _ivfpq_tombstones(spark, base_path) is not None:
        drop_tombstones(spark, base_path)


def ivfpq_probe_persisted(spark: SparkSession, base_path: str,
                          queries: DataFrame, k: int = 10, nprobe: int = 2,
                          dim: int = 64, vec_col: str = "embedding",
                          q_id_col: str = "query_id",
                          allowed: DataFrame | None = None) -> DataFrame:
    """Serve ANN queries from a PERSISTED IVF+PQ index — the mirror of
    :func:`bm25_probe_persisted` for vectors: read the (tiny) codebooks
    once, select each query's nprobe lists, scan ONLY those lists'
    partition directories of the m-byte code relation, ADC-score, rank.
    No training anywhere on the query path.

    The probed-list pruning filter is built from one bounded driver
    collect of the queries' nprobe list ids (|Q|·nprobe ints — the same
    contract as ``probe_postings``'s driver-side term buckets); scoring
    itself stays fully distributed via :func:`similarity.ivfpq_score`,
    so the result is column-for-column identical to the in-flight
    ``ivfpq_topk`` on the same parameters."""
    from .similarity import _nearest_ids, as_double, ivfpq_score

    cent, books = _read_ivfpq_codebooks(spark, base_path)

    # Which lists will be probed: evaluate the probe-selection expression
    # on the (small) query relation and collect the distinct list ids —
    # the literals a partition-pruned scan needs.
    q = queries.select(F.col(q_id_col).alias("query_id"),
                       as_double(vec_col).alias("q"))
    probed = (q.select(F.explode(_nearest_ids(F.col("q"), cent, nprobe))
                       .alias("list_id"))
              .distinct().collect())
    list_ids = sorted(r["list_id"] for r in probed)

    codes = spark.read.parquet(f"{base_path}/codes") \
        .filter(F.col("list_id").isin(list_ids))
    # Tombstoned vectors (ivfpq_delete) are masked BEFORE scoring so the
    # top-k fills from survivors; compaction removes them physically.
    codes = mask_tombstones(codes, _ivfpq_tombstones(spark, base_path),
                            "neighbor_id")
    # ``allowed``: optional (query_id, neighbor_id) predicate-passing
    # pairs — pre-filters candidates inside the probed lists (metadata-
    # filtered ANN on the persisted serving path; see ivfpq_score).
    return ivfpq_score(codes, queries, cent, books, k=k, nprobe=nprobe,
                       dim=dim, vec_col=vec_col, q_id_col=q_id_col,
                       allowed=allowed)


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 8, sort_col: str | None = None,
                   path: str | None = None) -> None:
    """Persist as a bucketed table (co-located join layout).  ``path`` makes
    it external — the warehouse dir is a static conf and can't move at
    runtime."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def zorder_value(x, y, bits: int = 16):
    """Morton/Z-order interleave of two non-negative integers — x on the
    even bits, y on the odd bits — as pure integer column arithmetic
    (2·bits shift-mask-shift terms; whole-stage codegen keeps it one
    projection).  Clustering a table by this value makes parquet
    row-group min/max stats selective on BOTH dimensions at once, so a
    2-D box predicate prunes I/O that a single-column sort order can
    only prune on one axis — the lakehouse OPTIMIZE ZORDER layout story.
    Engine-portable: the same shifts evaluate identically in SQL, so an
    oracle can recompute every z-value.

    ``bits`` must cover the columns' value range: a key >= 2**bits
    silently aliases with (key - 2**bits) — identical z-values for
    distant key ranges, so files mix those ranges and the 2-D pruning
    degrades (cross-engine parity hides it, because both engines
    truncate identically).  Extra leading-zero bits are harmless (their
    terms contribute 0), so over-sizing never changes a z-value;
    ``write_zorder`` sizes bits from the observed column max at write
    time for exactly this reason.  Ceiling 31: bit positions reach
    2*bits-1 = 61 < 63, inside the signed-bigint budget."""
    xb = (F.col(x) if isinstance(x, str) else x).cast("bigint")
    yb = (F.col(y) if isinstance(y, str) else y).cast("bigint")
    out = None
    for b in range(bits):
        tx = F.shiftleft(F.shiftright(xb, b).bitwiseAND(F.lit(1)), 2 * b)
        ty = F.shiftleft(F.shiftright(yb, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        out = tx + ty if out is None else out + tx + ty
    return out


def write_zorder(df: DataFrame, path: str, x: str, y: str,
                 n_files: int = 16, bits: int | None = None) -> int:
    """Persist ``df`` Z-ordered on (x, y): range-shuffle on the Morton
    value then sort within partitions, so each output file covers a
    compact Z-range (tight min/max envelopes on both x and y).

    ``bits=None`` (default) sizes the interleave width from the observed
    column maxima — one cheap max-agg pass over just (x, y) before the
    layout shuffle — so keys beyond 2**16 never alias (see
    ``zorder_value``).  An explicit ``bits`` skips the scan but puts the
    range contract on the caller.  Returns the width used."""
    if bits is None:
        mx, my = (df.agg(F.max(F.col(x).cast("bigint")),
                         F.max(F.col(y).cast("bigint"))).first())
        top = max(mx or 0, my or 0, 1)
        bits = min(max(top.bit_length(), 1), 31)
    if bits > 31:
        raise ValueError(f"bits={bits} exceeds the signed-bigint budget (31)")
    (df.withColumn("zval", zorder_value(x, y, bits))
       .repartitionByRange(n_files, "zval")
       .sortWithinPartitions("zval")
       .write.mode("overwrite").parquet(path))
    return bits
