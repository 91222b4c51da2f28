"""Dedup family declared queries + DuckDB oracle twins.

The oracles are GENERATED from the same hash constants the Spark operators
use (functions/hashing.py) — signatures and band keys are bit-identical
across engines, so even the MinHash-LSH candidate set hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.hashing import MERSENNE_P, md5_hash64_sql, minhash_sql_exprs
from ..operators.dedup import (BAND_SIZE, NUM_BANDS, SIMHASH_BITS,
                               content_key, dedup_exact, minhash_near_dups,
                               minhash_signatures, doc_tokensets,
                               ngram_jaccard_pairs, simhash,
                               simhash_near_dups, tokenset_key)
from ..sources.io import cleanup_stale_scratch, load_table
from .search_queries import _TOKENS_CTE

JACCARD_THRESHOLD = 0.9
NGRAM_N = 3
NGRAM_THRESHOLD = 0.35


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, content_key("text"))


def q_dedup_tokenset(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, tokenset_key("text"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(doc_tokensets(docs))


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dups(docs, threshold=JACCARD_THRESHOLD)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=NGRAM_N, threshold=NGRAM_THRESHOLD)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs)


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dups(docs, max_hamming=3)


WINNOW_WINDOW = 4
WINNOW_MIN_SHARED = 5


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, n=3, window=WINNOW_WINDOW)


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(docs, min_shared=WINNOW_MIN_SHARED,
                                n=3, window=WINNOW_WINDOW)


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import near_dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    return near_dup_clusters(docs, threshold=JACCARD_THRESHOLD)


def q_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization after near-dup clustering — the C4/RefinedWeb
    'keep one per duplicate cluster' step, with an explicit KEEP POLICY
    instead of min-id: per cluster retain the LONGEST member (most
    content), doc_id ascending on ties.  Returns one row per cluster:
    (cluster_rep, best_doc, best_chars, n_members); singleton clusters
    pass through with themselves as best.

    Scale shape: the cluster labels come from the rep-collapsed CC loop
    (near_dup_clusters), the policy is a per-cluster row_number window —
    partitioned by cluster, never global.  Swapping the ORDER BY swaps
    the keep policy (quality score, recency, source priority) without
    touching the clustering."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.dedup import near_dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    clusters = near_dup_clusters(docs, threshold=JACCARD_THRESHOLD)
    quality = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                          F.length("text").alias("n_chars"))
    j = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("n_chars"), F.col("doc_id").cast("bigint"))
    wc = Window.partitionBy("cluster_rep")
    return (j.withColumn("rn", F.row_number().over(w))
            .withColumn("n_members", F.count(F.lit(1)).over(wc))
            .filter(F.col("rn") == 1)
            .select("cluster_rep",
                    F.col("doc_id").alias("best_doc"),
                    F.col("n_chars").alias("best_chars"),
                    "n_members"))


EXSUB_LEN = 8           # minimum duplicated-span length in tokens


def q_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (Lee et al. 2022 ExactSubstr shape,
    r11): every maximal token run of >= EXSUB_LEN tokens occurring at two
    or more (doc, position) sites corpus-wide, as per-doc remove-span
    lists — the exact complement of the probabilistic winnowing rows."""
    from ..operators.dedup import exact_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_spans(docs, length=EXSUB_LEN)


def q_exact_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CLEANING step (r11): cut every maximal duplicated
    span out of every document in-row (positional higher-order filter,
    no per-token range join) and return the cleaned corpus with
    kept/removed token counts."""
    from ..operators.dedup import remove_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_substring_spans(docs, length=EXSUB_LEN)


def q_exact_substring_keepone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr cleaning with the KEEP-FIRST policy (r12): the
    globally-first occurrence of each distinct duplicated-span content
    survives; all later sites are cut — the quotation/boilerplate-pruning
    variant beside the reference cut-all policy."""
    from ..operators.dedup import remove_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_substring_spans(docs, length=EXSUB_LEN, keep="first")


EXSUB_INC_MOD = 4       # doc_id % 4 == 0 plays the incoming ingest batch


def q_exact_substring_incremental(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """ExactSubstr at the ingest boundary (r13): maximal spans in the
    incoming batch (doc_id % 4 == 0) whose content duplicates the
    HISTORICAL corpus — a one-sided shingle probe with content verify,
    the daily-job shape beside the corpus-wide batch row (no
    history x history work, no corpus-wide recompute)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import exact_substring_spans_incremental

    docs = load_table(spark, sf_dir, "documents")
    hist = (F.col("doc_id").cast("bigint") % EXSUB_INC_MOD) != 0
    return exact_substring_spans_incremental(docs, hist, length=EXSUB_LEN)


EDIT_PREFIX = 120       # verify edit distance on a bounded prefix
EDIT_SIM_MIN = 0.6


def q_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of MinHash-LSH candidates: levenshtein
    similarity on a bounded text prefix (cost O(pairs · prefix²), never
    O(pairs · |doc|²)) — the fuzzy-dedup confirmation step.  Pure native
    `levenshtein`, identical semantics in both engines."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dups(docs, threshold=JACCARD_THRESHOLD) \
        .select("doc_a", "doc_b")
    pre = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                      F.substring("text", 1, EDIT_PREFIX).alias("pre"))
    j = (pairs
         .join(pre.select(F.col("doc_id").alias("doc_a"),
                          F.col("pre").alias("pre_a")), "doc_a")
         .join(pre.select(F.col("doc_id").alias("doc_b"),
                          F.col("pre").alias("pre_b")), "doc_b"))
    sim = F.round(
        1.0 - F.levenshtein("pre_a", "pre_b")
        / F.greatest(F.length("pre_a"), F.length("pre_b")), 6)
    return (j.select("doc_a", "doc_b", sim.alias("edit_sim"))
            .filter(F.col("edit_sim") >= EDIT_SIM_MIN))


def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT thresholded Jaccard self-join via PPJoin-style prefix
    filtering — the lossless (no false negatives) counterpart to the
    probabilistic MinHash-LSH pipeline, candidates bounded by
    rarest-token prefixes instead of band buckets."""
    from ..operators.dedup import prefix_jaccard_pairs
    docs = load_table(spark, sf_dir, "documents")
    return prefix_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)


CONTAINMENT_THRESHOLD = 0.95


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set containment |A∩B|/|A| ≥ 0.95 — quote/near-subset
    detection, the dedup signal Jaccard dilutes on length-mismatched
    pairs; A-side-only prefix filter (lossless, same pigeonhole as the
    symmetric PPJoin)."""
    from ..operators.dedup import containment_pairs
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=CONTAINMENT_THRESHOLD)



INC_DEDUP_MOD = 5    # doc_id %% 5 == 0 plays the incoming ingest batch


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest-batch dedup (operators.dedup.incremental_dedup,
    r9): every 5th document plays the day's incoming batch, the rest the
    historical corpus; each incoming doc is flagged exact_dup (token-set
    key already in history), near_dup (shared MinHash band + verified
    Jaccard >= {thr} against a historical doc only), or unique — with the
    best historical match and its Jaccard.  No incoming x incoming or
    historical x historical pair work anywhere: the production daily-job
    shape where history is a persisted fingerprint store."""
    from pyspark.sql import functions as F

    from ..operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    return incremental_dedup(
        docs, (F.col("doc_id").cast("bigint") % INC_DEDUP_MOD) != 0,
        JACCARD_THRESHOLD)


q_incremental_dedup.__doc__ = q_incremental_dedup.__doc__.format(
    thr=JACCARD_THRESHOLD)


def q_store_rollover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-DAY fingerprint-store maintenance loop (r10) — the piece that
    turns the one-shot ``dedup_incremental`` into a running pipeline:

    1. build the store from the initial history (doc_id % 5 in 1..3);
    2. DAY 1: flag the % 5 == 4 batch against the store, then APPEND the
       day's UNIQUE docs' fingerprints (``dedup.append_fingerprints`` —
       append-only log, min-per-key re-aggregated at probe time, never
       read-modify-write);
    3. DAY 2: flag the % 5 == 0 batch against the GROWN store.

    Returned rows are day 2's flags: a day-2 doc must now flag as a dup
    of a day-1 UNIQUE twin (which yesterday's store did not contain) —
    exactly what the oracle replays from first principles (day-1
    flagging, the unique set, the union history, day-2 flagging).  A
    green row certifies the store's append semantics end-to-end."""
    return _rollover_flow(spark, sf_dir, compact=False)


def q_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rollover flow with a COMPACTION between the days
    (``dedup.compact_fingerprint_store``): the append-only keys log is
    rewritten to its min-per-key snapshot (atomic directory swap) after
    day 1's append, and day 2 probes the compacted store.  Compaction
    is result-invariant by construction (the probe min-aggregates the
    log anyway), so the oracle is the SAME two-day replay as
    dedup_store_rollover — a green row certifies the maintenance
    rewrite loses nothing."""
    return _rollover_flow(spark, sf_dir, compact=True)


DELETE_MODS = (1, 4)     # nid % 10 values tombstoned in the delete row


def q_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rollover flow with DELETIONS between the days (r11 —
    ``dedup.delete_fingerprints``): after day 1's append, docs with
    nid % 10 in {1, 4} are tombstoned ({1} ⊂ the initial history,
    {4} ⊂ day-1 appended uniques; tombstones for day-1 DUPS are no-ops
    since they were never appended), and day 2 probes the store with
    the tombstones masked at read time.  The oracle replays day 2
    against history MINUS the deleted ids — a deleted doc must never
    flag a day-2 dup, and a day-2 doc whose only twin was deleted must
    come out unique.  The takedown/GDPR path, certified end-to-end."""
    return _rollover_flow(spark, sf_dir, compact=False, delete=True)


def _rollover_flow(spark: SparkSession, sf_dir: str,
                   compact: bool, delete: bool = False) -> DataFrame:
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.dedup import (append_fingerprints,
                                   compact_fingerprint_store,
                                   delete_fingerprints,
                                   flag_batch_against_store,
                                   write_fingerprint_store)

    docs = load_table(spark, sf_dir, "documents")
    nid = F.col("doc_id").cast("bigint")
    tag = "del" if delete else ("cmp" if compact else "app")
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    store = os.path.join(scratch, f"fp_rollover_{tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"fp_rollover_{tag}_*", keep=store)

    write_fingerprint_store(docs.filter((nid % 5).isin(1, 2, 3)), store)
    day1 = docs.filter((nid % 5) == 4)
    flags1 = flag_batch_against_store(day1, store, JACCARD_THRESHOLD)
    uniq1 = (day1.join(
        flags1.filter(F.col("status") == "unique")
        .select(F.col("doc_id").cast("bigint").alias("__uid")),
        nid == F.col("__uid")).drop("__uid"))
    append_fingerprints(uniq1, store)
    if delete:
        delete_fingerprints(
            spark, store,
            docs.filter((nid % 10).isin(*DELETE_MODS)).select("doc_id"))
    if compact:
        compact_fingerprint_store(spark, store)
    return flag_batch_against_store(docs.filter((nid % 5) == 0), store,
                                    JACCARD_THRESHOLD)


QUERIES = {
    "dedup_exact_substring": q_exact_substring,
    "dedup_exact_substring_clean": q_exact_substring_clean,
    "dedup_exact_substring_keepone": q_exact_substring_keepone,
    "dedup_exact_substring_incremental": q_exact_substring_incremental,
    "dedup_prefix_jaccard": q_prefix_jaccard,
    "dedup_containment": q_containment,
    "dedup_edit_verify": q_edit_verify,
    "dedup_winnow_fp": q_winnow_fingerprints,
    "dedup_winnow_overlap": q_winnow_overlap,
    "dedup_exact": q_dedup_exact,
    "dedup_tokenset": q_dedup_tokenset,
    "dedup_minhash_sig": q_minhash_signatures,
    "dedup_minhash_near": q_minhash_near_dups,
    "dedup_ngram_jaccard": q_ngram_jaccard,
    "dedup_simhash": q_simhash,
    "dedup_simhash_near": q_simhash_near_dups,
    # last within the family: the most expensive gate entry (iterative CC
    # rounds); its candidate/verify pipeline is already covered by
    # dedup_minhash_near above, so under a tight driver budget the cheap
    # proofs land first.
    "dedup_clusters": q_near_dup_clusters,
    "dedup_keep_best": q_keep_best,
    "dedup_incremental": q_incremental_dedup,
    "dedup_store_rollover": q_store_rollover,
    "dedup_store_compact": q_store_compact,
    "dedup_store_delete": q_store_delete,
}




# --- oracle generation -----------------------------------------------------

def _sig_cte() -> str:
    """tokens → distinct token sets → portable hash → 16 min-hash slots."""
    mins = ",\n           ".join(minhash_sql_exprs("h"))
    return f"""
ts AS (SELECT DISTINCT doc_id, term FROM tokens),
h AS (SELECT doc_id, {md5_hash64_sql('term')} % {MERSENNE_P} AS h FROM ts),
sig AS (SELECT doc_id,
           {mins}
        FROM h GROUP BY doc_id)
"""


def _bands_cte() -> str:
    rows = []
    for bnd in range(NUM_BANDS):
        cols = ", ".join(f"sig{bnd * BAND_SIZE + r}" for r in range(BAND_SIZE))
        rows.append(f"SELECT doc_id, {bnd} AS band_id, "
                    f"md5(concat_ws(',', {cols})) AS band_key FROM sig")
    return "bands AS (\n  " + "\n  UNION ALL ".join(rows) + ")"


# Every similarity WHERE below thresholds the 6dp-ROUNDED ratio, matching
# the Spark side (jaccard_verify_arrays / containment_pairs filter the
# rounded column): thresholding different values would drop/keep pairs
# within 5e-7 of the threshold inconsistently once unions grow past ~2e6
# tokens (r7 ADVICE).
_JACCARD_TAIL = """
sizes AS (SELECT doc_id, count(*) AS sz FROM ts GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN ts x ON x.doc_id = c.doc_a
  JOIN ts y ON y.doc_id = c.doc_b AND y.term = x.term
  GROUP BY c.doc_a, c.doc_b)
SELECT i.doc_a, i.doc_b,
       round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) >= {thr}
"""

_SIMHASH_VOTES = ",\n           ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS v{i}"
    for i in range(SIMHASH_BITS))
_SIMHASH_PACK = " + ".join(
    f"(CASE WHEN v{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END)"
    for i in range(SIMHASH_BITS))

_SIMHASH_CTE = f"""
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
hh AS (SELECT doc_id, tf, {md5_hash64_sql('term')} AS h FROM tf),
votes AS (SELECT doc_id,
           {_SIMHASH_VOTES}
          FROM hh GROUP BY doc_id),
sig AS (SELECT doc_id, {_SIMHASH_PACK} AS simhash FROM votes)
"""

_SIMHASH_BANDS = "\n  UNION ALL ".join(
    f"SELECT doc_id, simhash, {b} AS band_id, (simhash >> {b * 15}) & 32767 AS band_val FROM sig"
    for b in range(4))

_WINNOW_FP_CTE = f"""
led AS (
  SELECT doc_id, position,
         term || ' ' || lead(term, 1) OVER w || ' ' || lead(term, 2) OVER w AS sh,
         lead(term, 2) OVER w AS t2
  FROM tokens
  WINDOW w AS (PARTITION BY doc_id ORDER BY position)),
hashes AS (
  SELECT doc_id, position, {md5_hash64_sql('sh')} AS h
  FROM led WHERE t2 IS NOT NULL),
fp AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY position
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
  FROM hashes)
"""

# Exact-substring oracle: lead-built length-L shingles (the same
# space-joined run strings the Spark side verifies against), duplicated
# CONTENT count, per-doc gaps-and-islands span merge.  Grouping is by the
# run string itself — the r12 verified semantics (the Spark side's 60-bit
# hash is only a candidate prefilter; content decides), so a hash
# collision can never enter the checked contract.
_EXSUB_SHINGLE = " || ' ' || ".join(
    ["term"] + [f"lead(term, {i}) OVER w" for i in range(1, EXSUB_LEN)])
_EXSUB_CTES = f"""led AS (
  SELECT doc_id, position AS pos,
         {_EXSUB_SHINGLE} AS shingle,
         lead(term, {EXSUB_LEN - 1}) OVER w AS t_last
  FROM tokens
  WINDOW w AS (PARTITION BY doc_id ORDER BY position)),
sh AS (SELECT doc_id, pos, shingle FROM led WHERE t_last IS NOT NULL),
dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2),
dpos AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (shingle)),
isl AS (SELECT doc_id, pos,
        sum(CASE WHEN prev IS NULL OR pos > prev + {EXSUB_LEN}
                 THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY pos
                ROWS UNBOUNDED PRECEDING) AS island
        FROM (SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM dpos)),
spans AS (SELECT doc_id,
       CAST(min(pos) AS INTEGER) AS span_start,
       CAST(max(pos) + {EXSUB_LEN} - 1 AS INTEGER) AS span_end,
       CAST(max(pos) - min(pos) + {EXSUB_LEN} AS INTEGER) AS n_tokens
FROM isl GROUP BY doc_id, island)"""

_EXSUB_SQL = (f"WITH {_TOKENS_CTE}, {_EXSUB_CTES}\n"
              "SELECT doc_id, span_start, span_end, n_tokens FROM spans")

# Cleaning twin: maximal spans are disjoint, so each removed position
# joins exactly one span; kept tokens re-join in position order.
_EXSUB_CLEAN_SQL = f"""
WITH {_TOKENS_CTE}, {_EXSUB_CTES},
rem AS (SELECT t.doc_id, t.position
        FROM tokens t JOIN spans s ON s.doc_id = t.doc_id
         AND t.position BETWEEN s.span_start AND s.span_end),
kept AS (SELECT t.doc_id, t.position, t.term
         FROM tokens t LEFT JOIN rem r
           ON r.doc_id = t.doc_id AND r.position = t.position
         WHERE r.position IS NULL),
tot AS (SELECT doc_id, count(*) AS n_tok FROM tokens GROUP BY doc_id),
agg AS (SELECT doc_id,
               string_agg(term, ' ' ORDER BY position) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept,
       CAST(coalesce(t.n_tok, 0) - coalesce(a.n_kept, 0) AS INTEGER)
           AS n_removed
FROM docs d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


# Keep-one twin: span content from the token stream, globally-first site
# (lowest numeric doc_id, then span_start) per distinct content kept, the
# rest cut — the same clean tail over the reduced span set.
_EXSUB_KEEPONE_SQL = f"""
WITH {_TOKENS_CTE}, {_EXSUB_CTES},
sp_txt AS (
  SELECT s.doc_id, s.span_start, s.span_end,
         string_agg(t.term, ' ' ORDER BY t.position) AS span_txt
  FROM spans s JOIN tokens t ON t.doc_id = s.doc_id
   AND t.position BETWEEN s.span_start AND s.span_end
  GROUP BY 1, 2, 3),
cut AS (
  SELECT doc_id, span_start, span_end FROM (
    SELECT doc_id, span_start, span_end,
           row_number() OVER (PARTITION BY span_txt
             ORDER BY TRY_CAST(doc_id AS BIGINT) ASC NULLS FIRST,
                      doc_id, span_start) AS rn
    FROM sp_txt) WHERE rn > 1),
rem AS (SELECT t.doc_id, t.position
        FROM tokens t JOIN cut s ON s.doc_id = t.doc_id
         AND t.position BETWEEN s.span_start AND s.span_end),
kept AS (SELECT t.doc_id, t.position, t.term
         FROM tokens t LEFT JOIN rem r
           ON r.doc_id = t.doc_id AND r.position = t.position
         WHERE r.position IS NULL),
tot AS (SELECT doc_id, count(*) AS n_tok FROM tokens GROUP BY doc_id),
agg AS (SELECT doc_id,
               string_agg(term, ' ' ORDER BY position) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept,
       CAST(coalesce(t.n_tok, 0) - coalesce(a.n_kept, 0) AS INTEGER)
           AS n_removed
FROM docs d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


# Incremental ExactSubstr oracle: the union-corpus shingle relation,
# restricted to BATCH positions whose run CONTENT exists in history —
# the one-sided probe semantics (within-batch-only repeats are the batch
# row's job and must NOT appear here).
_EXSUB_INC_SQL = f"""
WITH {_TOKENS_CTE},
led AS (
  SELECT doc_id, position AS pos,
         {_EXSUB_SHINGLE} AS shingle,
         lead(term, {EXSUB_LEN - 1}) OVER w AS t_last
  FROM tokens
  WINDOW w AS (PARTITION BY doc_id ORDER BY position)),
sh AS (SELECT doc_id, pos, shingle FROM led WHERE t_last IS NOT NULL),
hist_runs AS (SELECT DISTINCT shingle FROM sh
              WHERE CAST(doc_id AS BIGINT) % {EXSUB_INC_MOD} <> 0),
dpos AS (SELECT s.doc_id, s.pos FROM sh s JOIN hist_runs USING (shingle)
         WHERE CAST(s.doc_id AS BIGINT) % {EXSUB_INC_MOD} = 0),
isl AS (SELECT doc_id, pos,
        sum(CASE WHEN prev IS NULL OR pos > prev + {EXSUB_LEN}
                 THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY pos
                ROWS UNBOUNDED PRECEDING) AS island
        FROM (SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM dpos)),
spans AS (SELECT doc_id,
       CAST(min(pos) AS INTEGER) AS span_start,
       CAST(max(pos) + {EXSUB_LEN} - 1 AS INTEGER) AS span_end,
       CAST(max(pos) - min(pos) + {EXSUB_LEN} AS INTEGER) AS n_tokens
FROM isl GROUP BY doc_id, island)
SELECT doc_id, span_start, span_end, n_tokens FROM spans
"""


_CC_ROUNDS = 8  # hop+jump per round ⇒ exact for any diameter ≤ ~2^8


def _clusters_oracle() -> str:
    """Connected components as UNROLLED min-label propagation with pointer
    jumping (the same algorithm the Spark operator iterates), not
    transitive closure: per round the state is one label per node (linear),
    where the old recursive-CTE reachability materialized O(Σ cluster²)
    pairs and blew up on large self-similar corpora.  Exact whenever the
    graph diameter ≤ ~2^_CC_ROUNDS — astronomically beyond any real
    near-dup graph."""
    near = ("WITH " + _TOKENS_CTE + ", " + _sig_cte().strip() + ", "
            + _bands_cte() + ",\n"
            "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
            "  FROM bands a JOIN bands b USING (band_id, band_key)\n"
            "  WHERE CAST(a.doc_id AS BIGINT) < CAST(b.doc_id AS BIGINT)),\n"
            + _JACCARD_TAIL.format(thr=JACCARD_THRESHOLD))
    ctes = [
        f"""edges AS MATERIALIZED (
  SELECT CAST(doc_a AS BIGINT) AS a, CAST(doc_b AS BIGINT) AS b
  FROM ({near}))""",
        "bidir AS MATERIALIZED (SELECT a AS x, b AS y FROM edges\n"
        "          UNION ALL SELECT b, a FROM edges)",
        "l0 AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) AS id,\n"
        "              CAST(doc_id AS BIGINT) AS comp FROM documents)",
    ]
    for i in range(1, _CC_ROUNDS + 1):
        ctes.append(f"""h{i} AS MATERIALIZED (
  SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
  FROM l{i - 1} l
  LEFT JOIN bidir b ON b.x = l.id
  LEFT JOIN l{i - 1} n ON n.id = b.y
  GROUP BY l.id, l.comp)""")
        ctes.append(f"l{i} AS MATERIALIZED (SELECT h.id, p.comp FROM h{i} h "
                    f"JOIN h{i} p ON p.id = h.comp)")
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT CAST(id AS VARCHAR) AS doc_id,
       CAST(comp AS VARCHAR) AS cluster_rep,
       id = comp AS is_survivor
FROM l{_CC_ROUNDS}
"""


_NEAR_SQL = (
    f"WITH {_TOKENS_CTE}, {_sig_cte().strip()}, {_bands_cte()},\n"
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
    "  FROM bands a JOIN bands b USING (band_id, band_key)\n"
    "  WHERE CAST(a.doc_id AS BIGINT) < CAST(b.doc_id AS BIGINT)),\n"
    + _JACCARD_TAIL.format(thr=JACCARD_THRESHOLD))


_INC_SQL = (
    f"WITH {_TOKENS_CTE}, {_sig_cte().strip()}, {_bands_cte()},\n"
    """ids AS (SELECT doc_id, CAST(doc_id AS BIGINT) AS nid FROM docs),
keys AS (SELECT d.doc_id, i.nid,
                md5(array_to_string(list_sort(list_distinct(d.toks)), ' '))
                    AS k
         FROM docs d JOIN ids i USING (doc_id)),
hk AS (SELECT k, min(nid) AS exact_nid
       FROM keys WHERE nid % {mod} <> 0 GROUP BY k),
exact AS (SELECT ky.doc_id, ky.nid, hk.exact_nid
          FROM keys ky LEFT JOIN hk USING (k)
          WHERE ky.nid % {mod} = 0),
cand AS MATERIALIZED (
  SELECT DISTINCT e.doc_id AS inc_id, hb.doc_id AS hist_id,
         CAST(hb.doc_id AS BIGINT) AS hist_nid
  FROM exact e
  JOIN bands ib ON ib.doc_id = e.doc_id
  JOIN bands hb ON hb.band_id = ib.band_id AND hb.band_key = ib.band_key
       AND CAST(hb.doc_id AS BIGINT) % {mod} <> 0
  WHERE e.exact_nid IS NULL),
sizes AS (SELECT doc_id, count(*) AS sz FROM ts GROUP BY doc_id),
inter AS (
  SELECT c.inc_id, c.hist_nid, count(*) AS n_inter, sa.sz AS sa, sb.sz AS sb
  FROM cand c
  JOIN ts x ON x.doc_id = c.inc_id
  JOIN ts y ON y.doc_id = c.hist_id AND y.term = x.term
  JOIN sizes sa ON sa.doc_id = c.inc_id
  JOIN sizes sb ON sb.doc_id = c.hist_id
  GROUP BY c.inc_id, c.hist_nid, sa.sz, sb.sz),
ver AS (SELECT inc_id, hist_nid,
               round(CAST(n_inter AS DOUBLE) / (sa + sb - n_inter), 6) AS j
        FROM inter
        WHERE round(CAST(n_inter AS DOUBLE) / (sa + sb - n_inter), 6)
              >= {thr}),
best AS (SELECT inc_id, hist_nid, j,
                row_number() OVER (PARTITION BY inc_id
                                   ORDER BY j DESC, hist_nid) AS rn
         FROM ver)
SELECT e.doc_id,
       CASE WHEN e.exact_nid IS NOT NULL THEN 'exact_dup'
            WHEN b.hist_nid IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status,
       CASE WHEN e.exact_nid IS NOT NULL THEN CAST(e.exact_nid AS VARCHAR)
            WHEN b.hist_nid IS NOT NULL THEN CAST(b.hist_nid AS VARCHAR)
            END AS match_id,
       CASE WHEN e.exact_nid IS NOT NULL THEN 1.0 ELSE b.j END AS jaccard
FROM exact e LEFT JOIN best b ON b.inc_id = e.doc_id AND b.rn = 1
""".format(mod=INC_DEDUP_MOD, thr=JACCARD_THRESHOLD))

def _day_flag_ctes(sfx: str, hist_cte: str, inc_pred: str,
                   thr: float) -> str:
    """One day of incremental flagging as a CTE block (suffix ``sfx``):
    exact keys from ``hist_cte`` (doc_id, nid rows), band candidates
    restricted to that history, Jaccard verify, best match.  Emits CTEs
    hk{sfx}, e{sfx}, cand{sfx}, inter{sfx}, ver{sfx}, best{sfx} — the
    same machinery as _INC_SQL with the history RELATION as a
    parameter, so a multi-day store-rollover oracle can chain days."""
    return f"""hk{sfx} AS (SELECT k, min(ky.nid) AS exact_nid
  FROM keys ky JOIN {hist_cte} h ON h.doc_id = ky.doc_id GROUP BY k),
e{sfx} AS MATERIALIZED (SELECT ky.doc_id, ky.nid, hk{sfx}.exact_nid
  FROM keys ky LEFT JOIN hk{sfx} USING (k) WHERE {inc_pred}),
cand{sfx} AS MATERIALIZED (
  SELECT DISTINCT e.doc_id AS inc_id, hb.doc_id AS hist_id,
         CAST(hb.doc_id AS BIGINT) AS hist_nid
  FROM e{sfx} e
  JOIN bands ib ON ib.doc_id = e.doc_id
  JOIN bands hb ON hb.band_id = ib.band_id AND hb.band_key = ib.band_key
  JOIN {hist_cte} h ON h.doc_id = hb.doc_id
  WHERE e.exact_nid IS NULL),
inter{sfx} AS (
  SELECT c.inc_id, c.hist_nid, count(*) AS n_inter,
         sa.sz AS sa, sb.sz AS sb
  FROM cand{sfx} c
  JOIN ts x ON x.doc_id = c.inc_id
  JOIN ts y ON y.doc_id = c.hist_id AND y.term = x.term
  JOIN sizes sa ON sa.doc_id = c.inc_id
  JOIN sizes sb ON sb.doc_id = c.hist_id
  GROUP BY c.inc_id, c.hist_nid, sa.sz, sb.sz),
ver{sfx} AS (SELECT inc_id, hist_nid,
        round(CAST(n_inter AS DOUBLE) / (sa + sb - n_inter), 6) AS j
  FROM inter{sfx}
  WHERE round(CAST(n_inter AS DOUBLE) / (sa + sb - n_inter), 6) >= {thr}),
best{sfx} AS (SELECT inc_id, hist_nid, j,
        row_number() OVER (PARTITION BY inc_id
                           ORDER BY j DESC, hist_nid) AS rn
  FROM ver{sfx})"""


def _rollover_sql(h2_where: str = "", both_days: bool = False) -> str:
    """The two-day store-maintenance replay, with day-2's history
    optionally filtered (the tombstone-delete oracle passes a WHERE
    excluding the deleted ids).  ``both_days`` additionally emits day 1's
    flags (the streaming rollover drains BOTH days into its sink)."""
    day1_select = """
SELECT e.doc_id,
       CASE WHEN e.exact_nid IS NOT NULL THEN 'exact_dup'
            WHEN b.hist_nid IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status,
       CASE WHEN e.exact_nid IS NOT NULL THEN CAST(e.exact_nid AS VARCHAR)
            WHEN b.hist_nid IS NOT NULL THEN CAST(b.hist_nid AS VARCHAR)
            END AS match_id,
       CASE WHEN e.exact_nid IS NOT NULL THEN 1.0 ELSE b.j END AS jaccard
FROM e1 e LEFT JOIN best1 b ON b.inc_id = e.doc_id AND b.rn = 1
UNION ALL """ if both_days else ""
    return (
        f"WITH {_TOKENS_CTE}, {_sig_cte().strip()}, {_bands_cte()},\n"
        f"""ids AS (SELECT doc_id, CAST(doc_id AS BIGINT) AS nid FROM docs),
keys AS (SELECT d.doc_id, i.nid,
                md5(array_to_string(list_sort(list_distinct(d.toks)), ' '))
                    AS k
         FROM docs d JOIN ids i USING (doc_id)),
sizes AS (SELECT doc_id, count(*) AS sz FROM ts GROUP BY doc_id),
h1 AS (SELECT doc_id, nid FROM ids WHERE nid % 5 IN (1, 2, 3)),
{_day_flag_ctes('1', 'h1', 'ky.nid % 5 = 4', JACCARD_THRESHOLD)},
u1 AS (SELECT e.doc_id, e.nid
  FROM e1 e LEFT JOIN best1 b ON b.inc_id = e.doc_id AND b.rn = 1
  WHERE e.exact_nid IS NULL AND b.hist_nid IS NULL),
h2 AS (SELECT * FROM (SELECT * FROM h1
                      UNION ALL SELECT doc_id, nid FROM u1) {h2_where}),
{_day_flag_ctes('2', 'h2', 'ky.nid % 5 = 0', JACCARD_THRESHOLD)}
{day1_select}SELECT e.doc_id,
       CASE WHEN e.exact_nid IS NOT NULL THEN 'exact_dup'
            WHEN b.hist_nid IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status,
       CASE WHEN e.exact_nid IS NOT NULL THEN CAST(e.exact_nid AS VARCHAR)
            WHEN b.hist_nid IS NOT NULL THEN CAST(b.hist_nid AS VARCHAR)
            END AS match_id,
       CASE WHEN e.exact_nid IS NOT NULL THEN 1.0 ELSE b.j END AS jaccard
FROM e2 e LEFT JOIN best2 b ON b.inc_id = e.doc_id AND b.rn = 1
""")


_ROLLOVER_SQL = _rollover_sql()
_DELETE_SQL = _rollover_sql(
    f"WHERE nid % 10 NOT IN {DELETE_MODS}")


ORACLES = {
    "dedup_exact_substring": _EXSUB_SQL,
    "dedup_exact_substring_clean": _EXSUB_CLEAN_SQL,
    "dedup_exact_substring_keepone": _EXSUB_KEEPONE_SQL,
    "dedup_exact_substring_incremental": _EXSUB_INC_SQL,
    "dedup_incremental": _INC_SQL,
    "dedup_store_rollover": _ROLLOVER_SQL,
    # Compaction is result-invariant (per-doc distinct minus tombstones;
    # the probe min-aggregates anyway): same two-day replay; the green
    # row's information is that the rewrite+swap lost nothing.
    "dedup_store_compact": _ROLLOVER_SQL,
    # Day-2 replay against history MINUS the tombstoned ids — certifies
    # the read-time tombstone masking of all three store relations.
    "dedup_store_delete": _DELETE_SQL,
    "dedup_edit_verify": f"""
WITH pre AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                    substr(text, 1, {EDIT_PREFIX}) AS pre FROM documents),
np AS (SELECT doc_a, doc_b FROM ({_NEAR_SQL}))
SELECT np.doc_a, np.doc_b,
       round(1.0 - levenshtein(a.pre, b.pre)
             / greatest(length(a.pre), length(b.pre)), 6) AS edit_sim
FROM np JOIN pre a ON a.doc_id = np.doc_a
        JOIN pre b ON b.doc_id = np.doc_b
WHERE round(1.0 - levenshtein(a.pre, b.pre)
            / greatest(length(a.pre), length(b.pre)), 6) >= {EDIT_SIM_MIN}
""",
    "dedup_clusters": _clusters_oracle(),
    # Clusters re-derived by the same unrolled propagation, then the keep
    # policy re-applied as a window — certifying policy AND clustering.
    "dedup_keep_best": f"""
WITH cl AS MATERIALIZED (SELECT * FROM ({_clusters_oracle()})),
q AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, length(text) AS n_chars
      FROM documents),
j AS (SELECT cl.cluster_rep, cl.doc_id, q.n_chars
      FROM cl JOIN q USING (doc_id)),
r AS (SELECT cluster_rep, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster_rep
                                ORDER BY n_chars DESC,
                                         CAST(doc_id AS BIGINT)) AS rn,
             count(*) OVER (PARTITION BY cluster_rep) AS n_members
      FROM j)
SELECT cluster_rep, doc_id AS best_doc,
       CAST(n_chars AS INTEGER) AS best_chars, n_members
FROM r WHERE rn = 1
""",
    "dedup_winnow_fp": f"WITH {_TOKENS_CTE}, {_WINNOW_FP_CTE} "
                       "SELECT doc_id, fingerprint FROM fp",
    "dedup_winnow_overlap": f"""
WITH {_TOKENS_CTE}, {_WINNOW_FP_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint
WHERE CAST(a.doc_id AS BIGINT) < CAST(b.doc_id AS BIGINT)
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 5
""",
    "dedup_exact": """
SELECT CAST(min(doc_id) AS VARCHAR) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
    "dedup_tokenset": f"""
WITH {_TOKENS_CTE}
SELECT CAST(min(CAST(doc_id AS BIGINT)) AS VARCHAR) AS doc_id,
       count(*) AS n_copies
FROM (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS k
      FROM docs)
GROUP BY k
""",
    "dedup_minhash_sig": f"WITH {_TOKENS_CTE}, {_sig_cte().strip().lstrip()} "
                         f"SELECT * FROM sig",
    "dedup_minhash_near": _NEAR_SQL,
    "dedup_ngram_jaccard": f"""
WITH {_TOKENS_CTE},
led AS (
  SELECT doc_id, term,
         lead(term, 1) OVER (PARTITION BY doc_id ORDER BY position) AS t1,
         lead(term, 2) OVER (PARTITION BY doc_id ORDER BY position) AS t2
  FROM tokens),
sh AS (SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
       FROM led WHERE t2 IS NOT NULL),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle
  WHERE CAST(x.doc_id AS BIGINT) < CAST(y.doc_id AS BIGINT)
  GROUP BY x.doc_id, y.doc_id)
SELECT i.doc_a, i.doc_b,
       round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) >= {NGRAM_THRESHOLD}
""",
    # Deliberately prefix-FREE: the oracle is the plain thresholded
    # Jaccard join over all token-sharing pairs, so a green row PROVES the
    # Spark side's prefix filter is lossless (generates every qualifying
    # pair), not merely self-consistent.
    "dedup_prefix_jaccard": f"""
WITH {_TOKENS_CTE},
ts AS (SELECT DISTINCT doc_id, term FROM tokens),
sizes AS (SELECT doc_id, count(*) AS sz FROM ts GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
  FROM ts x JOIN ts y ON x.term = y.term
  WHERE CAST(x.doc_id AS BIGINT) < CAST(y.doc_id AS BIGINT)
  GROUP BY x.doc_id, y.doc_id)
SELECT i.doc_a, i.doc_b,
       round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) >= {JACCARD_THRESHOLD}
""",
    # Prefix-free for the same reason as dedup_prefix_jaccard: the plain
    # all-ordered-pairs containment join proves the A-side prefix filter
    # loses nothing.
    "dedup_containment": f"""
WITH {_TOKENS_CTE},
ts AS (SELECT DISTINCT doc_id, term FROM tokens),
sizes AS (SELECT doc_id, count(*) AS sz FROM ts GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS doc_sub, y.doc_id AS doc_sup, count(*) AS n_inter
  FROM ts x JOIN ts y ON x.term = y.term AND x.doc_id <> y.doc_id
  GROUP BY 1, 2)
SELECT i.doc_sub, i.doc_sup,
       round(CAST(n_inter AS DOUBLE) / s.sz, 6) AS containment
FROM inter i JOIN sizes s ON s.doc_id = i.doc_sub
WHERE round(CAST(n_inter AS DOUBLE) / s.sz, 6) >= {CONTAINMENT_THRESHOLD}
""",
    "dedup_simhash": f"WITH {_TOKENS_CTE}, {_SIMHASH_CTE} SELECT doc_id, simhash FROM sig",
    "dedup_simhash_near": f"""
WITH {_TOKENS_CTE}, {_SIMHASH_CTE},
bands AS (
  {_SIMHASH_BANDS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
  WHERE CAST(a.doc_id AS BIGINT) < CAST(b.doc_id AS BIGINT))
SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
""",
}


# DuckDB inlines every CTE reference by default, so a CTE referenced more
# than once re-runs its whole subtree — and the optimizer can then
# degenerate the re-planned copies (the triangles oracle turned into a
# nested-loop product this way; the band self-join here re-ran the full
# tokenize+signature build per side).  Forcing MATERIALIZED on the known
# CTE names is semantically neutral (verified row-identical at sf0.1:
# 962,653 pairs) and ~20% faster on the heaviest oracle.
#
# The rewrite is scoped to an EXPLICIT per-query CTE list (round-6
# ADVICE): a blanket module-wide substitution over 18 short names would
# silently rewrite a future oracle that happens to use one of these
# tokens in another context.  Each listed name must match exactly once in
# its query's SQL — zero matches (a renamed CTE) or several (an
# ambiguous token) raise at import, so drift is an error, not a silent
# semantic change.
_MATERIALIZED_CTES: dict[str, tuple[str, ...]] = {
    "dedup_exact_substring": ("docs", "tokens", "sh", "dup", "dpos"),
    "dedup_exact_substring_clean": ("docs", "tokens", "sh", "dup", "dpos",
                                    "spans", "rem", "kept"),
    "dedup_exact_substring_keepone": ("docs", "tokens", "sh", "dup", "dpos",
                                      "spans", "sp_txt", "cut", "rem",
                                      "kept"),
    "dedup_exact_substring_incremental": ("docs", "tokens", "sh",
                                          "hist_runs", "dpos"),
    "dedup_tokenset": ("docs", "tokens"),
    "dedup_minhash_sig": ("docs", "tokens", "ts", "h", "sig"),
    "dedup_minhash_near": ("docs", "tokens", "ts", "h", "sig", "bands",
                           "cand", "sizes", "inter"),
    "dedup_clusters": ("docs", "tokens", "ts", "h", "sig", "bands",
                       "cand", "sizes", "inter"),
    "dedup_edit_verify": ("docs", "tokens", "ts", "h", "sig", "bands",
                          "cand", "sizes", "inter", "pre", "np"),
    "dedup_ngram_jaccard": ("docs", "tokens", "sh", "sizes", "inter",
                            "led"),
    "dedup_prefix_jaccard": ("docs", "tokens", "ts", "sizes", "inter"),
    "dedup_containment": ("docs", "tokens", "ts", "sizes", "inter"),
    "dedup_simhash": ("docs", "tokens", "tf", "hh", "votes", "sig"),
    "dedup_simhash_near": ("docs", "tokens", "tf", "hh", "votes", "sig",
                           "bands", "cand"),
    "dedup_winnow_fp": ("docs", "tokens", "hashes", "led", "fp"),
    "dedup_winnow_overlap": ("docs", "tokens", "hashes", "led", "fp"),
}


def _materialize(name: str, sql: str) -> str:
    import re as _re
    for n in _MATERIALIZED_CTES.get(name, ()):
        sql, hits = _re.subn(rf"\b{n} AS \(", f"{n} AS MATERIALIZED (", sql)
        if hits != 1:
            raise ValueError(
                f"{name}: CTE {n!r} matched {hits} times (expected 1) — "
                f"update _MATERIALIZED_CTES to match the oracle SQL")
    return sql


ORACLES = {k: _materialize(k, v) for k, v in ORACLES.items()}
