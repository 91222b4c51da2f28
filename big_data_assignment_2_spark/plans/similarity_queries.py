"""Similarity-search family declared queries + DuckDB oracle twins.

Query set = the first 5 vectors (vec_id < 5); oracles replicate the exact
vector math — including the deterministic LSH hyperplane formula — in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (NUM_PLANES, PLANE_MOD, brute_force_topk,
                                    cosine_near_dups_banded, kmeans_assign,
                                    lsh_topk)
from ..sources.io import load_table

TOP_K = 10
N_QUERIES = 5
TOP_PAIRS = 20


def _queries_df(spark, sf_dir):
    em = load_table(spark, sf_dir, "embeddings")
    return em.filter(F.col("vec_id") < N_QUERIES) \
        .select(F.col("vec_id").alias("query_id"), "embedding")


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(em, _queries_df(spark, sf_dir), k=TOP_K)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(em, _queries_df(spark, sf_dir), k=TOP_K, probe_hamming=1)


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket histogram — exposes the LSH partitioning itself."""
    from ..operators.similarity import as_double, lsh_bucket

    em = load_table(spark, sf_dir, "embeddings")
    return (em.select(lsh_bucket(as_double("embedding")).alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("n_vectors")))


# Banded sign-LSH: 3 bands x 4 planes.  Width 4 is sized to THIS corpus
# (near-orthogonal embeddings, dup threshold 0.4 -> per-plane agreement
# ~0.63, so per-band recall 0.63^4 ~ 0.16, OR of 3 bands ~ 0.41 of the
# weak 0.4-cosine pairs); a production 0.95-cosine near-dup run grows r
# with log2(corpus) instead (see banded_lsh_candidate_pairs docstring).
BAND_R = 4
BAND_B = 3

# Width-adaptive (scaled) top-pairs knobs — must match the oracle, which
# re-derives r from count(*) with the same integer inequality.
SCALED_BANDS = 4
SCALED_CPV = 100


def q_cosine_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dups_banded(em, threshold=COSINE_DUP_THRESHOLD,
                                   rows_per_band=BAND_R, bands=BAND_B)


def q_cosine_top_pairs_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Width-adaptive banded top pairs: band width r = band_width_for(N)
    is a pure (integer-exact) function of the corpus row count, so the
    DuckDB oracle re-derives the SAME r from ``count(*)`` in SQL and
    evaluates the plane sums for runtime r via nested
    ``list_transform(range(...))`` lambdas — the full adaptive pipeline
    (width choice included) is hash-certified at every scale."""
    from ..operators.similarity import cosine_top_pairs_scaled

    em = load_table(spark, sf_dir, "embeddings")
    return cosine_top_pairs_scaled(em, top_n=TOP_PAIRS, bands=SCALED_BANDS,
                                   candidates_per_vector=SCALED_CPV)


COSINE_DUP_THRESHOLD = 0.4  # harness embeddings are near-orthogonal
                            # (max pairwise cosine ≈ 0.48); production
                            # near-dup would use ~0.95+


def q_cosine_near_dups_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CERTIFIED DEFAULT embedding near-dup surface: width-adaptive
    banded sign-LSH candidates (r sized from the corpus row count via
    band_width_for, so E[random candidates] stays ~linear in N), exact
    cosine verification, threshold filter."""
    from ..operators.similarity import cosine_near_dups_scaled

    em = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dups_scaled(em, COSINE_DUP_THRESHOLD,
                                   bands=SCALED_BANDS,
                                   candidates_per_vector=SCALED_CPV)


def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    storage/serving compression step of a production vector index (4x
    smaller, dot products in int arithmetic).  Per-vector scale =
    max|x|/127; emits the scale, the quantized head (rendered as a string
    for the driver's canonicalizer), and the max absolute reconstruction
    error — all native array expressions, map-side only."""
    from ..operators.similarity import as_double

    em = load_table(spark, sf_dir, "embeddings")
    v = as_double("embedding")
    amax = F.array_max(F.transform(v, F.abs))
    # zero-vector guard (r14 advice) — same floor as sq8_dequantized
    scale = F.greatest(amax / F.lit(127.0), F.lit(1e-30))
    q = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    recon_err = F.array_max(
        F.zip_with(v, q, lambda x, qq: F.abs(x - qq.cast("double") * scale)))
    return em.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.array_join(F.transform(F.slice(q, 1, 8),
                                 lambda x: x.cast("string")), ",").alias("q_head"),
        F.round(recon_err, 6).alias("max_recon_err"))


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 memory tier under EXACT oracle check: asymmetric search —
    full-precision queries against the int8-quantized (scale=max|x|/127)
    then reconstructed corpus, the 4x-smaller-scan serving path between
    full floats and PQ codes.  Deterministic quantizer (shared with
    sim_quantize_int8), so ranking over the lossy store replays in SQL."""
    from ..operators.similarity import sq8_topk

    em = load_table(spark, sf_dir, "embeddings")
    return sq8_topk(em, _queries_df(spark, sf_dir), k=TOP_K)


KMEANS_K = 8
KMEANS_ITERS = 2
IVF_NPROBE = 2


def q_sq8_probe_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 memory tier PERSISTED and served (r15): write the int8
    code store (persist.write_sq8 — 1 byte/dim + one scale, the FAISS
    IndexScalarQuantizer layout; measured 5.2x smaller than the float64
    parquet at sf0.1, SCALE.md r15), then answer the query set from it
    (persist.sq8_probe_persisted: in-row codes x scale reconstruction
    over the 4x-smaller scan, exact-cosine asymmetric scoring).  Exact
    arithmetic end-to-end, so the in-flight sim_sq8_topk oracle applies
    VERBATIM — a green row certifies the persisted tier serves
    bit-identically to first principles."""
    import os
    import tempfile

    from ..operators.persist import sq8_probe_persisted, write_sq8
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"sq8_store_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"sq8_store_{sf_tag}_*", keep=path)
    write_sq8(em, path)
    return sq8_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                               k=TOP_K)


def q_sq8_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 store GROWTH (r15): write the int8 tier from 90% of the
    corpus, append the remaining 10% (persist.sq8_append — a pure
    partition append: per-vector scales mean NO trained state, no
    codebook freeze, no drift), probe the query set.  The grown store
    must serve exactly like a fresh full-corpus store — and since the
    encode is per-row deterministic, exactly like the in-flight
    sq8_topk, whose oracle applies VERBATIM.  The zero-maintenance
    counterpoint to sim_ivfpq_append_recall's frozen-codebook decay."""
    import os
    import tempfile

    from ..operators.persist import sq8_append, sq8_probe_persisted, write_sq8
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    nid = F.col("vec_id").cast("bigint")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"sq8_append_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"sq8_append_{sf_tag}_*", keep=path)
    write_sq8(em.filter((nid % APPEND_MOD) != APPEND_REM), path)
    sq8_append(em.filter((nid % APPEND_MOD) == APPEND_REM), path)
    return sq8_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                               k=TOP_K)


def _sq8_lifecycle_store(spark: SparkSession, sf_dir: str, tag: str,
                         compact: bool) -> DataFrame:
    """write_sq8(full) → sq8_delete(takedown set) → optional sq8_compact
    → probe: the shared body of the r16 delete/compact rows (VERDICT
    r15 #4 — the SQ8 tier now has the same tombstone lifecycle as its
    IVF+PQ, BM25, and fingerprint siblings, `operators/lifecycle.py`).
    Per-vector scales carry no trained state, so unlike IVF+PQ there is
    no frozen-codebook asymmetry to replay: the oracle is simply the
    in-flight SQ8 ranking with the tombstoned ids excluded as
    NEIGHBORS (queries untouched)."""
    import os
    import tempfile

    from ..operators.persist import (sq8_compact, sq8_delete,
                                     sq8_probe_persisted, write_sq8)
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    nid = F.col("vec_id").cast("bigint")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"sq8_{tag}_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"sq8_{tag}_{sf_tag}_*", keep=path)
    write_sq8(em, path)
    sq8_delete(spark, path,
               em.filter((nid % DELETE_MOD) == DELETE_REM).select("vec_id"))
    if compact:
        sq8_compact(spark, path)
    return sq8_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                               k=TOP_K)


def q_sq8_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 tier TOMBSTONE deletes (r16): write the full int8 store,
    tombstone the DELETE_MOD/DELETE_REM takedown set (persist.sq8_delete
    — the shared append-only lifecycle log), probe: survivors only,
    top-k refilled from the remaining rows, the delete visible before
    any compaction."""
    return _sq8_lifecycle_store(spark, sf_dir, "delete", compact=False)


def q_sq8_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 tier COMPACTION (r16): same takedown set, but physically
    rewritten (persist.sq8_compact — the shared atomic directory swap)
    and the tombstone log dropped before probing.  Compaction is
    result-invariant over the masked probe, so the oracle is identical
    to the delete row's: a green row certifies the rewrite left exactly
    the survivors' codes (also asserted bit-for-bit against a fresh
    survivors-only write_sq8 in tests/test_persist.py)."""
    return _sq8_lifecycle_store(spark, sf_dir, "compact", compact=True)


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (deterministic init, rounded centroid
    updates) — the oracle replays BOTH iterations in SQL, so this is an
    iterative ML algorithm under exact cross-engine verification."""
    em = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(em, k=KMEANS_K, iters=KMEANS_ITERS)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN under EXACT oracle check: the coarse quantizer is the
    deterministic Lloyd k-means (same CTE chain as sim_kmeans_assign), so
    list assignment, nprobe probe choice, and candidate ranking are all
    replayed in SQL — the approximate index's semantics, not just a recall
    bound, are the verified contract."""
    from ..operators.similarity import ivf_topk_deterministic

    em = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_deterministic(
        em, _queries_df(spark, sf_dir), k=TOP_K, n_centroids=KMEANS_K,
        iters=KMEANS_ITERS, nprobe=IVF_NPROBE)


def q_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search (the Qdrant/Weaviate/pgvector `WHERE` shape):
    each query retrieves its top-k only among vectors sharing its `label`
    — the predicate prunes candidates INSIDE the probed IVF lists
    (pre-filtering), before ranking, so a selective filter cannot starve
    the result set the way post-filtering an unfiltered top-k does.
    Fully deterministic (Lloyd coarse quantizer), so the oracle replays
    assignment, probe choice, label pruning, and ranking exactly."""
    from ..operators.similarity import ivf_topk_deterministic

    em = load_table(spark, sf_dir, "embeddings")
    q = (em.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), "embedding", "label"))
    return ivf_topk_deterministic(
        em, q, k=TOP_K, n_centroids=KMEANS_K, iters=KMEANS_ITERS,
        nprobe=IVF_NPROBE, same_label_col="label")


FILTER_POST_C = 30  # unfiltered candidate depth the post-filter variant keeps


def q_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the production filtered-ANN design choice: per query,
    recall@10 against the EXACT label-filtered ground truth for (a)
    PRE-filtering (label predicate inside the probed lists) vs (b)
    POST-filtering (unfiltered IVF top-C at C=FILTER_POST_C=30, then
    keep same-label rows, then top-10).  With a ~10%-selective label,
    the post-filter list keeps ~3 of its 30 candidates — the
    recall gap this row pins is why real vector stores filter during
    the scan.  Every stage is deterministic, so recalls are EXACT
    cross-engine values, not a tolerance bound.

    Scale note: the three pipelines below share one geometry at 100 TB
    (train once, probe thrice); here each call retrains the tiny Lloyd
    quantizer for plan isolation — bounded k-centroid collects."""
    from pyspark.sql import Window

    from ..operators.similarity import brute_force_topk, ivf_topk_deterministic

    em = load_table(spark, sf_dir, "embeddings")
    q = (em.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), "embedding", "label"))
    ivf_kw = dict(n_centroids=KMEANS_K, iters=KMEANS_ITERS, nprobe=IVF_NPROBE)

    gt = brute_force_topk(em, q, k=TOP_K, same_label_col="label") \
        .select("query_id", "neighbor_id")
    pre = ivf_topk_deterministic(em, q, k=TOP_K, same_label_col="label",
                                 **ivf_kw).select("query_id", "neighbor_id")
    cand = ivf_topk_deterministic(em, q, k=FILTER_POST_C, **ivf_kw)
    lbl = em.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("__nl"))
    qlbl = q.select("query_id", F.col("label").alias("__ql"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    post = (cand.join(lbl, "neighbor_id").join(F.broadcast(qlbl), "query_id")
            .filter(F.col("__nl") == F.col("__ql"))
            .withColumn("__r2", F.row_number().over(w))
            .filter(F.col("__r2") <= TOP_K)
            .select("query_id", "neighbor_id"))

    n_gt = gt.groupBy("query_id").agg(F.count("*").alias("n_gt"))
    hits_pre = (gt.join(pre, ["query_id", "neighbor_id"])
                .groupBy("query_id").agg(F.count("*").alias("hits_pre")))
    hits_post = (gt.join(post, ["query_id", "neighbor_id"])
                 .groupBy("query_id").agg(F.count("*").alias("hits_post")))
    hp = F.coalesce(F.col("hits_pre"), F.lit(0))
    hq = F.coalesce(F.col("hits_post"), F.lit(0))
    return (n_gt.join(hits_pre, "query_id", "left")
            .join(hits_post, "query_id", "left")
            .select("query_id", "n_gt",
                    hp.alias("hits_pre"), hq.alias("hits_post"),
                    F.round(hp / F.col("n_gt"), 6).alias("recall_pre"),
                    F.round(hq / F.col("n_gt"), 6).alias("recall_post")))


MMR_C = 20       # candidate page fed to the diversity re-rank
MMR_K = 5        # diversified results returned per query
MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes redundancy


def q_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (Carbonell & Goldstein '98): re-rank each
    query's top-20 page so pick i maximizes λ·sim(q,d) −
    (1−λ)·max_{s∈picked} sim(d,s) — the de-duplicating final-page pass
    every retrieval stack serves.  The k-step selection runs as a
    per-query cogrouped applyInPandas greedy loop (one shuffle; r18 —
    the unrolled-argmax form produced a 10k-line plan).  All sims are
    Spark-computed and 6-dp rounded first, so the oracle's unrolled CTE
    replay is exact."""
    from ..operators.similarity import brute_force_topk, mmr_rerank

    em = load_table(spark, sf_dir, "embeddings")
    cand = brute_force_topk(em, _queries_df(spark, sf_dir), k=MMR_C) \
        .select("query_id", "neighbor_id", "cos_sim")
    return mmr_rerank(cand, em, k=MMR_K, lam=MMR_LAMBDA)


ADAPT_K = 50      # pseudo-label vec_id % 50 -> 2% filter selectivity
ADAPT_NPROBE = 8  # widen the probe to ALL lists for the narrow filter


def q_filtered_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADAPTIVE-NPROBE filtered-search lever as a standing contract
    (r14 — certifies the tools/sweep_filtered_selectivity.py finding):
    at a 2% filter (pseudo-label vec_id % 50), nprobe=2 pre-filtering
    recalls only 0.42 and post-filtering 0.00; widening the probe to all
    8 lists recovers recall@10 = 1.0 while staying a list-pruned
    equi-join — the "narrow predicate -> widen probe" policy a filtered
    vector store should run.  Deterministic end-to-end, so the per-query
    recall VALUES are exact cross-engine."""
    from pyspark.sql import functions as F

    from ..operators.similarity import brute_force_topk, ivf_topk_deterministic

    em = load_table(spark, sf_dir, "embeddings") \
        .withColumn("__plbl", F.col("vec_id") % ADAPT_K)
    q = (em.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), "embedding", "__plbl"))
    gt = brute_force_topk(em, q, k=TOP_K, same_label_col="__plbl") \
        .select("query_id", "neighbor_id")
    pre = ivf_topk_deterministic(
        em, q, k=TOP_K, n_centroids=KMEANS_K, iters=KMEANS_ITERS,
        nprobe=ADAPT_NPROBE, same_label_col="__plbl") \
        .select("query_id", "neighbor_id")
    n_gt = gt.groupBy("query_id").agg(F.count("*").alias("n_gt"))
    hits = (gt.join(pre, ["query_id", "neighbor_id"])
            .groupBy("query_id").agg(F.count("*").alias("hits_pre")))
    hp = F.coalesce(F.col("hits_pre"), F.lit(0))
    return (n_gt.join(hits, "query_id", "left")
            .select("query_id", "n_gt", hp.alias("hits_pre"),
                    F.round(hp / F.col("n_gt"), 6).alias("recall_pre")))


PQ_M = 4        # subspaces (16 dims each)
PQ_KS = 8       # codebook size per subspace
PQ_ITERS = 1    # Lloyd rounds per codebook (unrolled in the oracle)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN under EXACT oracle check: per-subspace
    Lloyd codebooks, map-side m-code encoding, asymmetric-distance (ADC)
    scoring — the RAM-compression ANN path (m bytes per vector instead
    of dim floats).  The oracle replays codebook training, encoding, and
    the per-code table lookups in SQL, so the approximate index's full
    semantics are the verified contract."""
    from ..operators.similarity import pq_topk

    em = load_table(spark, sf_dir, "embeddings")
    return pq_topk(em, _queries_df(spark, sf_dir), k=TOP_K, m=PQ_M,
                   ks=PQ_KS, iters=PQ_ITERS)


IVFPQ_COARSE_K = 4
IVFPQ_COARSE_ITERS = 1
IVFPQ_NPROBE = 2


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with residual encoding — the production ANN index
    (FAISS-style: coarse lists prune candidates AND center residuals,
    PQ compresses residuals to m codes, queries score by per-list
    asymmetric distance) — fully deterministic, replayed end-to-end by
    the SQL oracle (coarse Lloyd, assignment, residuals, sub-codebooks,
    codes, probe selection, ADC, ranking)."""
    from ..operators.similarity import ivfpq_topk

    em = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(em, _queries_df(spark, sf_dir), k=TOP_K,
                      n_centroids=IVFPQ_COARSE_K,
                      coarse_iters=IVFPQ_COARSE_ITERS,
                      nprobe=IVFPQ_NPROBE, m=PQ_M, ks=PQ_KS,
                      pq_iters=PQ_ITERS)


def _build_shared_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (overwrite) the full-corpus persisted IVF+PQ index at the
    per-sf shared path — the ONE path+training definition the plain and
    filtered persisted-probe rows both rely on ("same path, same
    training"); a param or path edit here moves both rows together."""
    import os
    import tempfile

    from ..operators.persist import write_ivfpq

    em = load_table(spark, sf_dir, "embeddings")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        f"ivfpq_index_{sf_tag}")
    write_ivfpq(em, base, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=PQ_M, ks=PQ_KS,
                pq_iters=PQ_ITERS)
    return base


def q_ivfpq_probe_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED ANN serving path: build-once (write_ivfpq — coarse
    centroids, sub-codebooks, and list_id-partitioned m-byte codes as
    parquet), then answer the query set by PROBING the stored index —
    codebooks collected once, the code scan pruned to the probed lists'
    partition directories, ADC scoring distributed.  Training is
    identical deterministic Lloyd to ``sim_ivfpq_topk``, and parquet
    round-trips doubles exactly, so the probe result equals the
    in-flight query bit-for-bit — the oracle is therefore the same
    end-to-end SQL replay, and a green row certifies the full
    persist→probe cycle.  This is the number that matters at 100 TB:
    the index is built once and probed millions of times (bench times
    the probe against a prebuilt index — see bench.py)."""
    from ..operators.persist import ivfpq_probe_persisted

    base = _build_shared_ivfpq_index(spark, sf_dir)
    return ivfpq_probe_persisted(spark, base, _queries_df(spark, sf_dir),
                                 k=TOP_K, nprobe=IVFPQ_NPROBE)


def q_ivfpq_filtered_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN on the PERSISTED serving path: each query
    retrieves its top-k among same-label vectors only, the label
    predicate applied as a pre-filter (left-semi of allowed pairs)
    INSIDE the probed lists of the stored m-byte codes — never by
    post-filtering a truncated unfiltered page.  The allowed relation
    is a label equi-join of the query set against the metadata sidecar
    (what a real store keeps beside the codes when the filter column
    isn't the partition key); it composes in-plan, nothing
    materializes.  Reuses q_ivfpq_probe_persisted's prebuilt index
    (same path, same training), so the oracle is the in-flight replay
    plus the label pruning."""
    from ..operators.persist import ivfpq_probe_persisted

    em = load_table(spark, sf_dir, "embeddings")
    # Shared builder: same path and training as q_ivfpq_probe_persisted,
    # rebuilt (overwrite) so a stale index from an older corpus can't
    # serve.
    base = _build_shared_ivfpq_index(spark, sf_dir)
    q = (em.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), "embedding", "label"))
    allowed = (q.select("query_id", F.col("label").alias("__ql"))
               .join(em.select(F.col("vec_id").alias("neighbor_id"),
                               F.col("label").alias("__ql")), "__ql")
               .select("query_id", "neighbor_id"))
    return ivfpq_probe_persisted(spark, base,
                                 q.select("query_id", "embedding"),
                                 k=TOP_K, nprobe=IVFPQ_NPROBE,
                                 allowed=allowed)


# Incremental append split: vec_id % 10 == 9 plays the day's new vectors.
# The base keeps ids 0..8, so the lowest-id Lloyd inits (coarse k=4,
# sub-codebooks ks=8) are identical to limit(k) on the base relation.
APPEND_MOD = 10
APPEND_REM = 9


DELETE_MOD, DELETE_REM = 10, 3   # vec_id % 10 == 3 plays the takedown set


def q_ivfpq_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index TOMBSTONE deletes (r11 — the takedown/GDPR path,
    completing the persisted-index lifecycle symmetrically with the
    fingerprint store): build the persisted IVF+PQ index on the full
    corpus, tombstone vec_id % {mod} == {rem} (persist.ivfpq_delete —
    an append-only log, no read-modify-write), then answer the query
    set: the probe must serve neighbors from the SURVIVORS only, with
    the top-k refilled from the remaining rows, while the frozen
    codebooks still reflect the original training.  The oracle replays
    exactly that asymmetry (full-corpus Lloyd chains, scored codes
    filtered to the survivors); physical removal at compaction is
    pinned by tests/test_ivfpq_persist.py."""
    import os
    import tempfile

    from ..operators.persist import (ivfpq_delete, ivfpq_probe_persisted,
                                     write_ivfpq)

    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    nid = F.col("vec_id").cast("bigint")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"ivfpq_delete_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"ivfpq_delete_{sf_tag}_*", keep=path)
    write_ivfpq(em, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=PQ_M, ks=PQ_KS,
                pq_iters=PQ_ITERS)
    ivfpq_delete(spark, path,
                 em.filter((nid % DELETE_MOD) == DELETE_REM)
                 .select("vec_id"))
    return ivfpq_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                                 k=TOP_K, nprobe=IVFPQ_NPROBE)


q_ivfpq_delete_probe.__doc__ = q_ivfpq_delete_probe.__doc__.format(
    mod=DELETE_MOD, rem=DELETE_REM)


def q_ivfpq_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION of the persisted ANN index certified through the driver
    gate (r12): build → ``ivfpq_delete`` (tombstone the takedown set) →
    ``ivfpq_compact`` (physical removal of the tombstoned code rows +
    log drop) → probe.  Compaction must be result-invariant over the
    masked probe, so the SAME train-on-everything / score-the-survivors
    oracle as ``sim_ivfpq_delete_probe`` applies — a green row certifies
    the physical rewrite left exactly the survivors' codes, with the
    probe running tombstone-branch-free (the post-maintenance serving
    state).  Physical-removal byte checks live in
    tests/test_ivfpq_persist.py."""
    import os
    import tempfile

    from ..operators.persist import (ivfpq_compact, ivfpq_delete,
                                     ivfpq_probe_persisted, write_ivfpq)
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    nid = F.col("vec_id").cast("bigint")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"ivfpq_compact_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"ivfpq_compact_{sf_tag}_*", keep=path)
    write_ivfpq(em, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=PQ_M, ks=PQ_KS,
                pq_iters=PQ_ITERS)
    ivfpq_delete(spark, path,
                 em.filter((nid % DELETE_MOD) == DELETE_REM)
                 .select("vec_id"))
    ivfpq_compact(spark, path)
    return ivfpq_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                                 k=TOP_K, nprobe=IVFPQ_NPROBE)


def q_ivfpq_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index MAINTENANCE (r10): build the persisted
    IVF+PQ index from the BASE corpus (vec_id % {mod} != {rem}), then
    ADD the remaining vectors by encoding them against the FROZEN stored
    codebooks and appending to the list-partitioned code store
    (persist.ivfpq_append — the FAISS add() path, one map-side
    projection, no retraining), then answer the query set from the
    grown index.  The oracle replays exactly that asymmetry: Lloyd
    chains over the base rows only, assignment/codes/ADC over the full
    corpus — a green row certifies that the persisted index absorbs new
    data without retraining and serves old + new rows identically to
    first principles."""
    import os
    import tempfile

    from ..operators.persist import (ivfpq_append, ivfpq_probe_persisted,
                                     write_ivfpq)

    em = load_table(spark, sf_dir, "embeddings")
    nid = F.col("vec_id").cast("bigint")
    base = em.filter((nid % APPEND_MOD) != APPEND_REM)
    new = em.filter((nid % APPEND_MOD) == APPEND_REM)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = os.path.join(tempfile.gettempdir(), "spark_graft_io",
                        f"ivfpq_append_{sf_tag}")
    write_ivfpq(base, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=PQ_M, ks=PQ_KS,
                pq_iters=PQ_ITERS)
    ivfpq_append(new, path)
    return ivfpq_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                                 k=TOP_K, nprobe=IVFPQ_NPROBE)


q_ivfpq_append_probe.__doc__ = q_ivfpq_append_probe.__doc__.format(
    mod=APPEND_MOD, rem=APPEND_REM)


def _recall_per_query(bf: DataFrame, ann: DataFrame) -> DataFrame:
    """(query_id, n_match, recall): per-query |ann ∩ bf| over bf's exact
    top-k — the shared relation behind every recall row (r13: one
    implementation, the rows cannot drift)."""
    matched = bf.join(ann, ["query_id", "neighbor_id"], "left_semi")
    return (bf.groupBy("query_id").agg(F.count("*").alias("__k"))
            .join(matched.groupBy("query_id")
                  .agg(F.count("*").alias("n_match")), "query_id", "left")
            .select("query_id",
                    F.coalesce("n_match", F.lit(0)).cast("bigint")
                    .alias("n_match"),
                    F.round(F.coalesce("n_match", F.lit(0))
                            / F.col("__k").cast("double"), 6)
                    .alias("recall")))


def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL@k of the persisted IVF+PQ probe against exact brute-force
    ground truth (r12, VERDICT r11 #6): build the persisted index, probe
    the query set, and score each query's top-k against
    ``sim_ann_bruteforce``'s exact cosine top-k — per-query |ANN ∩
    exact| / k.  Both sides are fully deterministic (frozen Lloyd
    training, exact parquet double round-trip), so recall is an EXACT
    oracle-checkable relation, not a sampled estimate: the SQL twin
    composes the end-to-end IVF+PQ replay with the brute-force replay
    and intersects them.  This is the number a 100 TB ANN serving story
    is judged by — the engine previously certified only that the probe
    returns its own deterministic answer, not how close that answer is
    to the true neighbors (nprobe sensitivity noted in SCALE.md)."""
    import os
    import tempfile

    from ..operators.persist import ivfpq_probe_persisted, write_ivfpq
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"ivfpq_recall_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"ivfpq_recall_{sf_tag}_*", keep=path)
    write_ivfpq(em, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=PQ_M, ks=PQ_KS,
                pq_iters=PQ_ITERS)
    ann = ivfpq_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                                k=TOP_K, nprobe=IVFPQ_NPROBE) \
        .select("query_id", "neighbor_id")
    bf = brute_force_topk(em, _queries_df(spark, sf_dir), k=TOP_K) \
        .select("query_id", "neighbor_id")
    return _recall_per_query(bf, ann)


RERANK_C = 50   # ADC-nominated candidates per query before exact re-rank


def q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (r12): the persisted IVF+PQ index nominates
    the ADC top-{c} per query, then ``similarity.exact_rerank`` re-scores
    those candidates with exact cosine on the full vectors and keeps the
    top-{k} — the FAISS IndexRefineFlat production shape.  Repairs the
    PQ rank inversions inside the candidate set: measured recall@10
    rises from ~0.30 (pure ADC) to the candidate-containment ceiling
    (SCALE.md r12).  The oracle composes the end-to-end IVF+PQ replay
    (rank ≤ {c}) with the exact-cosine re-scoring and final window."""
    import os
    import tempfile

    from ..operators.persist import ivfpq_probe_persisted, write_ivfpq
    from ..operators.similarity import exact_rerank
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"ivfpq_rerank_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"ivfpq_rerank_{sf_tag}_*", keep=path)
    write_ivfpq(em, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=PQ_M, ks=PQ_KS,
                pq_iters=PQ_ITERS)
    cand = ivfpq_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                                 k=RERANK_C, nprobe=IVFPQ_NPROBE)
    return exact_rerank(cand, em, _queries_df(spark, sf_dir), k=TOP_K)


q_ivfpq_rerank.__doc__ = q_ivfpq_rerank.__doc__.format(c=RERANK_C, k=TOP_K)


def q_ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the TWO-STAGE pipeline (ADC top-C → exact re-rank)
    against brute-force ground truth — the standing certified version of
    the SCALE.md r12 measurement (0.34 ADC-only → 0.64 re-ranked at
    sf0.01): the recall LIFT of the refine stage is itself an exact
    oracle relation, deterministic on both sides."""
    import os
    import tempfile

    from ..operators.persist import ivfpq_probe_persisted, write_ivfpq
    from ..operators.similarity import exact_rerank
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"ivfpq_rrcall_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"ivfpq_rrcall_{sf_tag}_*", keep=path)
    write_ivfpq(em, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=PQ_M, ks=PQ_KS,
                pq_iters=PQ_ITERS)
    cand = ivfpq_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                                 k=RERANK_C, nprobe=IVFPQ_NPROBE)
    rr = exact_rerank(cand, em, _queries_df(spark, sf_dir), k=TOP_K) \
        .select("query_id", "neighbor_id")
    bf = brute_force_topk(em, _queries_df(spark, sf_dir), k=TOP_K) \
        .select("query_id", "neighbor_id")
    return _recall_per_query(bf, rr)


# Production-grade ANN quality certification (r13, VERDICT r12 #1).  The
# certified-recall rows above run a deliberately tiny PQ (m=4, ks=8 = 12
# bits/vector) so the DuckDB oracle's unrolled Lloyd chains stay
# tractable — recall@10 tops out at 0.54 re-ranked, a MEASUREMENT of a
# toy config, not a serving-quality claim.  This config is the one a
# deployment would run on this corpus shape: m=16 4-dim subspaces with
# ks=16 codewords (64 bits/vector), two Lloyd rounds per codebook,
# nprobe=3 of 4 lists (IVF pruning stays real), ADC top-100 into the
# exact re-rank.  The big-m/ks Lloyd replay is NOT SQL-tractable, so the
# row is a TOLERANCE-BOOLEAN oracle (the rel_approx_distinct pattern):
# DuckDB computes the exact ground-truth side (query count), the row
# asserts the recall thresholds, and the whole pipeline is deterministic
# (frozen training, exact parquet double round-trip) so the booleans are
# reproducible facts, not flaky samples.  Measured (r13): mean recall@10
# = 0.92 at sf0.01 / 0.90 at sf0.1, per-query min 0.8 at both.
QUALITY_PQ_M = 16        # 4-dim subspaces
QUALITY_PQ_KS = 16       # codewords per subspace -> 64 bits/vector
QUALITY_PQ_ITERS = 2
QUALITY_NPROBE = 3       # of IVFPQ_COARSE_K=4 lists
QUALITY_MEAN_RECALL = 0.85   # the VERDICT r12 #1 serving bar
QUALITY_FLOOR_RECALL = 0.7   # no single query below this

# The candidate budget scales WITH the corpus (C = max(100, N/20) — 5%
# of N with a floor), the same production shape as semdedup's k ∝ N: a
# FIXED C is a shrinking fraction of a growing corpus, and measured
# recall decays exactly that way (sf1, N=20k: C=100 → 0.58 mean, C=500
# → 0.96 mean / 0.90 min — SCALE.md r13).  Deriving C from count(*) is
# a 1-row bounded driver collect, the same contract as the codebook
# read.  At the certified gate scales C resolves to the floor (N=500 /
# 2,000 both → C=100), so the measured 0.92 / 0.90 numbers stand.
QUALITY_C_DIV = 20
QUALITY_C_FLOOR = 100


def quality_c_for(n: int) -> int:
    return max(QUALITY_C_FLOOR, n // QUALITY_C_DIV)


def q_ivfpq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certify a PRODUCTION-GRADE IVF+PQ config end-to-end: build the
    persisted index at m={m}/ks={ks} (64 bits/vector), probe ADC
    top-C at nprobe={np} with C = max({fl}, N/{dv}) scaled to the
    corpus (see QUALITY_C_DIV), exact re-rank to top-{k}, and assert
    mean recall@{k} >= {mr} (plus a per-query floor of {fr}) against
    Spark's own brute-force ground truth.  One row:
    (n_queries, k, mean_recall_ok, min_recall_ok) — the oracle computes
    n_queries exactly from the data and emits literal TRUEs."""
    import os
    import tempfile

    from ..operators.persist import ivfpq_probe_persisted, write_ivfpq
    from ..operators.similarity import exact_rerank
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    qs = _queries_df(spark, sf_dir)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"ivfpq_quality_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"ivfpq_quality_{sf_tag}_*", keep=path)
    write_ivfpq(em, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=QUALITY_PQ_M,
                ks=QUALITY_PQ_KS, pq_iters=QUALITY_PQ_ITERS)
    cand = ivfpq_probe_persisted(spark, path, qs,
                                 k=quality_c_for(em.count()),
                                 nprobe=QUALITY_NPROBE)
    rr = exact_rerank(cand, em, qs, k=TOP_K) \
        .select("query_id", "neighbor_id")
    bf = brute_force_topk(em, qs, k=TOP_K) \
        .select("query_id", "neighbor_id")
    per = _recall_per_query(bf, rr)
    return (per.agg(F.count("*").cast("bigint").alias("n_queries"),
                    (F.avg("recall") >= QUALITY_MEAN_RECALL)
                    .alias("mean_recall_ok"),
                    (F.min("recall") >= QUALITY_FLOOR_RECALL)
                    .alias("min_recall_ok"))
            .select("n_queries", F.lit(TOP_K).alias("k"),
                    "mean_recall_ok", "min_recall_ok"))


q_ivfpq_quality.__doc__ = q_ivfpq_quality.__doc__.format(
    m=QUALITY_PQ_M, ks=QUALITY_PQ_KS, fl=QUALITY_C_FLOOR,
    dv=QUALITY_C_DIV, np=QUALITY_NPROBE, k=TOP_K,
    mr=QUALITY_MEAN_RECALL, fr=QUALITY_FLOOR_RECALL)


# BOUNDED-C quality certification (r14, VERDICT r13 #2).  The C∝N row
# above certifies the re-rank-budget lever, but its own SCALE.md addendum
# says a 100 TB deployment would NOT grow C linearly with the corpus —
# the production lever is CODE PRECISION (m/ks) and LIST COVERAGE
# (nprobe) at a latency-bounded C.  This row pins that lever as a
# standing tolerance-boolean oracle: candidate budget HARD-CAPPED at
# C=200 regardless of corpus size, recall recovered by scanning all
# IVFPQ_COARSE_K lists with FINER SUBSPACES (m=32 2-dim subspaces × ks=16
# = 128 bits/vector).  The r14 sweep (SCALE.md; tools/sweep_boundedc_sf1)
# measured at sf1 (N=20k, where fixed C=100 had decayed to 0.58): this
# config reaches mean recall@10 = 0.96 / per-query min 0.90 — and
# DOMINATES the 6-bit-codebook alternative (m=16/ks=64: 0.92 mean,
# 1.6× slower build, ~2× slower probe); the only price is 128 vs 96
# bits/vector of code storage.
BOUNDEDC_PQ_M = 32       # 2-dim subspaces
BOUNDEDC_PQ_KS = 16      # 4 bits each -> 128 bits/vector
BOUNDEDC_PQ_ITERS = 2
BOUNDEDC_NPROBE = IVFPQ_COARSE_K   # scan every list; C stays the cap
BOUNDEDC_C = 200


def q_ivfpq_quality_boundedc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE ANN recall lever, certified end-to-end: persisted
    IVF+PQ at m={m}/ks={ks} ({bits} bits/vector), ADC top-{c} (HARD cap,
    corpus-independent) at nprobe={np}, exact re-rank to top-{k}, assert
    mean recall@{k} >= {mr} and per-query min >= {fr} against Spark's own
    brute force.  Same tolerance-boolean oracle pattern as
    sim_ivfpq_quality (big-ks Lloyd replay is not SQL-tractable; DuckDB
    computes the exact query count; the pipeline is deterministic).  One
    row: (n_queries, k, mean_recall_ok, min_recall_ok)."""
    import os
    import tempfile

    from ..operators.persist import ivfpq_probe_persisted, write_ivfpq
    from ..operators.similarity import exact_rerank
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    qs = _queries_df(spark, sf_dir)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"ivfpq_boundedc_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"ivfpq_boundedc_{sf_tag}_*", keep=path)
    write_ivfpq(em, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=BOUNDEDC_PQ_M,
                ks=BOUNDEDC_PQ_KS, pq_iters=BOUNDEDC_PQ_ITERS)
    cand = ivfpq_probe_persisted(spark, path, qs, k=BOUNDEDC_C,
                                 nprobe=BOUNDEDC_NPROBE)
    rr = exact_rerank(cand, em, qs, k=TOP_K) \
        .select("query_id", "neighbor_id")
    bf = brute_force_topk(em, qs, k=TOP_K) \
        .select("query_id", "neighbor_id")
    per = _recall_per_query(bf, rr)
    return (per.agg(F.count("*").cast("bigint").alias("n_queries"),
                    (F.avg("recall") >= QUALITY_MEAN_RECALL)
                    .alias("mean_recall_ok"),
                    (F.min("recall") >= QUALITY_FLOOR_RECALL)
                    .alias("min_recall_ok"))
            .select("n_queries", F.lit(TOP_K).alias("k"),
                    "mean_recall_ok", "min_recall_ok"))


q_ivfpq_quality_boundedc.__doc__ = q_ivfpq_quality_boundedc.__doc__.format(
    m=BOUNDEDC_PQ_M, ks=BOUNDEDC_PQ_KS,
    bits=BOUNDEDC_PQ_M * 4, c=BOUNDEDC_C, np=BOUNDEDC_NPROBE, k=TOP_K,
    mr=QUALITY_MEAN_RECALL, fr=QUALITY_FLOOR_RECALL)


# Append-health + retrain-recovery certification (r15, VERDICT r14 #6):
# frozen-codebook appends never rebalance lists or refit codebooks, so
# after enough growth recall decays and list sizes skew SILENTLY.  This
# row pins the decay at an aggressive 50% corpus growth (codebooks
# trained on HALF the final corpus: measured mean recall@10 drops
# 0.90 -> 0.76 at sf0.1), asserts it stays above a serving floor, then
# RETRAINS and asserts recall recovers to the fresh-index quality bar
# (retrained == fresh full-corpus build, so the sim_ivfpq_quality
# thresholds apply verbatim).  The list-balance ratio is the cheap
# trigger a deployment monitors between recall audits.
APPEND_HEALTH_MOD = 2        # base = even vec_ids; appended = odd (50%)
APPEND_BALANCE_MAX = 2.0     # live max/mean list-size ratio retrain trigger
APPEND_MEAN_RECALL = 0.70    # decayed floor after 50% frozen growth
APPEND_FLOOR_RECALL = 0.50   # no single query below this, even decayed


def q_ivfpq_append_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index HEALTH after heavy frozen-codebook growth, and the
    retrain REMEDY, in one certified row: build the persisted IVF+PQ
    index at the production quality config (m={m}/ks={ks}) on HALF the
    corpus (even vec_ids), append the other half against the FROZEN
    codebooks (persist.ivfpq_append — the FAISS add() path), and certify
    three things about the ADC top-C (C = max({fl}, N/{dv}),
    nprobe={np}) + exact-rerank top-{k} pipeline against brute force
    over the FULL corpus:

    - grown_*_ok — the decayed index still serves above the floor
      (mean >= {amr}, per-query min >= {afr}; measured 0.76 mean at
      sf0.1 vs 0.90 fresh — the silent decay this row makes loud);
    - balance_ok — live max/mean list-size ratio <= {bal}
      (persist.ivfpq_list_stats), the cheap retrain trigger;
    - retrained_*_ok — after persist.ivfpq_retrain recall RECOVERS to
      the fresh-index quality bar (mean >= {mr}, min >= {fr} — the
      sim_ivfpq_quality thresholds, valid because retrained ==
      fresh full-corpus build by determinism).

    Tolerance-boolean oracle (the sim_ivfpq_quality pattern): DuckDB
    pins the exact query count; the pipeline is deterministic."""
    import os
    import tempfile

    from ..operators.persist import (ivfpq_append, ivfpq_list_stats,
                                     ivfpq_probe_persisted, ivfpq_retrain,
                                     write_ivfpq)
    from ..operators.similarity import exact_rerank
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    qs = _queries_df(spark, sf_dir)
    nid = F.col("vec_id").cast("bigint")
    base = em.filter((nid % APPEND_HEALTH_MOD) == 0)
    new = em.filter((nid % APPEND_HEALTH_MOD) != 0)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"ivfpq_health_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"ivfpq_health_{sf_tag}_*", keep=path)
    write_ivfpq(base, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=QUALITY_PQ_M,
                ks=QUALITY_PQ_KS, pq_iters=QUALITY_PQ_ITERS)
    ivfpq_append(new, path)
    c = quality_c_for(em.count())
    bf = brute_force_topk(em, qs, k=TOP_K) \
        .select("query_id", "neighbor_id")

    def recall_agg(prefix: str):
        cand = ivfpq_probe_persisted(spark, path, qs, k=c,
                                     nprobe=QUALITY_NPROBE)
        rr = exact_rerank(cand, em, qs, k=TOP_K) \
            .select("query_id", "neighbor_id")
        mean_bar = (APPEND_MEAN_RECALL if prefix == "grown"
                    else QUALITY_MEAN_RECALL)
        min_bar = (APPEND_FLOOR_RECALL if prefix == "grown"
                   else QUALITY_FLOOR_RECALL)
        return _recall_per_query(bf, rr).agg(
            F.count("*").cast("bigint").alias(f"__n_{prefix}"),
            (F.avg("recall") >= mean_bar).alias(f"{prefix}_mean_ok"),
            (F.min("recall") >= min_bar).alias(f"{prefix}_min_ok"))

    # The grown-index metrics must MATERIALIZE before retrain swaps the
    # store out from under their lazy scans (1 row each — the bounded
    # driver-collect contract), then re-enter the plan as literal rows.
    grown = spark.createDataFrame(recall_agg("grown").collect())
    balance = spark.createDataFrame(
        ivfpq_list_stats(spark, path).agg(
            ((F.max("n_vectors") / F.avg("n_vectors"))
             <= APPEND_BALANCE_MAX).alias("balance_ok")).collect())
    ivfpq_retrain(em, path, n_centroids=IVFPQ_COARSE_K,
                  coarse_iters=IVFPQ_COARSE_ITERS, m=QUALITY_PQ_M,
                  ks=QUALITY_PQ_KS, pq_iters=QUALITY_PQ_ITERS)
    retrained = recall_agg("retrained")
    # 1-row x 1-row x 1-row assembly (the documented stats-crossJoin shape)
    return (grown.crossJoin(balance).crossJoin(retrained)
            .select(F.col("__n_grown").alias("n_queries"),
                    F.lit(TOP_K).alias("k"),
                    "grown_mean_ok", "grown_min_ok", "balance_ok",
                    "retrained_mean_ok", "retrained_min_ok"))


q_ivfpq_append_recall.__doc__ = q_ivfpq_append_recall.__doc__.format(
    m=QUALITY_PQ_M, ks=QUALITY_PQ_KS, fl=QUALITY_C_FLOOR, dv=QUALITY_C_DIV,
    np=QUALITY_NPROBE, k=TOP_K, mr=QUALITY_MEAN_RECALL,
    fr=QUALITY_FLOOR_RECALL, bal=APPEND_BALANCE_MAX,
    amr=APPEND_MEAN_RECALL, afr=APPEND_FLOOR_RECALL)


def q_ivfpq_retrain_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRAIN equivalence, hash-certified (r15, VERDICT r14 #6): build
    the persisted IVF+PQ index on the base corpus
    (vec_id % {mod} != {rem}), grow it with frozen-codebook appends,
    then RETRAIN (persist.ivfpq_retrain) over the live corpus and answer
    the query set.  write_ivfpq is deterministic in its input relation,
    so the retrained index is BIT-IDENTICAL to a fresh full-corpus build
    — the oracle is the fresh-build first-principles replay (the same
    SQL as sim_ivfpq_probe_persisted, full-corpus Lloyd), making the
    FAISS re-train story an exact cross-engine certification rather
    than a recall bound."""
    import os
    import tempfile

    from ..operators.persist import (ivfpq_append, ivfpq_probe_persisted,
                                     ivfpq_retrain, write_ivfpq)
    from ..sources.io import cleanup_stale_scratch

    em = load_table(spark, sf_dir, "embeddings")
    nid = F.col("vec_id").cast("bigint")
    base = em.filter((nid % APPEND_MOD) != APPEND_REM)
    new = em.filter((nid % APPEND_MOD) == APPEND_REM)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    scratch = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    path = os.path.join(scratch, f"ivfpq_retrain_{sf_tag}_{os.getpid()}")
    cleanup_stale_scratch(scratch, f"ivfpq_retrain_{sf_tag}_*", keep=path)
    write_ivfpq(base, path, n_centroids=IVFPQ_COARSE_K,
                coarse_iters=IVFPQ_COARSE_ITERS, m=PQ_M, ks=PQ_KS,
                pq_iters=PQ_ITERS)
    ivfpq_append(new, path)
    ivfpq_retrain(em, path, n_centroids=IVFPQ_COARSE_K,
                  coarse_iters=IVFPQ_COARSE_ITERS, m=PQ_M, ks=PQ_KS,
                  pq_iters=PQ_ITERS)
    return ivfpq_probe_persisted(spark, path, _queries_df(spark, sf_dir),
                                 k=TOP_K, nprobe=IVFPQ_NPROBE)


q_ivfpq_retrain_probe.__doc__ = q_ivfpq_retrain_probe.__doc__.format(
    mod=APPEND_MOD, rem=APPEND_REM)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine top-k over the documents table via the
    inverted-index term join (operators/similarity.py tfidf_cosine_topk) —
    text-side nearest neighbors with an exact SQL twin."""
    from ..operators.similarity import tfidf_cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_topk(docs, k=TOP_K, n_queries=N_QUERIES)




def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators.similarity.semdedup;
    Abbas et al. 2023): deterministic Lloyd clusters, in-cluster cosine
    comparisons only, drop every vector with an above-threshold neighbor
    nearer (then lower-id) to the shared centroid.  The oracle replays
    the whole pipeline — Lloyd chain, assignment, rounded centroid
    distances, the precedence pairs, the 6-dp cosine filter — in SQL, so
    a green row certifies the exact keep/drop set."""
    from ..operators.similarity import semdedup

    em = load_table(spark, sf_dir, "embeddings")
    return semdedup(em, k=KMEANS_K, iters=KMEANS_ITERS,
                    threshold=COSINE_DUP_THRESHOLD)


# The production k∝N shape: cluster count grows with the corpus so
# cluster sizes stay bounded (~SEMDEDUP_K_DIV vectors each) and the
# in-cluster pair stage stays ~linear in N — the SemDeDup premise.  The
# divisor is an integer-exact contract shared with the SQL oracle.
SEMDEDUP_K_DIV = 250


def semdedup_k_for(n: int) -> int:
    return max(2, n // SEMDEDUP_K_DIV)


def q_semdedup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the greedy KEEP-CHAIN policy (r17, VERDICT r16 #7):
    per-cluster sequential scan in (cdist, vec_id) order dropping a
    vector iff a SURVIVING predecessor is an above-threshold neighbor —
    the transitive-representative policy, vs sim_semdedup's declarative
    pairwise-precedence rule.  Runs as Arrow-batched applyInPandas per
    cluster (bounded by the k ∝ N contract); the oracle replays the
    identical greedy chain with a recursive CTE carrying each cluster's
    kept-vector list, so a green row certifies the exact transitive
    keep/drop set.  Guaranteed ⊇ the pairwise keep set (a pairwise-kept
    vector has NO above-threshold predecessor at all)."""
    from ..operators.similarity import semdedup_chain

    em = load_table(spark, sf_dir, "embeddings")
    return semdedup_chain(em, k=KMEANS_K, iters=KMEANS_ITERS,
                          threshold=COSINE_DUP_THRESHOLD)


def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at its documented production shape (r12, VERDICT r11 #2):
    k ∝ corpus size — k = max(2, N // {div}) — so each Lloyd cluster
    holds ~{div} vectors and the dominant in-cluster pair join generates
    ~N·{div} candidates instead of the fixed-k row's N²/k.  The oracle
    re-derives the SAME k from count(*) in SQL (the Lloyd chain's size
    is k-independent — proven at 10× scale by
    tools/selfcheck_semdedup_sf1.py), so the adaptive shape itself is
    hash-certified at every sf, replacing the fixed-k row as the
    headline semdedup number."""
    from ..operators.similarity import semdedup

    em = load_table(spark, sf_dir, "embeddings")
    k = semdedup_k_for(em.count())
    return semdedup(em, k=k, iters=KMEANS_ITERS,
                    threshold=COSINE_DUP_THRESHOLD)


q_semdedup_scaled.__doc__ = q_semdedup_scaled.__doc__.format(
    div=SEMDEDUP_K_DIV)


QUERIES = {
    "sim_ivfpq_delete_probe": q_ivfpq_delete_probe,
    "sim_ivfpq_compact_probe": q_ivfpq_compact_probe,
    "sim_ivfpq_recall": q_ivfpq_recall,
    "sim_ivfpq_rerank": q_ivfpq_rerank,
    "sim_ivfpq_rerank_recall": q_ivfpq_rerank_recall,
    "sim_ivfpq_quality": q_ivfpq_quality,
    "sim_ivfpq_quality_boundedc": q_ivfpq_quality_boundedc,
    "sim_ivfpq_append_probe": q_ivfpq_append_probe,
    "sim_ivfpq_append_recall": q_ivfpq_append_recall,
    "sim_ivfpq_retrain_probe": q_ivfpq_retrain_probe,
    "sim_ivfpq_probe_persisted": q_ivfpq_probe_persisted,
    "sim_ivfpq_filtered_probe": q_ivfpq_filtered_probe,
    "sim_ivfpq_topk": q_ivfpq_topk,
    "sim_pq_topk": q_pq_topk,
    "sim_tfidf_topk": q_tfidf_topk,
    "sim_ivf_topk": q_ivf_topk,
    "sim_ivf_filtered": q_ivf_filtered_topk,
    "sim_filtered_recall": q_filtered_recall,
    "sim_filtered_adaptive": q_filtered_adaptive,
    "sim_mmr_diversify": q_mmr,
    "sim_sq8_topk": q_sq8_topk,
    "sim_sq8_probe_persisted": q_sq8_probe_persisted,
    "sim_sq8_append_probe": q_sq8_append_probe,
    "sim_sq8_delete_probe": q_sq8_delete_probe,
    "sim_sq8_compact_probe": q_sq8_compact_probe,
    "sim_kmeans_assign": q_kmeans_assign,
    "sim_quantize_int8": q_quantize_int8,
    "sim_ann_bruteforce": q_ann_bruteforce,
    "sim_ann_lsh": q_ann_lsh,
    "sim_lsh_buckets": q_lsh_buckets,
    "sim_cosine_banded": q_cosine_banded,
    "sim_cosine_top_pairs_scaled": q_cosine_top_pairs_scaled,
    "sim_cosine_near_dups_banded": q_cosine_near_dups_banded,
    "sim_semdedup": q_semdedup,
    "sim_semdedup_chain": q_semdedup_chain,
    "sim_semdedup_scaled": q_semdedup_scaled,
}

# Shared SQL pieces.  DuckDB list indexing is 1-based; `d` ranges 0..dim-1.
_COS = """
list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
 / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
    * sqrt(list_sum(list_transform(b.v, x -> x*x))))
"""

_VECS = "vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"


def _bucket_expr(num_planes: int, plane_offset: int = 0, var: str = "v") -> str:
    """Sign-LSH bucket expression over ``var`` for one band: local plane p
    contributes bit ``1 << p``, its hyperplane drawn at GLOBAL index
    ``plane_offset + p`` — mirroring ``lsh_bucket`` exactly."""
    return " + ".join(
        f"""(CASE WHEN list_sum(list_transform(range(0, 64),
        d -> {var}[d + 1] * ((((({plane_offset + p}) * 3 + d * 7 + 11)
                              * 2654435761) % {PLANE_MOD})
                         / CAST({PLANE_MOD} AS DOUBLE) - 0.5))) >= 0
        THEN {1 << p} ELSE 0 END)"""
        for p in range(num_planes))

_BUCKET_EXPR = " + ".join(
    f"""(CASE WHEN list_sum(list_transform(range(0, 64),
        d -> v[d + 1] * (((({p} * 3 + d * 7 + 11) * 2654435761) % {PLANE_MOD})
                         / CAST({PLANE_MOD} AS DOUBLE) - 0.5))) >= 0
        THEN {1 << p} ELSE 0 END)"""
    for p in range(NUM_PLANES))


def _sq_dist(x: str, c: str) -> str:
    return (f"list_sum(list_transform(range(1, 65), "
            f"d -> ({x}[d] - {c}[d]) * ({x}[d] - {c}[d])))")


def _lloyd_cte_chain(k: int = KMEANS_K) -> str:
    """Unrolled Lloyd iterations as chained CTEs (shared by the k-means and
    IVF oracles): assignment = row_number over a vecs × centroids cross
    join (k rows), update = per-dimension round(avg(), 6) — mirroring the
    Spark operator's argmin tie-break (lowest cid) and rounded-mean update
    exactly.  Final centroids land in CTE ``c{KMEANS_ITERS}``.

    The SQL size is k-INDEPENDENT (k appears only in the init filter), so
    tools/selfcheck_semdedup_sf1.py can replay the k∝N production shape
    at 10× scale by passing a scaled k."""
    ctes = [f"c0 AS (SELECT vec_id AS cid, v FROM vecs WHERE vec_id < {k})"]
    for i in range(1, KMEANS_ITERS + 1):
        avg_list = ", ".join(f"round(avg(v[{d}]), 6)" for d in range(1, 65))
        ctes.append(f"""a{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {_sq_dist('x.v', 'c.v')} ASC, c.cid ASC) AS rn
    FROM vecs x CROSS JOIN c{i - 1} c) WHERE rn = 1)""")
        ctes.append(f"n{i} AS (SELECT cid, [{avg_list}] AS v "
                    f"FROM a{i} GROUP BY cid)")
        ctes.append(f"c{i} AS (SELECT p.cid, coalesce(n.v, p.v) AS v "
                    f"FROM c{i - 1} p LEFT JOIN n{i} n USING (cid))")
    return ",\n".join(ctes)


def _kmeans_oracle() -> str:
    return f"""
WITH {_VECS},
{_lloyd_cte_chain()}
SELECT vec_id, CAST(cid AS INTEGER) AS list_id FROM (
  SELECT x.vec_id, c.cid,
         row_number() OVER (PARTITION BY x.vec_id
           ORDER BY {_sq_dist('x.v', 'c.v')} ASC, c.cid ASC) AS rn
  FROM vecs x CROSS JOIN c{KMEANS_ITERS} c) WHERE rn = 1
"""


def _ivf_ctes(nprobe: int = IVF_NPROBE,
              label_expr: str = "label") -> str:
    """The shared IVF CTE chain (Lloyd centroids, full-corpus list
    assignment, per-query nprobe probe lists, UNFILTERED candidate
    scoring) — the common prefix of the plain, filtered,
    filtered-recall, and adaptive-nprobe IVF oracles.  ``label_expr``
    lets the adaptive row swap in a pseudo-label (vec_id % K) for a
    chosen filter selectivity."""
    cfin = f"c{KMEANS_ITERS}"
    return f"""{_VECS},
{_lloyd_cte_chain()},
asg AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {_sq_dist('x.v', 'c.v')} ASC, c.cid ASC) AS rn
    FROM vecs x CROSS JOIN {cfin} c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < {N_QUERIES}),
pr AS (
  SELECT query_id, v, cid FROM (
    SELECT q.query_id, q.v, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_sq_dist('q.v', 'c.v')} ASC, c.cid ASC) AS rn
    FROM q CROSS JOIN {cfin} c) WHERE rn <= {nprobe}),
lbl AS (SELECT vec_id, {label_expr} AS label FROM embeddings),
scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id, round({_COS}, 6) AS cos_sim
  FROM pr a JOIN asg b ON b.cid = a.cid AND b.vec_id != a.query_id)"""


def _ivf_oracle(filtered: bool = False) -> str:
    """Replays ivf_topk_deterministic end-to-end: Lloyd centroids (shared
    chain), full-corpus list assignment, per-query nprobe nearest lists
    (ties → lowest cid), cosine over candidates, windowed top-k.  With
    ``filtered``, candidates are pruned to the query's label BEFORE
    ranking — the twin of same_label_col pre-filtering."""
    src = "scored"
    if filtered:
        src = """(
  SELECT s.query_id, s.neighbor_id, s.cos_sim
  FROM scored s JOIN lbl bl ON bl.vec_id = s.neighbor_id
       JOIN lbl ql ON ql.vec_id = s.query_id AND bl.label = ql.label)"""
    return f"""
WITH {_ivf_ctes()}
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM {src})
WHERE rank <= {TOP_K}
"""


def _filtered_adaptive_oracle() -> str:
    """Exact twin of q_filtered_adaptive: pre-filter recall@k at the 2%
    pseudo-label with the probe widened to all lists."""
    lexpr = f"CAST(vec_id % {ADAPT_K} AS BIGINT)"
    return f"""
WITH {_ivf_ctes(nprobe=ADAPT_NPROBE, label_expr=lexpr)},
prefil AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
           row_number() OVER (PARTITION BY s.query_id
                              ORDER BY s.cos_sim DESC, s.neighbor_id ASC) AS rank
    FROM scored s JOIN lbl bl ON bl.vec_id = s.neighbor_id
         JOIN lbl ql ON ql.vec_id = s.query_id AND bl.label = ql.label)
  WHERE rank <= {TOP_K}),
gt AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.query_id
                              ORDER BY round({_COS}, 6) DESC, b.vec_id ASC) AS rank
    FROM (SELECT q.query_id, q.v, l.label FROM q
          JOIN lbl l ON l.vec_id = q.query_id) a
    JOIN (SELECT vecs.vec_id, vecs.v, l.label FROM vecs
          JOIN lbl l USING (vec_id)) b
      ON b.label = a.label AND b.vec_id != a.query_id)
  WHERE rank <= {TOP_K}),
ngt AS (SELECT query_id, count(*) AS n_gt FROM gt GROUP BY query_id),
hp AS (SELECT g.query_id, count(*) AS hits_pre
       FROM gt g JOIN prefil USING (query_id, neighbor_id) GROUP BY 1)
SELECT n.query_id, n.n_gt, coalesce(hp.hits_pre, 0) AS hits_pre,
       round(coalesce(hp.hits_pre, 0) / CAST(n.n_gt AS DOUBLE), 6) AS recall_pre
FROM ngt n LEFT JOIN hp USING (query_id)
"""


def _mmr_oracle() -> str:
    """Unrolled MMR selection chain: cand = exact top-C page per query,
    pairs = C×C candidate sims, then k chained argmax CTEs replaying
    mmr_rerank's per-step (round(λ·rel − (1−λ)·maxpen, 6) DESC,
    neighbor ASC) pick exactly."""
    lam, om = repr(MMR_LAMBDA), repr(1.0 - MMR_LAMBDA)
    ctes = [f"""cand AS (
  SELECT query_id, neighbor_id, cos_sim FROM (
    SELECT a.query_id, b.vec_id AS neighbor_id, round({_COS}, 6) AS cos_sim,
           row_number() OVER (PARTITION BY a.query_id
             ORDER BY round({_COS}, 6) DESC, b.vec_id ASC) AS rn
    FROM (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < {N_QUERIES}) a
         JOIN vecs b ON b.vec_id != a.query_id)
  WHERE rn <= {MMR_C})""",
            f"""pairs AS (
  SELECT c1.query_id, c1.neighbor_id AS pa, c2.neighbor_id AS pb,
         round({_COS}, 6) AS sim
  FROM cand c1 JOIN cand c2
       ON c1.query_id = c2.query_id AND c1.neighbor_id != c2.neighbor_id
  JOIN vecs a ON a.vec_id = c1.neighbor_id
  JOIN vecs b ON b.vec_id = c2.neighbor_id)""",
            """picks1 AS (
  SELECT query_id, neighbor_id, cos_sim, 1 AS rank FROM (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
    FROM cand) WHERE rn = 1)"""]
    for i in range(2, MMR_K + 1):
        prev = f"picks{i - 1}"
        ctes.append(f"""pen{i} AS (
  SELECT p.query_id, p.pa AS neighbor_id, max(p.sim) AS pen
  FROM pairs p JOIN {prev} s
       ON s.query_id = p.query_id AND s.neighbor_id = p.pb
  GROUP BY 1, 2)""")
        ctes.append(f"""pick{i} AS (
  SELECT query_id, neighbor_id, cos_sim, {i} AS rank FROM (
    SELECT c.query_id, c.neighbor_id, c.cos_sim,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY round({lam} * c.cos_sim - {om} * n.pen, 6) DESC,
                      c.neighbor_id ASC) AS rn
    FROM cand c JOIN pen{i} n
         ON n.query_id = c.query_id AND n.neighbor_id = c.neighbor_id
    WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                      WHERE s.query_id = c.query_id
                        AND s.neighbor_id = c.neighbor_id))
  WHERE rn = 1)""")
        ctes.append(f"picks{i} AS (SELECT * FROM {prev} "
                    f"UNION ALL SELECT * FROM pick{i})")
    body = ",\n".join(ctes)
    return f"""
WITH {_VECS},
{body}
SELECT query_id, rank, neighbor_id, cos_sim FROM picks{MMR_K}
"""


def _filtered_recall_oracle() -> str:
    """Exact twin of q_filtered_recall: pre-filter vs post-filter recall@k
    against the label-filtered brute-force ground truth, every stage
    deterministic so the recall values themselves hash-match."""
    return f"""
WITH {_ivf_ctes()},
prefil AS (
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
           row_number() OVER (PARTITION BY s.query_id
                              ORDER BY s.cos_sim DESC, s.neighbor_id ASC) AS rank
    FROM scored s JOIN lbl bl ON bl.vec_id = s.neighbor_id
         JOIN lbl ql ON ql.vec_id = s.query_id AND bl.label = ql.label)
  WHERE rank <= {TOP_K}),
postc AS (
  SELECT query_id, neighbor_id, cos_sim FROM (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored)
  WHERE rank <= {FILTER_POST_C}),
post AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, p.neighbor_id,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY p.cos_sim DESC, p.neighbor_id ASC) AS r2
    FROM postc p JOIN lbl bl ON bl.vec_id = p.neighbor_id
         JOIN lbl ql ON ql.vec_id = p.query_id AND bl.label = ql.label)
  WHERE r2 <= {TOP_K}),
gt AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.query_id
                              ORDER BY round({_COS}, 6) DESC, b.vec_id ASC) AS rank
    FROM (SELECT q.query_id, q.v, l.label FROM q
          JOIN lbl l ON l.vec_id = q.query_id) a
    JOIN (SELECT vecs.vec_id, vecs.v, l.label FROM vecs
          JOIN lbl l USING (vec_id)) b
      ON b.label = a.label AND b.vec_id != a.query_id)
  WHERE rank <= {TOP_K}),
ngt AS (SELECT query_id, count(*) AS n_gt FROM gt GROUP BY query_id),
hp AS (SELECT g.query_id, count(*) AS hits_pre
       FROM gt g JOIN prefil USING (query_id, neighbor_id) GROUP BY 1),
hq AS (SELECT g.query_id, count(*) AS hits_post
       FROM gt g JOIN post USING (query_id, neighbor_id) GROUP BY 1)
SELECT n.query_id, n.n_gt,
       coalesce(hp.hits_pre, 0) AS hits_pre,
       coalesce(hq.hits_post, 0) AS hits_post,
       round(coalesce(hp.hits_pre, 0) / CAST(n.n_gt AS DOUBLE), 6) AS recall_pre,
       round(coalesce(hq.hits_post, 0) / CAST(n.n_gt AS DOUBLE), 6) AS recall_post
FROM ngt n LEFT JOIN hp USING (query_id) LEFT JOIN hq USING (query_id)
"""


def _pq_oracle() -> str:
    """Replays pq_topk end-to-end in SQL: per-subspace Lloyd codebooks
    (sliced-vector chains, same init/update/tie-break as the shared
    k-means chain), argmin encoding to m codes, ADC scoring via joins to
    the final centroid CTEs (the SQL form of the distance-table lookup),
    windowed top-k.  Multiply-referenced CTEs are MATERIALIZED (DuckDB
    otherwise inlines them — the dedup/graph-oracle degeneration)."""
    m, ks, iters, sub = PQ_M, PQ_KS, PQ_ITERS, 64 // PQ_M

    def sq(x: str, c: str) -> str:
        return (f"list_sum(list_transform(range(1, {sub + 1}), "
                f"d -> ({x} - {c}[d]) * ({x} - {c}[d])))")

    ctes = []
    for s in range(m):
        lo = s * sub
        ctes.append(f"sv{s} AS MATERIALIZED (SELECT vec_id, "
                    f"v[{lo + 1}:{lo + sub}] AS v FROM vecs)")
        ctes.append(f"s{s}c0 AS MATERIALIZED (SELECT vec_id AS cid, v "
                    f"FROM sv{s} WHERE vec_id < {ks})")
        for i in range(1, iters + 1):
            avg_list = ", ".join(f"round(avg(v[{d}]), 6)"
                                 for d in range(1, sub + 1))
            ctes.append(f"""s{s}a{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {sq('x.v[d]', 'c.v')} ASC, c.cid ASC) AS rn
    FROM sv{s} x CROSS JOIN s{s}c{i - 1} c) WHERE rn = 1)""")
            ctes.append(f"s{s}n{i} AS (SELECT cid, [{avg_list}] AS v "
                        f"FROM s{s}a{i} GROUP BY cid)")
            ctes.append(f"s{s}c{i} AS MATERIALIZED (SELECT p.cid, "
                        f"coalesce(n.v, p.v) AS v "
                        f"FROM s{s}c{i - 1} p LEFT JOIN s{s}n{i} n USING (cid))")
        ctes.append(f"""s{s}g AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {sq('x.v[d]', 'c.v')} ASC, c.cid ASC) AS rn
    FROM sv{s} x CROSS JOIN s{s}c{iters} c) WHERE rn = 1)""")
    code_cols = ", ".join(f"s{s}g.cid AS c{s}" for s in range(m))
    code_joins = " ".join(f"JOIN s{s}g USING (vec_id)" for s in range(1, m))
    adc = " + ".join(
        sq(f"q.v[{s * sub} + d]", f"cs{s}.v") for s in range(m))
    cent_joins = " ".join(
        f"JOIN s{s}c{iters} cs{s} ON cs{s}.cid = c.c{s}" for s in range(m))
    ctes_sql = ",\n".join(ctes)
    return f"""
WITH {_VECS},
{ctes_sql},
codes AS MATERIALIZED (
  SELECT s0g.vec_id, {code_cols} FROM s0g {code_joins}),
q AS MATERIALIZED (
  SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({adc}, 6) AS adc_dist
  FROM q CROSS JOIN codes c
  {cent_joins}
  WHERE c.vec_id != q.query_id)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


def _ivfpq_oracle(base_pred: str | None = None,
                  score_pred: str | None = None,
                  topk: int = TOP_K,
                  filtered: bool = False) -> str:
    """Replays ivfpq_topk end-to-end: coarse Lloyd (k=IVFPQ_COARSE_K
    over the full 64-dim vectors), assignment + RESIDUALS, per-subspace
    sub-Lloyd codebooks trained on residual slices, argmin codes,
    per-query nprobe probe selection, per-list query residuals, and ADC
    scoring via correlated joins to the sub-codebook CTEs.

    ``base_pred`` (a SQL predicate on vec_id) splits TRAINING from
    ENCODING for the incremental-append oracle: Lloyd chains (coarse +
    sub-codebooks) see only the base rows, while assignment/codes/probe
    cover the full corpus — exactly write_ivfpq(base) followed by
    ivfpq_append(new).  ``None`` trains on everything (the in-flight
    sim_ivfpq_topk semantics).  The base predicate must keep vec_ids
    0..max(kc,ks)-1 so the lowest-id Lloyd inits match the operator's
    ``limit(k)`` on the base relation.

    ``score_pred`` filters the SCORED code rows only (training and the
    query set untouched) — the tombstone-delete oracle: a deleted
    vector's codes are masked at probe time, so the served neighbors
    come from the surviving rows while the frozen codebooks still
    reflect the original training.

    ``filtered`` prunes the ranked candidates to the query's label
    (same-label pre-filter before the top-k window) — the twin of the
    persisted probe's ``allowed`` pre-filter relation."""
    kc, ci, np_ = IVFPQ_COARSE_K, IVFPQ_COARSE_ITERS, IVFPQ_NPROBE
    m, ks, pqi, sub = PQ_M, PQ_KS, PQ_ITERS, 64 // PQ_M

    def sq_n(x: str, c: str, n: int) -> str:
        return (f"list_sum(list_transform(range(1, {n + 1}), "
                f"d -> ({x} - {c}[d]) * ({x} - {c}[d])))")

    pred = base_pred if base_pred is not None else "TRUE"
    ctes = [f"tvecs AS MATERIALIZED (SELECT vec_id, v FROM vecs "
            f"WHERE {pred})"]
    ctes.append(f"g0 AS MATERIALIZED (SELECT vec_id AS cid, v FROM tvecs "
                f"WHERE vec_id < {kc})")
    for i in range(1, ci + 1):
        avg64 = ", ".join(f"round(avg(v[{d}]), 6)" for d in range(1, 65))
        ctes.append(f"""ga{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {sq_n('x.v[d]', 'c.v', 64)} ASC, c.cid ASC) AS rn
    FROM tvecs x CROSS JOIN g{i - 1} c) WHERE rn = 1)""")
        ctes.append(f"gn{i} AS (SELECT cid, [{avg64}] AS v "
                    f"FROM ga{i} GROUP BY cid)")
        ctes.append(f"g{i} AS MATERIALIZED (SELECT p.cid, "
                    f"coalesce(n.v, p.v) AS v "
                    f"FROM g{i - 1} p LEFT JOIN gn{i} n USING (cid))")
    ctes.append(f"""asg AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {sq_n('x.v[d]', 'c.v', 64)} ASC, c.cid ASC) AS rn
    FROM vecs x CROSS JOIN g{ci} c) WHERE rn = 1)""")
    ctes.append(f"""res AS MATERIALIZED (
  SELECT a.vec_id, a.cid AS list_id,
         list_transform(range(1, 65), d -> a.v[d] - c.v[d]) AS rv
  FROM asg a JOIN g{ci} c USING (cid))""")
    for s in range(m):
        lo = s * sub
        ctes.append(f"rs{s} AS MATERIALIZED (SELECT vec_id, "
                    f"rv[{lo + 1}:{lo + sub}] AS v FROM res)")
        ctes.append(f"trs{s} AS MATERIALIZED (SELECT r.vec_id, r.v "
                    f"FROM rs{s} r JOIN tvecs t USING (vec_id))")
        ctes.append(f"s{s}c0 AS MATERIALIZED (SELECT vec_id AS cid, v "
                    f"FROM trs{s} WHERE vec_id < {ks})")
        for i in range(1, pqi + 1):
            avgs = ", ".join(f"round(avg(v[{d}]), 6)"
                             for d in range(1, sub + 1))
            ctes.append(f"""s{s}a{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {sq_n('x.v[d]', 'c.v', sub)} ASC, c.cid ASC) AS rn
    FROM trs{s} x CROSS JOIN s{s}c{i - 1} c) WHERE rn = 1)""")
            ctes.append(f"s{s}n{i} AS (SELECT cid, [{avgs}] AS v "
                        f"FROM s{s}a{i} GROUP BY cid)")
            ctes.append(f"s{s}c{i} AS MATERIALIZED (SELECT p.cid, "
                        f"coalesce(n.v, p.v) AS v "
                        f"FROM s{s}c{i - 1} p LEFT JOIN s{s}n{i} n "
                        f"USING (cid))")
        ctes.append(f"""s{s}g AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {sq_n('x.v[d]', 'c.v', sub)} ASC, c.cid ASC) AS rn
    FROM rs{s} x CROSS JOIN s{s}c{pqi} c) WHERE rn = 1)""")
    code_cols = ", ".join(f"s{s}g.cid AS c{s}" for s in range(m))
    code_joins = " ".join(f"JOIN s{s}g USING (vec_id)" for s in range(1, m))
    score_where = f"\n  WHERE {score_pred}" if score_pred else ""
    ctes.append(f"""codes AS MATERIALIZED (
  SELECT r.vec_id, r.list_id, {code_cols}
  FROM res r JOIN s0g USING (vec_id) {code_joins}{score_where})""")
    ctes.append(f"q AS MATERIALIZED (SELECT vec_id AS query_id, v "
                f"FROM vecs WHERE vec_id < {N_QUERIES})")
    ctes.append(f"""pr AS MATERIALIZED (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.v AS qv, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {sq_n('q.v[d]', 'c.v', 64)} ASC, c.cid ASC) AS rn
    FROM q CROSS JOIN g{ci} c) WHERE rn <= {np_})""")
    ctes.append(f"""qres AS MATERIALIZED (
  SELECT p.query_id, p.cid AS list_id,
         list_transform(range(1, 65), d -> p.qv[d] - c.v[d]) AS qr
  FROM pr p JOIN g{ci} c USING (cid))""")
    adc = " + ".join(
        f"list_sum(list_transform(range(1, {sub + 1}), "
        f"d -> (x.qr[{s * sub} + d] - cs{s}.v[d]) "
        f"* (x.qr[{s * sub} + d] - cs{s}.v[d])))"
        for s in range(m))
    cent_joins = " ".join(
        f"JOIN s{s}c{pqi} cs{s} ON cs{s}.cid = c.c{s}" for s in range(m))
    src = "scored"
    if filtered:
        ctes.append("lbl AS (SELECT vec_id, label FROM embeddings)")
        src = """(
  SELECT s.query_id, s.neighbor_id, s.adc_dist
  FROM scored s JOIN lbl bl ON bl.vec_id = s.neighbor_id
       JOIN lbl ql ON ql.vec_id = s.query_id AND bl.label = ql.label)"""
    ctes_sql = ",\n".join(ctes)
    return f"""
WITH {_VECS},
{ctes_sql},
scored AS (
  SELECT x.query_id, c.vec_id AS neighbor_id,
         round({adc}, 6) AS adc_dist
  FROM qres x JOIN codes c ON c.list_id = x.list_id
  {cent_joins}
  WHERE c.vec_id != x.query_id)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM {src})
WHERE rank <= {topk}
"""


from .search_queries import _TOKENS_CTE  # noqa: E402

# Width-ADAPTIVE banded-LSH candidate CTE chain, shared by the scaled
# top-pairs and the default (banded) near-dup oracles.  The band width r is
# re-derived from count(*) in SQL with the SAME integer inequality
# band_width_for solves — smallest r >= 2 with 2^r * target >= N * bands —
# no float log2 anywhere, so the two engines cannot disagree at a
# power-of-two edge.  The per-(vector, band) bucket evaluates
# lsh_bucket(v, r, plane_offset=band*r) for RUNTIME r via nested
# range() lambdas: local plane p draws global hyperplane band*r + p and
# contributes bit 1 << p, with the plane weight computed by the same
# integer-mod-then-divide formula (bit-identical doubles).
_SCALED_CTES = f"""{_VECS},
n AS MATERIALIZED (SELECT count(*) AS n_rows FROM embeddings),
rw AS MATERIALIZED (SELECT CAST(list_min(list_filter(range(2, 41),
        r -> (CAST(1 AS BIGINT) << CAST(r AS INTEGER)) * {SCALED_CPV}
             >= n_rows * {SCALED_BANDS})) AS BIGINT) AS r
     FROM n),
bn AS MATERIALIZED (
  SELECT vec_id, v,
         list_transform(v, x -> x / sqrt(list_sum(
             list_transform(v, y -> y * y)))) AS vn
  FROM vecs),
pb AS MATERIALIZED (
  SELECT vec_id, vn, band,
         list_sum(list_transform(range(0, r), p ->
           CASE WHEN list_sum(list_transform(range(0, 64), d ->
             v[d + 1] * (((((band * r + p) * 3 + d * 7 + 11)
                           * 2654435761) % {PLANE_MOD})
                         / CAST({PLANE_MOD} AS DOUBLE) - 0.5))) >= 0
           THEN CAST(1 AS BIGINT) << CAST(p AS INTEGER)
           ELSE CAST(0 AS BIGINT) END)) AS bucket
  FROM bn
  CROSS JOIN rw
  CROSS JOIN (SELECT unnest(range(0, {SCALED_BANDS})) AS band)),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_sum(list_transform(range(1, 65),
                                       i -> a.vn[i] * b.vn[i])), 6) AS cos_sim
  FROM pb a JOIN pb b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id)"""


def _semdedup_oracle(k: int = KMEANS_K) -> str:
    """Replays semdedup end-to-end: Lloyd chain, final assignment,
    rounded squared centroid distance, pairwise-precedence drop rule
    under the 6-dp-rounded cosine threshold.  ``k`` parameterizes the
    Lloyd init only (SQL size is k-independent) — the sf1 selfcheck
    replays the k∝N production shape with k=80."""
    cfin = f"c{KMEANS_ITERS}"
    return f"""
WITH {_VECS},
{_lloyd_cte_chain(k)},
asg AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {_sq_dist('x.v', 'c.v')} ASC, c.cid ASC) AS rn
    FROM vecs x CROSS JOIN {cfin} c) WHERE rn = 1),
dist AS MATERIALIZED (
  SELECT a.vec_id, a.v, a.cid,
         list_transform(a.v, x -> x / sqrt(list_sum(
             list_transform(a.v, y -> y * y)))) AS vn,
         round({_sq_dist('a.v', 'c.v')}, 6) AS cdist
  FROM asg a JOIN {cfin} c USING (cid)),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM dist a JOIN dist b ON a.cid = b.cid
       AND (b.cdist < a.cdist
            OR (b.cdist = a.cdist AND b.vec_id < a.vec_id))
  WHERE round(list_sum(list_transform(range(1, 65),
                                      i -> a.vn[i] * b.vn[i])), 6)
        >= {COSINE_DUP_THRESHOLD})
SELECT d.vec_id, CAST(d.cid AS INTEGER) AS list_id, d.cdist,
       dr.vec_id IS NULL AS keep
FROM dist d LEFT JOIN dropped dr ON dr.vec_id = d.vec_id
"""


def _semdedup_chain_oracle(k: int = KMEANS_K) -> str:
    """Replays semdedup_chain: the shared Lloyd/assignment/normalize
    front end, then the GREEDY per-cluster chain as a recursive CTE —
    state is one row per cluster carrying (rank, kept vector list, kept
    id list); each step consumes the cluster's next-ranked vector and
    appends it iff no kept vector is an above-threshold (6-dp-rounded)
    cosine neighbor.  Terminates when every cluster's rank is exhausted
    (no rank r+1 row to join)."""
    cfin = f"c{KMEANS_ITERS}"
    return f"""
WITH RECURSIVE {_VECS},
{_lloyd_cte_chain(k)},
asg AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, c.cid,
           row_number() OVER (PARTITION BY x.vec_id
             ORDER BY {_sq_dist('x.v', 'c.v')} ASC, c.cid ASC) AS rn
    FROM vecs x CROSS JOIN {cfin} c) WHERE rn = 1),
dist AS MATERIALIZED (
  SELECT a.vec_id, a.cid,
         list_transform(a.v, x -> x / sqrt(list_sum(
             list_transform(a.v, y -> y * y)))) AS vn,
         round({_sq_dist('a.v', 'c.v')}, 6) AS cdist
  FROM asg a JOIN {cfin} c USING (cid)),
ranked AS MATERIALIZED (
  SELECT vec_id, cid, cdist, vn,
         row_number() OVER (PARTITION BY cid
                            ORDER BY cdist ASC, vec_id ASC) AS r
  FROM dist),
chain AS (
  SELECT cid, 1 AS r, [vn] AS kept_vns, [vec_id] AS kept_ids
  FROM ranked WHERE r = 1
  UNION ALL
  SELECT cid, r,
         CASE WHEN dup THEN kept_vns
              ELSE list_append(kept_vns, vn) END,
         CASE WHEN dup THEN kept_ids
              ELSE list_append(kept_ids, vec_id) END
  FROM (
    SELECT ch.cid, ch.r + 1 AS r, ch.kept_vns, ch.kept_ids,
           nx.vn, nx.vec_id,
           len(list_filter(ch.kept_vns, kv ->
               round(list_sum(list_transform(range(1, 65),
                                             i -> kv[i] * nx.vn[i])), 6)
               >= {COSINE_DUP_THRESHOLD})) > 0 AS dup
    FROM chain ch JOIN ranked nx
      ON nx.cid = ch.cid AND nx.r = ch.r + 1)),
fin AS (
  SELECT cid, kept_ids FROM (
    SELECT cid, kept_ids,
           row_number() OVER (PARTITION BY cid ORDER BY r DESC) AS rn
    FROM chain) WHERE rn = 1)
SELECT d.vec_id, CAST(d.cid AS INTEGER) AS list_id, d.cdist,
       list_contains(f.kept_ids, d.vec_id) AS keep
FROM dist d JOIN fin f ON f.cid = d.cid
"""


def _sq8_oracle(neighbor_pred: str | None = None) -> str:
    """Asymmetric SQ8 replay: full-precision queries vs the
    int8-quantized-then-reconstructed corpus (quantizer expression
    shared with sim_quantize_int8's oracle).  ``neighbor_pred``
    restricts the NEIGHBOR side only (the r16 delete/compact rows:
    tombstoned vectors stop being neighbors; the query set and every
    survivor's per-vector scale are untouched — scales carry no trained
    state, so deletion cannot perturb the survivors' reconstruction)."""
    pred = f" AND b.vec_id {neighbor_pred}" if neighbor_pred else ""
    return f"""
WITH {_VECS},
s AS (SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x)))
                      / 127.0, 1e-30) AS scale
      FROM vecs),
dq AS (SELECT vec_id, list_transform(v, x -> round(x / scale) * scale) AS v
       FROM s),
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id, round({_COS}, 6) AS cos_sim
  FROM q a JOIN dq b ON b.vec_id != a.query_id{pred})
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


ORACLES = {
    "sim_tfidf_topk": f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
w AS (SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS w
      FROM tf JOIN df USING (term) CROSS JOIN n),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
q AS (SELECT doc_id AS query_id, term, w AS wq FROM w
      WHERE CAST(doc_id AS BIGINT) < {N_QUERIES}),
num AS (SELECT q.query_id, d.doc_id AS neighbor_id, sum(q.wq * d.w) AS num
        FROM q JOIN w d ON q.term = d.term AND d.doc_id <> q.query_id
        GROUP BY 1, 2),
scored AS (
  SELECT num.query_id, num.neighbor_id,
         round(num.num / (nq.nrm * nd.nrm), 6) AS cos_sim
  FROM num JOIN nrm nq ON nq.doc_id = num.query_id
           JOIN nrm nd ON nd.doc_id = num.neighbor_id)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, CAST(neighbor_id AS BIGINT) ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
""",
    "sim_ivf_topk": _ivf_oracle(),
    "sim_ivf_filtered": _ivf_oracle(filtered=True),
    "sim_filtered_recall": _filtered_recall_oracle(),
    "sim_filtered_adaptive": _filtered_adaptive_oracle(),
    "sim_mmr_diversify": _mmr_oracle(),
    # asymmetric SQ8: full-precision queries vs the reconstructed int8
    # store; quantizer expression shared with sim_quantize_int8's oracle
    "sim_sq8_topk": _sq8_oracle(),
    "sim_pq_topk": _pq_oracle(),
    # persisted SQ8 tier: exact arithmetic end-to-end (codes and scale
    # round-trip parquet losslessly), so the in-flight replay IS the
    # persisted probe's oracle
    "sim_sq8_probe_persisted": None,  # assigned below (shares sim_sq8_topk)
    "sim_ivfpq_topk": _ivfpq_oracle(),
    "sim_ivfpq_filtered_probe": _ivfpq_oracle(filtered=True),
    # The persisted probe returns the identical relation to the in-flight
    # query by construction (same deterministic training, exact parquet
    # double round-trip, same serving plan over the stored codes) — so its
    # oracle is the same end-to-end SQL replay, and a green row certifies
    # the persist→probe cycle against first principles, not against the
    # files it wrote.
    "sim_ivfpq_probe_persisted": _ivfpq_oracle(),
    # Train-on-base / encode-everything: the SQL twin of
    # write_ivfpq(base) + ivfpq_append(new) + probe.
    "sim_ivfpq_append_probe": _ivfpq_oracle(
        f"vec_id % {APPEND_MOD} <> {APPEND_REM}"),
    # Train-on-everything / score-the-survivors: the SQL twin of
    # write_ivfpq(full) + ivfpq_delete(takedown set) + probe.
    "sim_ivfpq_delete_probe": _ivfpq_oracle(
        score_pred=f"r.vec_id % {DELETE_MOD} <> {DELETE_REM}"),
    # Compaction is result-invariant over the masked probe: same oracle,
    # green row = the physical rewrite left exactly the survivors' codes.
    "sim_ivfpq_compact_probe": _ivfpq_oracle(
        score_pred=f"r.vec_id % {DELETE_MOD} <> {DELETE_REM}"),
    "sim_kmeans_assign": _kmeans_oracle(),
    "sim_semdedup": _semdedup_oracle(),
    "sim_semdedup_chain": _semdedup_chain_oracle(),
    # k re-derived from count(*) with the same integer formula as
    # semdedup_k_for — the adaptive production shape, hash-certified.
    "sim_semdedup_scaled": _semdedup_oracle(
        f"(SELECT greatest(2, count(*) // {SEMDEDUP_K_DIV}) "
        "FROM embeddings)"),
    "sim_quantize_int8": f"""
WITH {_VECS},
s AS (SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x)))
                      / 127.0, 1e-30) AS scale
      FROM vecs),
q AS (SELECT vec_id, scale, v,
             list_transform(v, x -> CAST(round(x / scale) AS INTEGER)) AS qv
      FROM s)
SELECT vec_id, round(scale, 6) AS scale,
       array_to_string(list_transform(qv[1:8], x -> CAST(x AS VARCHAR)), ',')
           AS q_head,
       round(list_max(list_transform(range(1, 65),
                                     i -> abs(v[i] - qv[i] * scale))), 6)
           AS max_recon_err
FROM q
""",
    "sim_ann_bruteforce": f"""
WITH {_VECS},
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id,
         round({_COS}, 6) AS cos_sim
  FROM q a JOIN vecs b ON b.vec_id != a.query_id)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
""",
    "sim_lsh_buckets": f"""
WITH {_VECS}
SELECT bucket, count(*) AS n_vectors
FROM (SELECT {_BUCKET_EXPR} AS bucket FROM vecs)
GROUP BY bucket
""",
    "sim_ann_lsh": f"""
WITH {_VECS},
bv AS (SELECT vec_id, v, {_BUCKET_EXPR} AS bucket FROM vecs),
q0 AS (SELECT vec_id AS query_id, v, bucket AS qbucket FROM bv
       WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, v, unnest([qbucket] || list_transform(range(0, {NUM_PLANES}),
          p -> xor(qbucket, CAST(1 AS BIGINT) << p))) AS bucket
  FROM q0),
scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id,
         round({_COS}, 6) AS cos_sim
  FROM probes a JOIN bv b ON a.bucket = b.bucket AND b.vec_id != a.query_id)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
""",
    # Banded sign-LSH: buckets on the RAW vector (sign-LSH is
    # scale-invariant; banded_lsh_candidate_pairs does the same), scoring
    # on the normalized one; per-band bucket equi-join, then a DISTINCT
    # over the deterministic scored row.
    "sim_cosine_banded": "WITH " + _VECS + f""",
bn AS (SELECT vec_id, v,
              list_transform(v, x -> x / sqrt(list_sum(
                  list_transform(v, y -> y * y)))) AS vn
       FROM vecs),
pb AS ({" UNION ALL ".join(
    f'''SELECT vec_id, vn, {j} AS band,
               {_bucket_expr(BAND_R, j * BAND_R, "v")} AS bucket FROM bn'''
    for j in range(BAND_B))}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_sum(list_transform(range(1, 65),
                                       i -> a.vn[i] * b.vn[i])), 6) AS cos_sim
  FROM pb a JOIN pb b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cos_sim FROM cand
WHERE cos_sim >= {COSINE_DUP_THRESHOLD}
""",
    "sim_cosine_top_pairs_scaled": f"""
WITH {_SCALED_CTES}
SELECT vec_a, vec_b, cos_sim FROM cand
ORDER BY cos_sim DESC, vec_a ASC, vec_b ASC
LIMIT {TOP_PAIRS}
""",
    "sim_cosine_near_dups_banded": f"""
WITH {_SCALED_CTES}
SELECT vec_a, vec_b, cos_sim FROM cand
WHERE cos_sim >= {COSINE_DUP_THRESHOLD}
""",
}

# recall@k as an EXACT relation (r12): both replays are deterministic, so
# the per-query intersection count is hash-checkable, not a sampled
# estimate — the persisted-probe replay joined against the brute-force
# replay, counted per query.
ORACLES["sim_sq8_probe_persisted"] = ORACLES["sim_sq8_topk"]
# Growth is a pure append of per-row-encoded codes, so the grown store
# is exactly the fresh store — same in-flight replay.
ORACLES["sim_sq8_append_probe"] = ORACLES["sim_sq8_topk"]
# Delete masks the takedown set out of the NEIGHBOR side only; compact
# is result-invariant over the masked probe (same oracle — a green row
# certifies the physical rewrite left exactly the survivors' codes).
ORACLES["sim_sq8_delete_probe"] = _sq8_oracle(
    f"% {DELETE_MOD} <> {DELETE_REM}")
ORACLES["sim_sq8_compact_probe"] = ORACLES["sim_sq8_delete_probe"]

ORACLES["sim_ivfpq_recall"] = f"""
WITH ann AS (SELECT query_id, neighbor_id
             FROM ({_ivfpq_oracle()}) ivfpq_full),
bf AS (SELECT query_id, neighbor_id
       FROM ({ORACLES["sim_ann_bruteforce"]}) bf_full)
SELECT b.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_match,
       round(count(a.neighbor_id) / CAST({TOP_K} AS DOUBLE), 6) AS recall
FROM bf b LEFT JOIN ann a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""

# Two-stage retrieval oracle (r12): candidates = the full IVF+PQ replay at
# rank <= RERANK_C, re-scored with the exact brute-force cosine expression
# (normalize via the row L2 norms inside the dot — same 6-dp rounding and
# (cos desc, id asc) tie-break as sim_ann_bruteforce), final window to
# TOP_K.  Self-pairs are already excluded by the inner replay.
ORACLES["sim_ivfpq_rerank"] = f"""
WITH {_VECS},
cand AS (SELECT query_id, neighbor_id
         FROM ({_ivfpq_oracle(topk=RERANK_C)}) ivfpq_c),
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_sum(list_transform(range(1, 65),
                                       i -> a.v[i] * b.v[i]))
               / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6)
             AS cos_sim
  FROM cand c
  JOIN q a ON a.query_id = c.query_id
  JOIN vecs b ON b.vec_id = c.neighbor_id)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""

# Production-config quality row (r13): the big-m/ks Lloyd replay is not
# SQL-tractable, so this is a TOLERANCE-BOOLEAN oracle (the
# rel_approx_distinct pattern) — DuckDB computes the exact query count
# from the data; the recall thresholds are asserted Spark-side against
# Spark's own exact brute force, and the pipeline is fully deterministic.
ORACLES["sim_ivfpq_quality"] = f"""
SELECT CAST(count(*) AS BIGINT) AS n_queries, {TOP_K} AS k,
       TRUE AS mean_recall_ok, TRUE AS min_recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
"""

# Same tolerance-boolean pattern for the bounded-C lever: DuckDB pins the
# exact query count; the recall thresholds are deterministic booleans of
# the frozen-training pipeline (r14, VERDICT r13 #2).
ORACLES["sim_ivfpq_quality_boundedc"] = ORACLES["sim_ivfpq_quality"]

# Append-health row (r15): tolerance-boolean — exact query count from the
# data; recall + list-balance booleans are deterministic properties of
# the frozen-training pipeline, asserted Spark-side against Spark's own
# brute force and live list stats.
ORACLES["sim_ivfpq_append_recall"] = f"""
SELECT CAST(count(*) AS BIGINT) AS n_queries, {TOP_K} AS k,
       TRUE AS grown_mean_ok, TRUE AS grown_min_ok, TRUE AS balance_ok,
       TRUE AS retrained_mean_ok, TRUE AS retrained_min_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
"""

# Retrain equivalence (r15): retrain-on-live-corpus after appends is
# bit-identical to a fresh full-corpus build (write_ivfpq is
# deterministic), so the oracle IS the fresh-build replay — exact
# cross-engine hash certification of the FAISS re-train story.
ORACLES["sim_ivfpq_retrain_probe"] = _ivfpq_oracle()

# Recall of the two-stage pipeline, as an exact relation: the composed
# re-rank replay intersected with the brute-force replay per query.
ORACLES["sim_ivfpq_rerank_recall"] = f"""
WITH ann AS (SELECT query_id, neighbor_id
             FROM ({ORACLES["sim_ivfpq_rerank"]}) rr_full),
bf AS (SELECT query_id, neighbor_id
       FROM ({ORACLES["sim_ann_bruteforce"]}) bf_full)
SELECT b.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_match,
       round(count(a.neighbor_id) / CAST({TOP_K} AS DOUBLE), 6) AS recall
FROM bf b LEFT JOIN ann a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""
