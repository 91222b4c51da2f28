"""Similarity search over embedding columns (extension — not in reference;
required by the north-star brief): brute-force cosine top-k as the exact
baseline, and a random-hyperplane-LSH bucketed variant as the scale path.

Scale design (100 TB / billions of vectors):
- Brute force is a broadcast join of the (small) query set against the
  vector table — each partition scores its vectors against all queries in
  one pass, then per-query top-k via window row_number (partial top-k per
  partition, k-row merge).  Exact, O(|Q|·N), the right baseline and the
  verifier for approximate paths.
- sign-LSH (Charikar random hyperplanes) buckets vectors by the sign
  pattern of NUM_PLANES fixed projections; queries only score against
  their own bucket → O(|Q|·N/2^planes) expected.  Recall is tunable via
  multi-probe (flip one bit) — implemented as `probe_hamming=1`.
- The hyperplanes are generated by a deterministic integer formula (not an
  RNG) so the DuckDB oracle reproduces buckets exactly; a production system
  would persist trained planes/centroids instead (IVF), but the plumbing —
  bucket column, co-partitioned join, per-bucket scoring — is identical.
- Per-row and per-query vector math is JVM-side higher-order functions
  (zip_with/aggregate) on double arrays.  The pair stages are the
  exception: banded-LSH near-dup (:func:`banded_lsh_candidate_pairs`) is
  two ``mapInPandas`` passes, and the SemDeDup and MMR stages are grouped
  ``applyInPandas`` passes, so each member's vector crosses into Python
  once per group instead of the JVM folding one dot per candidate pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.localrel import json_literal
from ..functions.rounding import spark_round6, spark_round6_array
from ..functions.udfs import drop_zip_finders

NUM_PLANES = 8
PLANE_MOD = 1009  # deterministic pseudo-random weights: ((3p+7d+11)·k) % 1009


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def plane_weight(p: Column | int, d: Column) -> Column:
    """Deterministic hyperplane weight in [-0.5, 0.5): engine-portable
    integer arithmetic, no RNG (see module docstring)."""
    pp = F.lit(p) if isinstance(p, int) else p
    return (((pp * 3 + d * 7 + 11) * 2654435761) % PLANE_MOD) / PLANE_MOD - 0.5


def plane_weight_value(p: int, d: int) -> float:
    """The same hyperplane weight folded at plan-build time.  Python's
    exact integer arithmetic followed by one float division produces the
    double Spark's long-arithmetic-then-divide produces bit-for-bit, so
    embedding these as literals (instead of evaluating the formula
    per (row, plane, dim) in the interpreted expression tree) changes
    the plan cost, not the buckets — measured ~2x on a 56-plane
    bucketing pass."""
    return ((p * 3 + d * 7 + 11) * 2654435761) % PLANE_MOD / PLANE_MOD - 0.5


def lsh_bucket(vec: Column, num_planes: int = NUM_PLANES,
               plane_offset: int = 0) -> Column:
    """Sign-pattern bucket id over ``num_planes`` deterministic hyperplanes.

    ``plane_offset`` shifts the hyperplane indices so independent bands
    (see :func:`banded_lsh_candidate_pairs`) draw DISTINCT planes from the
    same deterministic family; the bucket bit for local plane ``p`` is
    ``1 << p`` regardless of offset, so every band's bucket space is
    ``[0, 2^num_planes)``.

    Weights are folded to literal arrays at plan-build time (see
    :func:`plane_weight_value`) — bit-identical buckets, ~2x cheaper than
    evaluating the weight formula inside the interpreted lambda.  The
    literal weight array is 64 wide (the engine's embedding width); a
    vector of any OTHER length zip_withs against NULL pads, so the
    product is coalesced to 0.0 — extra dims genuinely get weight 0
    (and a short vector contributes 0 beyond its length) instead of
    null-poisoning the fold and collapsing every row into bucket 0."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    json_literal([plane_weight_value(plane_offset + p, d)
                                  for d in range(64)], "array<double>"),
                    lambda x, w: F.coalesce(x * w, F.lit(0.0))),
                F.lit(0.0), lambda acc, x: acc + x) >= 0,
            F.lit(1 << p)).otherwise(F.lit(0))
        for p in range(num_planes)
    ]
    return sum(bits, F.lit(0))


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     q_id_col: str = "query_id",
                     same_label_col: str | None = None) -> DataFrame:
    """Exact top-k cosine neighbors per query (self excluded).

    Returns (query_id, neighbor_id, cos_sim, rank) — cosine rounded 6 dp,
    rank deterministic via (rounded cos desc, neighbor asc).

    ``same_label_col``: when set, BOTH inputs must carry that column and
    only candidates whose label equals the query's label are scored —
    the exact ground truth for metadata-FILTERED vector search.  The
    label equality joins the predicate into the candidate scan (an
    equi-join key, not a post-scan filter), so at scale the label can
    double as a partition column and prune the read.
    """
    from pyspark.sql import Window

    v_cols = [F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("v")]
    q_cols = [F.col(q_id_col).alias("query_id"), as_double(vec_col).alias("q")]
    cond = F.col("neighbor_id") != F.col("query_id")
    if same_label_col is not None:
        v_cols.append(F.col(same_label_col).alias("__lbl"))
        q_cols.append(F.col(same_label_col).alias("__flbl"))
        cond = cond & (F.col("__lbl") == F.col("__flbl"))
    v = vectors.select(*v_cols)
    q = queries.select(*q_cols)
    scored = (v.join(F.broadcast(q), cond)
              .select("query_id", "neighbor_id",
                      F.round(cosine(F.col("q"), F.col("v")), 6).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def exact_rerank(candidates: DataFrame, vectors: DataFrame,
                 queries: DataFrame, k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 q_id_col: str = "query_id") -> DataFrame:
    """EXACT RE-RANK stage over ANN candidates (r12) — the FAISS
    ``IndexRefineFlat`` / two-stage-retrieval shape every production ANN
    deployment runs: a cheap compressed index (IVF+PQ's ADC) nominates a
    top-C candidate set per query, then the candidates' FULL vectors are
    fetched and re-scored with exact cosine, and the final top-k is
    exact *within the nominated set*.  Lifts the PQ-distortion recall
    ceiling (SCALE.md r12: ADC recall@10 ≈ 0.30 at 12 bits/vector; the
    errors are mostly RANK inversions inside the candidate set, which
    exact re-scoring repairs) at the cost of C full-vector reads per
    query instead of k.

    ``candidates``: (query_id, neighbor_id, ...) — any ANN output, e.g.
    ``persist.ivfpq_probe_persisted(..., k=C)``.  ``vectors`` is the
    full-precision vector store (in production, stored beside the codes
    — the refine sidecar).  Scoring matches :func:`brute_force_topk`'s
    expression exactly (same 6-dp rounding, same (cos desc, id asc)
    tie-break), so re-rank over the FULL corpus as candidates ≡ brute
    force — pinned by tests/test_similarity_rerank.py.

    Scale shape (100 TB): the candidate relation is |Q|·C rows; the
    vector fetch is one equi-join against the store (broadcast the
    candidates when |Q|·C is driver-small, shuffle otherwise — left to
    AQE); per-pair work is one dot + two norms in-row.  No stage touches
    non-candidate vectors.  The query join carries NO broadcast hint
    (r12 advice): a forced broadcast of a large query batch would build
    on the driver and can OOM — AQE picks broadcast for small batches
    from the runtime size anyway, and falls back to shuffle for big
    ones."""
    from pyspark.sql import Window

    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       as_double(vec_col).alias("v"))
    q = queries.select(F.col(q_id_col).alias("query_id"),
                       as_double(vec_col).alias("q"))
    cand = candidates.select("query_id", "neighbor_id")
    scored = (cand.join(v, "neighbor_id")
              .join(q, "query_id")
              .select("query_id", "neighbor_id",
                      F.round(cosine(F.col("q"), F.col("v")), 6)
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             q_id_col: str = "query_id", probe_hamming: int = 1) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``probe_hamming`` bit flips of the query's bucket (multi-probe)."""
    from pyspark.sql import Window

    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       as_double(vec_col).alias("v")) \
        .withColumn("bucket", lsh_bucket(F.col("v")))
    probes = [F.col("qbucket")]
    if probe_hamming >= 1:
        probes += [F.col("qbucket").bitwiseXOR(F.lit(1 << p))
                   for p in range(NUM_PLANES)]
    q = queries.select(F.col(q_id_col).alias("query_id"),
                       as_double(vec_col).alias("q")) \
        .withColumn("qbucket", lsh_bucket(F.col("q"))) \
        .withColumn("bucket", F.explode(F.array(*probes))) \
        .drop("qbucket")
    scored = (v.join(F.broadcast(q), "bucket")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.round(cosine(F.col("q"), F.col("v")), 6).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_build(vectors: DataFrame, n_centroids: int = 16, sample: int = 2048,
              iters: int = 10, seed: int = 0,
              vec_col: str = "embedding", id_col: str = "vec_id"):
    """IVF (inverted-file) coarse quantizer: k-means centroids trained on a
    driver-side SAMPLE (centroid training is tiny; assignment is the big
    distributed job), returns (assigned_vectors_df, centroids ndarray).

    Scale shape: centroids are a few KB → broadcast into a codegen'd
    argmin expression; every vector gets a ``list_id`` in one map-side
    pass.  Persist partitioned by list_id and a query probes only its
    ``nprobe`` nearest lists — the same pruning story as the LSH/term
    buckets, but data-adaptive.
    """
    import numpy as np

    rows = (vectors.select(vec_col).limit(sample).collect())
    x = np.array([r[0] for r in rows], dtype="float64")
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):  # plain Lloyd iterations on the sample
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                cent[c] = x[m].mean(axis=0)

    assigned = vectors.select(
        F.col(id_col), F.col(vec_col),
        _nearest_centroid_expr(as_double(vec_col), cent).alias("list_id"))
    return assigned, cent


def _matrix_literal(rows) -> Column:
    """Float vectors (centroids, sub-codebooks) as ONE
    ``array<array<double>>`` literal: a single JSON literal the optimizer
    folds (``functions.localrel.json_literal``), bit-identical to
    nesting ``F.lit(float(x))`` per value at a constant py4j cost."""
    return json_literal([[float(x) for x in r] for r in rows],
                        "array<array<double>>")


def _sq_dists(vec: Column, rows) -> Column:
    """Squared L2 distance from ``vec`` to each of the float vectors
    ``rows``, as one array (a fold in dimension order per row).  The
    lambda takes one argument: a second one would be the row INDEX."""
    return F.transform(
        _matrix_literal(rows),
        lambda c: F.aggregate(F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
                              F.lit(0.0), lambda acc, x: acc + x))


def _nearest_ids(vec: Column, rows, n: int) -> Column:
    """The ids (0-based positions) of the ``n`` rows nearest ``vec``,
    nearest first, ties to the lower id."""
    ranked = F.array_sort(F.zip_with(
        _sq_dists(vec, rows), F.sequence(F.lit(0), F.lit(len(rows) - 1)),
        lambda d, i: F.struct(d.alias("d"), i.alias("cid"))))
    return F.transform(F.slice(ranked, 1, n), lambda s: s.getField("cid"))


def _nearest_centroid_expr(vec: Column, centroids) -> Column:
    """argmin over squared distances, as pure column arithmetic (the
    centroid constants are folded into codegen — no UDF, no shuffle).

    Shape matters: the centroids become ONE array-of-arrays literal and
    the distances one `transform`, instead of k inlined distance trees
    chained through 2k `when`s — codegen stays small enough to compile
    fast even at k×dim = thousands of constants.  `array_position` of the
    min returns the FIRST match, i.e. ties break to the lowest centroid
    id (same rule the SQL oracles use)."""
    dists = _sq_dists(vec, centroids)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


# Above this k, the plan-time-literal argmin stops being the right shape:
# k×dim literals inflate the plan and codegen quadratically, and the
# SemDeDup contract (k ∝ N, clusters of ~100k vectors at web scale →
# thousands of centroids) must not depend on compiling a k-way expression
# tree.  Past the threshold, assignment becomes a BROADCAST JOIN against a
# k-row centroid relation with a min(struct(dist, cid)) argmin — identical
# arithmetic (same zip_with fold in dimension order) and identical
# tie-break (struct min orders (d, cid) lexicographically = first-lowest
# cid), so the two paths are bit-interchangeable (pinned by
# tests/test_semdedup.py::test_join_assignment_equals_literal).
LITERAL_ARGMIN_MAX_K = 16


def _centroids_df(spark, centroids):
    from ..functions.localrel import inline_rows

    return inline_rows(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid INT, cvec ARRAY<DOUBLE>")


def _assign_nearest(v: DataFrame, centroids, vec_col: str = "v",
                    out_col: str = "list_id",
                    dist_col: str | None = None) -> DataFrame:
    """Nearest-centroid assignment with the path chosen by k: literal
    codegen argmin (small k — zero shuffle, whole-stage codegen) or
    broadcast-join argmin (large k — plan size independent of k; one
    map-side broadcast join + one groupBy on the row id).  ``v`` must
    carry exactly (id-ish first column, vec_col).  PRECONDITION (r12
    advice): the id column must be UNIQUE — the join path groupBys on it
    and would collapse duplicate-id rows to one arbitrary vector, while
    the literal path keeps every row; the two paths (which flip silently
    at LITERAL_ARGMIN_MAX_K) are bit-interchangeable only under unique
    ids.  Every caller feeds row-unique ids (vec_id / doc_id).  Returns
    the input columns + out_col (+ dist_col = argmin squared
    distance)."""
    id_col = v.columns[0]
    if len(centroids) <= LITERAL_ARGMIN_MAX_K:
        out = v.withColumn(out_col,
                           _nearest_centroid_expr(F.col(vec_col), centroids))
        if dist_col is not None:
            own = F.element_at(_matrix_literal(centroids),
                               F.col(out_col) + 1)
            out = out.withColumn(dist_col, F.aggregate(
                F.zip_with(F.col(vec_col), own,
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x))
        return out
    cdf = _centroids_df(v.sparkSession, centroids)
    d = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("cvec"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    best = (v.join(F.broadcast(cdf))
            .groupBy(id_col)
            .agg(F.min(F.struct(d.alias("d"), F.col("cid").alias("cid")))
                 .alias("__b"),
                 F.first(vec_col).alias(vec_col)))
    out = best.select(id_col, vec_col,
                      F.col("__b.cid").cast("int").alias(out_col),
                      F.col("__b.d").alias("__d"))
    if dist_col is not None:
        out = out.withColumnRenamed("__d", dist_col)
    else:
        out = out.drop("__d")
    # restore the caller's column order
    cols = list(v.columns) + [out_col] + ([dist_col] if dist_col else [])
    return out.select(*cols)


# The legacy ivf_topk (sampled-kmeans build + DRIVER-SIDE collect of the
# whole query relation for probe selection) was removed in round 8: probe
# selection is a column expression in ivf_topk_deterministic, which also
# gives SQL-replayable training — use that (or ivfpq_topk for the
# residual-coded variant).  ivf_build stays for the write_ivf persisted
# layout; its bounded limit(sample).collect() trains centroids on a few
# thousand rows, the standard FAISS train-on-sample contract.


def band_width_for(n_vectors: int, bands: int = 4,
                   candidates_per_vector: int = 100) -> int:
    """Band width (planes per band) that holds E[random candidates] to
    ~``candidates_per_vector`` per vector as the corpus grows: solve
    N * b / 2^r = target/vector  =>  r = log2(N * b / target).

    This is the knob a 100 TB run turns: candidate count under a FIXED
    width grows quadratically in corpus size (measured 100x for a 10x
    scale-up), so r must grow with log2(N).  Recall for per-plane
    agreement p then costs p^r per band — compensate with more bands
    (recall = 1 - (1 - p^r)^b), not less width.

    Implemented with EXACT integer arithmetic — the smallest ``r >= 2``
    with ``2^r * target >= N * b``, which equals ``ceil(log2(N*b/target))``
    under exact math but cannot drift at float-representability edges
    (N*b/target an exact power of two), so a SQL oracle can replicate the
    width with the same integer inequality and never disagree by 1."""
    target = max(1, candidates_per_vector)
    m = -(-max(2, n_vectors) * bands // target)  # ceil(N*b / target)
    return max(2, (m - 1).bit_length())


def banded_lsh_candidate_pairs(vectors: DataFrame, rows_per_band: int = 4,
                               bands: int = 3, vec_col: str = "embedding",
                               id_col: str = "vec_id") -> DataFrame:
    """Scored candidate pairs via BANDED sign-LSH — the corpus-size-robust
    pair source for embedding near-dup at 100 TB scale.

    ``bands`` independent hash tables, each bucketing on ``rows_per_band``
    (r) distinct deterministic hyperplanes; a pair is a candidate if it
    collides in ANY band (key = (band, bucket) — no cross-band
    conflation).  Why it holds up as the corpus grows:

    * Random-collision rate is ``bands * 2^-r`` — r is THE scale knob.
      Any bucket space of fixed width admits a FIXED fraction of all N^2
      random pairs, so candidate count goes quadratic no matter how the
      data decorrelates.  Growing r by ~2*log2(scale-up) holds
      E[random candidates] ~ linear in N (:func:`band_width_for`):
      r = 14, b = 4 at 10x the corpus admits 4/2^14 ~ 0.02% of pairs.
    * Recall for a true near-dup with per-plane agreement p = 1 - theta/pi
      (Charikar) is ``1 - (1 - p^r)^b`` — banding (OR across tables)
      buys back what width costs, independently of corpus size.  At a
      production near-dup threshold (cos >= 0.95, p ~ 0.9): r=14, b=8
      -> recall ~ 0.87 while still pruning 99.95% of random pairs.

    Returns (vec_a, vec_b, cos_sim), each candidate pair once, with
    vec_a < vec_b strictly and the cosine rounded to 6 dp in Spark.
    ``id_col`` must be unique: rows sharing an id never pair with each
    other, and each of them pairs with the others' partners separately.
    A null or zero embedding scores null (its normalized vector is null
    or NaN, and PySpark turns a NaN coming back from pandas into null);
    so does a ragged pair (lengths differ).

    Execution: two Arrow passes and one exchange, no aggregate.

    * Pass 1 (``mapInPandas`` over the corpus scan): L2 norm, normalized
      vector and all b band buckets per row, emitted as b rows
      ``(id, vn, band, bucket, buckets)`` — ``buckets`` is the row's whole
      bucket array.  When the caller knows the row count it runs in
      ``ceil(N / arrow.maxRecordsPerBatch)`` tasks (at most
      ``defaultParallelism``): each Python task costs worker set-up
      whatever it carries, ~0.03 CPU-s on a reused worker once
      ``udfs.drop_zip_finders`` runs first in every worker function
      (SCALE.md "Python crossing fixed cost").
    * Exchange: ``repartition(band, bucket)``, then
      ``sortWithinPartitions(band, bucket, id)``.  With a known N it has
      ``ceil(N·b / arrow.maxRecordsPerBatch)`` partitions (at most
      ``defaultParallelism``); otherwise no count, and AQE coalesces it.
      AQE alone is not enough when N is known: its parallelism-first
      coalescing (partitions down to 1 MB) left the 8,000 rows of 2,000
      64-d vectors in 3 Python tasks, for rows that fit one batch.
    * Pass 2 (one ``mapInPandas`` over the sorted stream): the trailing
      (band, bucket) group is carried across Arrow batches, and the
      complete groups of a batch run through one vectorised pair kernel
      in steps of at most 2^20 pairs (bounded memory on hot buckets).
      Each member's vector crosses the Python boundary once per band
      (corpus·b rows — linear), not once per candidate pair: this is what
      distinguishes the pass from the r6-rejected per-pair ``pandas_udf``
      dot, whose Arrow volume scaled with the candidate count.
    * A pair colliding in several bands is emitted only in its LOWEST
      shared band (the first equal entry of the two ``buckets`` arrays),
      so no ``distinct`` is needed.

    Bit-parity with the expression forms (and hence the SQL oracle) is
    by construction: every accumulation (norm, plane projection, pair
    dot) runs DIM-SEQUENTIALLY — vectorized across rows/pairs but in
    ascending dimension order, acc = acc + x_d·y_d — which is exactly
    the ``aggregate`` fold's IEEE operation sequence, so every double
    (and every sign decision) is identical; the 6-dp round stays in
    Spark.  The non-uniform fallback of pass 1 replicates zip_with
    null-padding / coalesce semantics row by row.
    """
    return _banded_pairs(vectors, rows_per_band, bands, vec_col, id_col)


def _python_tasks(spark, n_rows: int) -> int:
    """Python tasks for ``n_rows`` Arrow rows: one per
    ``arrow.maxRecordsPerBatch`` batch, at most ``defaultParallelism``."""
    per_batch = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    tasks = -(-n_rows // per_batch) if per_batch > 0 else 1
    return max(1, min(tasks, spark.sparkContext.defaultParallelism))


_PAIR_STEP = 1 << 20  # pairs per kernel step: bounds memory on hot buckets


def _banded_pairs(vectors: DataFrame, rows_per_band: int, bands: int,
                  vec_col: str, id_col: str, threshold: float | None = None,
                  n_rows: int | None = None) -> DataFrame:
    """The pass behind :func:`banded_lsh_candidate_pairs` (see there).
    ``threshold`` keeps only ``cos_sim >= threshold`` — the kernel already
    drops pairs with ``dot < threshold - 1e-6``, which the 6-dp round
    cannot lift to the threshold, and keeps NaN and null dots for Spark's
    exact filter.  ``n_rows`` (a count the caller already took) sizes
    pass 1 and the exchange."""
    import pandas as pd

    idt = [f.dataType.simpleString() for f in vectors.schema
           if f.name == id_col][0]
    # Buckets are computed on the RAW vector: sign-LSH is scale-invariant
    # (dividing by the positive L2 norm never flips a projection's sign).
    # Weights folded at CLOSURE-build time, identically to
    # plane_weight_value's literal folding (it is the same function).
    W = [[plane_weight_value(j * rows_per_band + p, d) for d in range(64)]
         for j in range(bands) for p in range(rows_per_band)]
    nb, rpb = bands, rows_per_band
    floor = None if threshold is None else threshold - 1e-6
    vb_schema = (f"id {idt}, vn array<double>, band int, bucket int, "
                 "buckets array<int>")

    def vn_buckets(batches):
        drop_zip_finders()
        import numpy as np
        Wnp = np.asarray(W, dtype=np.float64)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            vs = pdf["v"].tolist()
            try:
                V = np.asarray(vs, dtype=np.float64)
                fast = V.ndim == 2
            except (TypeError, ValueError):
                fast = False
            if fast:
                k, dim = V.shape
                dd = min(dim, 64)  # zip_with vs the 64-wide weight array
                BK = np.zeros((k, nb), dtype=np.int32)
                with np.errstate(all="ignore"):
                    acc = np.zeros(k)
                    for d in range(dim):
                        acc = acc + V[:, d] * V[:, d]
                    nrm = np.sqrt(acc)
                    vn = list(V / nrm[:, None])
                    for j in range(nb):
                        for p in range(rpb):
                            w = Wnp[j * rpb + p]
                            accp = np.zeros(k)
                            for d in range(dd):
                                accp = accp + V[:, d] * w[d]
                            BK[:, j] += np.where(accp >= 0, 1 << p, 0)
            else:
                # non-uniform/null rows: replicate the expression semantics
                # (zip_with null-padding, coalesce(x*w, 0.0), null norm
                # poisoning vn, IEEE division) row by row
                vn, BK = [], np.zeros((len(vs), nb), dtype=np.int32)
                for i, v in enumerate(vs):
                    if v is None:
                        vn.append(None)
                        continue
                    nrm = 0.0
                    for x in v:
                        nrm = None if (nrm is None or x is None) \
                            else nrm + x * x
                    nrm = None if nrm is None else float(np.sqrt(nrm))
                    with np.errstate(all="ignore"):
                        vn.append([None] * len(v) if nrm is None else
                                  [None if x is None
                                   else float(np.float64(x) / np.float64(nrm))
                                   for x in v])
                    for j in range(nb):
                        for p in range(rpb):
                            w = Wnp[j * rpb + p]
                            accp = 0.0
                            for d in range(min(len(v), 64)):
                                if v[d] is not None:
                                    accp = accp + v[d] * w[d]
                            if accp >= 0:
                                BK[i, j] += 1 << p
            k = len(ids)
            yield pd.DataFrame({
                "id": np.tile(ids, nb), "vn": vn * nb,
                "band": np.repeat(np.arange(nb, dtype=np.int32), k),
                "bucket": BK.T.reshape(-1), "buckets": list(BK) * nb})

    def group_starts(pdf: pd.DataFrame):
        import numpy as np
        band, bucket = pdf["band"].to_numpy(), pdf["bucket"].to_numpy()
        return np.flatnonzero((band[1:] != band[:-1])
                              | (bucket[1:] != bucket[:-1])) + 1

    def pair_kernel(pdf: pd.DataFrame):
        """All a<b pairs inside the complete (band, bucket) groups of the
        sorted frame ``pdf``, in steps of at most _PAIR_STEP pairs."""
        import numpy as np
        k = len(pdf)
        starts = np.r_[0, group_starts(pdf)]
        ends = np.r_[starts[1:], k]
        # partners of row i: rows i+1 .. end of its group - 1
        left = np.repeat(ends, ends - starts) - np.arange(k) - 1
        ids, band = pdf["id"].to_numpy(), pdf["band"].to_numpy()
        BK = np.stack(pdf["buckets"].to_numpy())
        vns = pdf["vn"].to_numpy()
        lens = np.fromiter((-1 if x is None else len(x) for x in vns),
                           np.int64, k)
        # per vector length: dimension-major matrix + row -> column map
        mats = []
        for L in np.unique(lens[lens >= 0]):
            rows = np.flatnonzero(lens == L)
            col = np.full(k, -1)
            col[rows] = np.arange(len(rows))
            mats.append((L, np.stack(list(vns[rows]), axis=1), col))
        cum = np.cumsum(left)
        i0 = 0
        while i0 < k:
            base = cum[i0 - 1] if i0 else 0
            i1 = max(i0 + 1, int(np.searchsorted(cum, base + _PAIR_STEP,
                                                 side="right")))
            cnt = left[i0:i1]
            ia = np.repeat(np.arange(i0, i1), cnt)
            ib = (np.arange(len(ia)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
                  + ia + 1)
            i0 = i1
            # strict id order (a repeated id never self-pairs), and the
            # pair's lowest shared band only
            keep = ((ids[ia] < ids[ib])
                    & ((BK[ia] == BK[ib]).argmax(axis=1) == band[ia]))
            ia, ib = ia[keep], ib[keep]
            dots = np.full(len(ia), np.nan)  # null / ragged -> null in Spark
            for L, VT, col in mats:
                s = np.flatnonzero((lens[ia] == L) & (lens[ib] == L))
                ca, cb = col[ia[s]], col[ib[s]]
                acc = np.zeros(len(s))
                for d in range(L):
                    acc = acc + VT[d][ca] * VT[d][cb]
                dots[s] = acc
            if floor is not None:
                keep = ~(dots < floor)  # NaN stays for Spark's filter
                ia, ib, dots = ia[keep], ib[keep], dots[keep]
            if len(ia):
                yield pd.DataFrame({"vec_a": ids[ia], "vec_b": ids[ib],
                                    "__dot": dots})

    def pair_stream(batches):
        drop_zip_finders()
        pending = []  # the open (band, bucket) group, across batches
        for pdf in batches:
            if pdf.empty:
                continue
            starts = group_starts(pdf)
            if pending and (pending[-1]["band"].iat[-1] != pdf["band"].iat[0]
                            or pending[-1]["bucket"].iat[-1]
                            != pdf["bucket"].iat[0]):
                starts = [0, *starts]
            if not len(starts):
                pending.append(pdf)
                continue
            done = pd.concat([*pending, pdf.iloc[:starts[-1]]],
                             ignore_index=True)
            pending = [pdf.iloc[starts[-1]:]]
            yield from pair_kernel(done)
        if pending:
            yield from pair_kernel(pd.concat(pending, ignore_index=True))

    v = vectors.select(F.col(id_col).alias("id"),
                       as_double(vec_col).alias("v"))
    by_rows = []  # exchange partitions: left to AQE when N is unknown
    if n_rows is not None:
        tasks = _python_tasks(v.sparkSession, n_rows)
        if v.rdd.getNumPartitions() < tasks:
            v = v.repartition(tasks)
        by_rows = [_python_tasks(v.sparkSession, n_rows * bands)]
    pairs = (v.mapInPandas(vn_buckets, vb_schema)
             .repartition(*by_rows, "band", "bucket")
             .sortWithinPartitions("band", "bucket", "id")
             .mapInPandas(pair_stream, f"vec_a {idt}, vec_b {idt}, "
                                       "__dot double")
             .select("vec_a", "vec_b", F.round("__dot", 6).alias("cos_sim")))
    if threshold is not None:
        pairs = pairs.filter(F.col("cos_sim") >= threshold)
    return pairs


def cosine_near_dups_banded(vectors: DataFrame, threshold: float,
                            rows_per_band: int = 4, bands: int = 3,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Thresholded embedding near-dup pairs over banded-LSH candidates
    at a caller-chosen band width (approximate by design; candidate set
    deterministic, verification cosine exact).  The threshold is applied
    inside the pair kernel, so sub-threshold pairs never leave Python;
    :func:`cosine_near_dups_scaled` sizes the width from the corpus."""
    return _banded_pairs(vectors, rows_per_band, bands, vec_col, id_col,
                         threshold)


def cosine_near_dups_scaled(vectors: DataFrame, threshold: float,
                            bands: int = 4,
                            candidates_per_vector: int = 100,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Width-adaptive thresholded near-dup pairs — the certified DEFAULT
    embedding-dedup surface.  One ``count()`` sizes the band width via
    :func:`band_width_for` so E[random candidates] stays ~linear in the
    corpus (a width fixed in advance admits a fixed fraction of all N²
    pairs); the verification cosine is exact and the candidate set is a
    deterministic pure function of the corpus, so a SQL oracle can replay
    it.  The same count sizes the first Python pass and the exchange."""
    n = vectors.count()
    r = band_width_for(n, bands, candidates_per_vector)
    return _banded_pairs(vectors, r, bands, vec_col, id_col, threshold, n)


def kmeans_assign(vectors: DataFrame, k: int = 8, iters: int = 2,
                  dim: int = 64, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Distributed Lloyd k-means, engine-portable and fully deterministic:

    - init: the k lowest-id vectors are the centroids (no RNG);
    - each iteration assigns every vector to its nearest centroid with the
      codegen'd argmin expression (ties → lowest centroid id), then
      recomputes centroids as the per-dimension mean ROUNDED to 6 dp —
      rounding makes the double summation order (nondeterministic across
      partitions/engines) irrelevant, so a SQL oracle can replay the
      whole iteration history exactly;
    - empty clusters keep their previous centroid.

    Assignment and the mean-update run distributed (one hash-agg per
    iteration); only the k centroid rows ever reach the driver — the same
    bounded-collect contract as broadcasting IVF centroids.  Returns the
    final (vec_id, list_id) assignment.
    """
    v = vectors.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    cent = _lloyd_centroids(v, k, iters, dim)
    final = v.select("id", _nearest_centroid_expr(F.col("v"), cent).alias("list_id"))
    return final.select(F.col("id").alias(id_col), "list_id")


def _lloyd_centroids(v: DataFrame, k: int, iters: int,
                     dim: int,
                     init: list[list[float]] | None = None) -> list[list[float]]:
    """The deterministic Lloyd loop of :func:`kmeans_assign` (init = k
    lowest-id vectors, rounded mean updates, empty clusters keep their
    centroid); returns the final centroid list.  Only k centroid rows per
    iteration reach the driver.

    ``init`` (r17): pre-collected initial centroids — callers training
    many subspaces (:func:`pq_codebooks`) share ONE lowest-id collect and
    slice it per subspace instead of paying one ordered-limit job each;
    value-identical because each subspace's init rows are slices of the
    same k lowest-id vectors."""
    if init is None:
        init_rows = sorted(v.orderBy("id").limit(k).collect(),
                           key=lambda r: r["id"])
        init = [list(r["v"]) for r in init_rows]
    cent = [list(c) for c in init]
    for _ in range(iters):
        assigned = _assign_nearest(v.select("id", "v"), cent)
        # Narrow posexplode mean agg (r18, guide §1.2): the previous
        # dim-wide form (64 avg(element_at) aggregates = 128+ agg buffer
        # fields) fell out of whole-stage codegen (codegen field limit)
        # and ran interpreted — measured 1.1-1.3 s vs 0.46 s per
        # iteration at sf0.1 (alternating A/B, values identical).  The
        # per-dimension mean is the same multiset average either way;
        # the contractual 6-dp rounding exists precisely to make the
        # summation order immaterial.
        rows = (assigned
                .select("list_id", F.posexplode("v").alias("__d", "__x"))
                .groupBy("list_id", "__d")
                .agg(F.round(F.avg("__x"), 6).alias("__c"))
                .collect())
        new: dict[int, list] = {}
        for r in rows:
            new.setdefault(r["list_id"], [None] * dim)[r["__d"]] = r["__c"]
        cent = [new.get(j, cent[j]) for j in range(k)]
    return cent


def ivf_topk_deterministic(vectors: DataFrame, queries: DataFrame,
                           k: int = 10, n_centroids: int = 8, iters: int = 2,
                           nprobe: int = 2, dim: int = 64,
                           vec_col: str = "embedding", id_col: str = "vec_id",
                           q_id_col: str = "query_id",
                           same_label_col: str | None = None) -> DataFrame:
    """IVF top-k with the ENGINE-PORTABLE coarse quantizer: centroids come
    from the deterministic Lloyd loop (:func:`_lloyd_centroids` — same
    init/update/tie-break rules a SQL oracle can replay exactly), so the
    entire approximate search — list assignment, nprobe probe selection,
    candidate scoring, final ranking — is exact cross-engine semantics,
    not just a recall bound.

    Physical shape: centroids fold into a codegen
    argmin for the one-pass distributed assignment; each query's nprobe
    nearest lists come from sorting the same distance array (ties → lowest
    centroid id); candidates flow through a broadcast equi-join on
    ``list_id``.  No driver-side query collect — probe selection is a
    column expression.

    ``same_label_col``: when set (both inputs must carry it), the probe
    scan keeps only candidates whose label equals the query's —
    PRE-FILTERED vector search (the "filtered ANN" shape every vector
    store serves): the predicate prunes candidates BEFORE ranking, so
    the k survivors are the best same-label vectors in the probed lists,
    not the leftovers of an unfiltered top-k (post-filtering, which
    starves recall when the filter is selective — quantified by the
    sim_filtered_recall row).  Centroid training stays unfiltered (one
    shared geometry for every filter value).
    """
    from pyspark.sql import Window

    v_cols = [F.col(id_col).alias("neighbor_id"),
              as_double(vec_col).alias("v")]
    if same_label_col is not None:
        v_cols.append(F.col(same_label_col).alias("__lbl"))
    v = vectors.select(*v_cols)
    cent = _lloyd_centroids(
        v.select(F.col("neighbor_id").alias("id"), "v"), n_centroids, iters, dim)

    assigned = v.withColumn(
        "list_id", _nearest_centroid_expr(F.col("v"), cent).alias("list_id"))

    q_cols = [F.col(q_id_col).alias("query_id"),
              as_double(vec_col).alias("q")]
    if same_label_col is not None:
        q_cols.append(F.col(same_label_col).alias("__flbl"))
    q = queries.select(*q_cols)
    probes = q.withColumn(
        "list_id", F.explode(_nearest_ids(F.col("q"), cent, nprobe)))

    cand = assigned.join(F.broadcast(probes), "list_id")
    if same_label_col is not None:
        cand = cand.filter(F.col("__lbl") == F.col("__flbl"))
    scored = (cand
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.round(cosine(F.col("q"), F.col("v")), 6).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def tfidf_cosine_topk(docs: DataFrame, k: int = 10, n_queries: int = 5,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_df_ratio: float | None = None) -> DataFrame:
    """Sparse document similarity: TF-IDF cosine top-k through the INVERTED
    INDEX — the text-side counterpart of the dense embedding ANN paths.

    Scale shape: no document ever meets another except through a shared
    term, so the pair space is generated by a term equi-join on the posting
    lists (exactly the candidate-generation story of the dedup family) and
    the dot product is a per-(query, doc) partial-aggregated SUM — never an
    all-pairs stage.  The corpus-size scalar rides the same broadcast
    1-row relation as BM25's A4/A5.

    BOTH ``tf`` and ``w`` are persisted stages.  tf (the most upstream
    shared relation) caches so the tokenize subtree is paid ONCE on first
    materialization — dfreq (a tiny vocabulary-bounded per-term agg that
    broadcasts) derives from the cache instead of re-running tokenize,
    the round-7 cold win (1.10→0.75 s at sf0.1).  w caches so the three
    consumers (norms, query side, corpus side) read the weights directly
    instead of re-paying the broadcast-join + multiply per consumer per
    run — without it, warm repeat runs re-derive w three times from
    cached tf, which is exactly the r6→r7 driver-bench regression
    (1.21→1.64 s warm min-of-3).  Memory cost is one extra corpus×terms
    double column; at cluster scale both stages become persisted tables.

    ``max_df_ratio`` (off by default, so oracles replay exact semantics)
    drops terms appearing in more than that fraction of documents — the
    standard IR stop-term cut that also bounds the hottest join key at
    100× scale.

    Queries = docs with numeric id < ``n_queries``; returns
    (query_id, neighbor_id, cos_sim, rank), cosine rounded 6 dp, ranked by
    (rounded cos desc, numeric neighbor asc).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from .index import tokenize_positions

    tokens = tokenize_positions(docs, text_col, id_col)
    tf = (tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.select(F.count("*").alias("n_docs"))
    if max_df_ratio is not None:
        dfreq = dfreq.crossJoin(F.broadcast(n)).filter(
            F.col("df") <= F.col("n_docs") * max_df_ratio).select("term", "df")
    # dfreq is vocabulary-sized: hint only while the source corpus bounds
    # it to broadcast size; past the gate AQE picks the join from the
    # runtime size of dfreq's own aggregation shuffle.
    from ..hints import broadcast_if_source_small

    w = (tf.join(broadcast_if_source_small(dfreq, docs), "term")
         .crossJoin(F.broadcast(n))
         .select("doc_id", "term",
                 (F.col("tf")
                  * F.log(F.col("n_docs").cast("double") / F.col("df")))
                 .alias("w"))
         .persist(StorageLevel.MEMORY_AND_DISK))
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    q = (w.filter(F.col("doc_id").cast("bigint") < n_queries)
         .select(F.col("doc_id").alias("query_id"), "term",
                 F.col("w").alias("wq")))
    num = (w.join(F.broadcast(q), "term")
           .filter(F.col("doc_id") != F.col("query_id"))
           .groupBy("query_id", "doc_id")
           .agg(F.sum(F.col("w") * F.col("wq")).alias("num")))
    nq = nrm.select(F.col("doc_id").alias("query_id"),
                    F.col("nrm").alias("nrm_q"))
    scored = (num.join(F.broadcast(nq), "query_id")
              .join(nrm, "doc_id")
              .select("query_id", F.col("doc_id").alias("neighbor_id"),
                      F.round(F.col("num") / (F.col("nrm_q") * F.col("nrm")),
                              6).alias("cos_sim")))
    win = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(F.col("neighbor_id").cast("bigint")))
    return (scored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k))


def cosine_top_pairs_scaled(vectors: DataFrame, top_n: int = 20,
                            bands: int = 4,
                            candidates_per_vector: int = 100,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Most-similar vector pairs among width-adaptive banded-LSH
    candidates: exact cosine, then a global top-n (TakeOrdered, no full
    sort).  One count() sizes the band width via :func:`band_width_for`,
    holding E[random candidates] ~ linear in the corpus instead of
    quadratic, and sizes the Python passes.  Approximate by design;
    deterministic given the corpus (the width is a pure function of the
    row count)."""
    n = vectors.count()
    r = band_width_for(n, bands, candidates_per_vector)
    return (_banded_pairs(vectors, r, bands, vec_col, id_col, n_rows=n)
            .orderBy(F.desc("cos_sim"), F.asc("vec_a"), F.asc("vec_b"))
            .limit(top_n))


def pq_codebooks(v: DataFrame, m: int, ks: int, iters: int,
                 dim: int) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks: subspace s = dims [s·dim/m, (s+1)·dim/m)
    trained by the same deterministic Lloyd loop as the IVF coarse
    quantizer (:func:`_lloyd_centroids` — lowest-id init, rounded-mean
    updates, lowest-cid tie-break), so a SQL oracle can replay every
    codebook exactly.  ``v`` must be (id, v) with ``v`` double[dim].

    r17 (guide §2.6 — overlap independent jobs): the m sub-problems are
    INDEPENDENT, so (a) the m per-subspace init collects collapse into
    ONE lowest-id collect sliced per subspace, and (b) the m Lloyd loops
    run from a small driver thread pool so each iteration's tiny jobs
    back-fill executor slots left idle by the others' stage tails —
    codebooks are bit-identical (same init rows, same assignment
    literals, same rounded means; pool.map preserves subspace order).
    Measured at sf0.1: sim_ivfpq_topk 5.6→3.1 s, ivfpq_index_build
    27→13 s (before/after, alternating A/B)."""
    from concurrent.futures import ThreadPoolExecutor

    sub = dim // m
    init_rows = sorted(v.orderBy("id").limit(ks).collect(),
                       key=lambda r: r["id"])

    def train(s: int) -> list[list[float]]:
        vs = v.select("id", F.slice("v", s * sub + 1, sub).alias("v"))
        init = [list(r["v"])[s * sub:(s + 1) * sub] for r in init_rows]
        return _lloyd_centroids(vs, ks, iters, sub, init=init)

    if m == 1:
        return [train(0)]
    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        return list(pool.map(train, range(m)))


def pq_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 4, ks: int = 8, iters: int = 1, dim: int = 64,
            vec_col: str = "embedding", id_col: str = "vec_id",
            q_id_col: str = "query_id") -> DataFrame:
    """Product-quantization ANN (Jégou, Douze, Schmid — TPAMI'11):
    the memory-compression path that makes billion-vector search fit in
    RAM.  The vector is split into ``m`` subspaces; each subspace gets a
    ``ks``-centroid codebook (deterministic Lloyd — engine-portable);
    every corpus vector is ENCODED map-side as m small codes (argmin per
    subspace, centroid literals folded into codegen — a 64-float vector
    becomes m bytes, a 64x compression at m=4/ks=8); queries never touch
    raw corpus vectors again: scoring is the ASYMMETRIC DISTANCE (ADC) —
    per-subspace distance tables from the RAW query slice to each
    centroid, summed by code lookup.

    Scale shape (100 TB): codebook training reads the corpus iters+1
    times per subspace with only ks centroid rows reaching the driver
    (the corpus relation is persisted across the m loops and unpersisted
    once the codebooks are on the driver, so the returned plan re-reads
    the scan and nothing stays cached; a production trainer would fuse
    the m independent sub-problems into one pass);
    encoding is one projection — no join, no shuffle; query scoring
    broadcasts Q queries against the m-byte code relation, so the scan
    moves |corpus|·m bytes instead of |corpus|·dim floats.  Ranking is a
    per-query window (Q partitions): at production scale the standard
    per-partition-top-k + merge replaces the window; the ADC scan itself
    is the PQ contract.

    Returns (query_id, neighbor_id, adc_dist, rank) — rank 1..k by
    ascending ADC distance, neighbor_id tiebreak; adc_dist rounded 6 dp
    for engine parity (the oracle replays codebooks, codes, and table
    lookups identically).
    """
    from pyspark.sql import Window

    sub = dim // m
    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       as_double(vec_col).alias("v")).persist()
    try:
        books = pq_codebooks(
            v.select(F.col("neighbor_id").alias("id"), "v"), m, ks, iters,
            dim)
    finally:
        v.unpersist()

    codes = v.select(
        "neighbor_id",
        *[_nearest_centroid_expr(F.slice("v", s * sub + 1, sub),
                                 books[s]).alias(f"c{s}")
          for s in range(m)])
    q = queries.select(F.col(q_id_col).alias("query_id"),
                       as_double(vec_col).alias("q"))

    # r17 (guide §1.2 per-task work): the per-subspace distance TABLE
    # depends only on the query row, so it is computed ONCE per query on
    # the broadcast side (m arrays of ks doubles) instead of per
    # candidate row after the join — the interpreted higher-order fold
    # used to run m·ks times per (candidate, query) pair; now the
    # candidate side pays m array lookups.  Value-identical: the same
    # expression over the same query slice, just evaluated earlier.
    q = q.select("query_id", "q",
                 *[_sq_dists(F.slice("q", s * sub + 1, sub),
                             books[s]).alias(f"__dt{s}")
                   for s in range(m)])
    joined = codes.crossJoin(F.broadcast(q)) \
        .filter(F.col("neighbor_id") != F.col("query_id"))

    adc = None
    for s in range(m):
        term = F.element_at(F.col(f"__dt{s}"), F.col(f"c{s}") + 1)
        adc = term if adc is None else adc + term

    scored = joined.select("query_id", "neighbor_id",
                           F.round(adc, 6).alias("adc_dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivfpq_train(vectors: DataFrame, n_centroids: int = 4,
                coarse_iters: int = 1, m: int = 4, ks: int = 8,
                pq_iters: int = 1, dim: int = 64,
                vec_col: str = "embedding", id_col: str = "vec_id"):
    """Train the IVF+PQ index: deterministic coarse Lloyd centroids,
    full-corpus list assignment, residuals, per-subspace residual
    codebooks, and the m-code encoding.  Returns
    ``(cent, books, codes_df, cached)`` where ``cent`` is the coarse
    centroid list, ``books`` the per-subspace codebooks, ``codes_df``
    the (neighbor_id, list_id, c0..c{m-1}) relation, and ``cached`` the
    persisted intermediate relations the caller should unpersist once
    ``codes_df`` is materialized (the training loops read them
    repeatedly).  Shared by the in-flight :func:`ivfpq_topk` and the
    persisted serving path (``operators.persist.write_ivfpq``), so the
    two are the same index by construction."""
    sub = dim // m
    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       as_double(vec_col).alias("v")).persist()
    cent = _lloyd_centroids(
        v.select(F.col("neighbor_id").alias("id"), "v"),
        n_centroids, coarse_iters, dim)

    res = (v.withColumn("list_id", _nearest_centroid_expr(F.col("v"), cent))
           .withColumn("rv", F.zip_with(
               "v", F.element_at(_matrix_literal(cent), F.col("list_id") + 1),
               lambda x, y: x - y))
           .persist())
    books = pq_codebooks(
        res.select(F.col("neighbor_id").alias("id"),
                   F.col("rv").alias("v")), m, ks, pq_iters, dim)
    codes = res.select(
        "neighbor_id", "list_id",
        *[_nearest_centroid_expr(F.slice("rv", s * sub + 1, sub),
                                 books[s]).alias(f"c{s}")
          for s in range(m)])
    return cent, books, codes, [v, res]


def ivfpq_encode(vectors: DataFrame, cent: list[list[float]],
                 books: list[list[list[float]]], dim: int = 64,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Encode vectors against FROZEN IVF+PQ codebooks — the FAISS
    ``add()`` path: coarse argmin → residual → per-subspace code argmin,
    all one map-side projection (centroid literals in codegen, no
    training, no shuffle).  This is how a production index absorbs a
    day's new vectors: the codebooks trained at build time are reused
    verbatim, and the new code rows append to the stored lists
    (``persist.ivfpq_append``)."""
    m = len(books)
    sub = dim // m
    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       as_double(vec_col).alias("v"))
    res = (v.withColumn("list_id", _nearest_centroid_expr(F.col("v"), cent))
           .withColumn("rv", F.zip_with(
               "v", F.element_at(_matrix_literal(cent), F.col("list_id") + 1),
               lambda x, y: x - y)))
    return res.select(
        "neighbor_id", "list_id",
        *[_nearest_centroid_expr(F.slice("rv", s * sub + 1, sub),
                                 books[s]).alias(f"c{s}")
          for s in range(m)])


def ivfpq_score(codes: DataFrame, queries: DataFrame,
                cent: list[list[float]], books: list[list[list[float]]],
                k: int = 10, nprobe: int = 2, dim: int = 64,
                vec_col: str = "embedding",
                q_id_col: str = "query_id",
                allowed: DataFrame | None = None) -> DataFrame:
    """The IVF+PQ SERVING plan: probe selection (each query's nprobe
    nearest coarse lists, ties → lowest cid), per-list query residuals,
    and asymmetric-distance scoring of the m-byte code rows — all as
    column expressions over literal-folded codebooks (no UDF, no
    driver-side query loop).  ``codes`` may be the in-flight encoding
    or a persisted parquet read — the plan is identical either way,
    which is what makes the persisted probe equal to the in-flight
    query by construction.

    ``allowed``: optional (query_id, neighbor_id) relation of
    predicate-passing pairs — candidates are PRE-filtered (left-semi
    before ranking), so the k survivors are the best allowed codes in
    the probed lists: metadata-filtered ANN on the compressed serving
    path.  Build it from any metadata equi-join (e.g. label match); it
    composes in-plan, nothing is materialized."""
    from pyspark.sql import Window

    m = len(books)
    sub = dim // m
    q = queries.select(F.col(q_id_col).alias("query_id"),
                       as_double(vec_col).alias("q"))
    probes = (q.withColumn(
        "list_id", F.explode(_nearest_ids(F.col("q"), cent, nprobe)))
        .withColumn("qr", F.zip_with(
            "q", F.element_at(_matrix_literal(cent), F.col("list_id") + 1),
            lambda x, y: x - y)))

    # r17 (guide §1.2 per-task work): the ADC distance tables depend only
    # on the (query, probed list) row — compute them ONCE per probe row on
    # the broadcast side (m arrays of ks doubles each) instead of per
    # candidate row after the join; the code side then pays m array
    # lookups per candidate.  Value-identical (same expression over the
    # same residual slice, evaluated earlier).  At bounded-C configs the
    # old shape ran the interpreted fold m·ks times per scanned code.
    probes = probes.select(
        "query_id", "list_id",
        *[_sq_dists(F.slice("qr", s * sub + 1, sub),
                    books[s]).alias(f"__dt{s}")
          for s in range(m)])

    joined = codes.join(F.broadcast(probes), "list_id") \
        .filter(F.col("neighbor_id") != F.col("query_id"))
    if allowed is not None:
        joined = joined.join(allowed.select("query_id", "neighbor_id"),
                             ["query_id", "neighbor_id"], "left_semi")

    adc = None
    for s in range(m):
        term = F.element_at(F.col(f"__dt{s}"), F.col(f"c{s}") + 1)
        adc = term if adc is None else adc + term

    scored = joined.select("query_id", "neighbor_id",
                           F.round(adc, 6).alias("adc_dist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivfpq_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
               n_centroids: int = 4, coarse_iters: int = 1, nprobe: int = 2,
               m: int = 4, ks: int = 8, pq_iters: int = 1, dim: int = 64,
               vec_col: str = "embedding", id_col: str = "vec_id",
               q_id_col: str = "query_id") -> DataFrame:
    """IVF + PQ with RESIDUAL encoding — the production ANN index
    architecture (FAISS 'IVFx,PQy'; Jégou et al. TPAMI'11 §V): the
    coarse quantizer prunes candidates to nprobe inverted lists AND
    centers them, the product quantizer compresses each residual to m
    codes, and queries score candidates by the asymmetric distance
    between the QUERY residual (per probed list) and the code
    centroids.  Composes the two independently-certified pieces
    (:func:`ivf_topk_deterministic`'s coarse Lloyd + probe selection,
    :func:`pq_topk`'s codebooks/encode/ADC) into one deterministic,
    SQL-replayable pipeline — :func:`ivfpq_train` then
    :func:`ivfpq_score` in one flight.

    Scale shape: coarse assignment + residuals + codes are ONE
    projection pass over the corpus (all centroid literals in codegen);
    the scoring join is an equi-join on list_id against the broadcast
    (query × probed-list) relation, touching ~nprobe/n_centroids of the
    code rows — candidate pruning AND 16× memory compression at once,
    which is exactly why this is the billion-vector layout.  NOTE: this
    in-flight form re-trains the codebooks on every run — the
    certification shape.  The production serving shape trains once and
    probes a PERSISTED index (``persist.write_ivfpq`` /
    ``persist.ivfpq_probe_persisted``).  The training relations are
    unpersisted once the codebooks are on the driver, so the returned
    plan re-reads the scan and nothing stays cached.
    """
    cent, books, codes, cached = ivfpq_train(
        vectors, n_centroids, coarse_iters, m, ks, pq_iters, dim,
        vec_col, id_col)
    for df in cached:
        df.unpersist()
    return ivfpq_score(codes, queries, cent, books, k=k, nprobe=nprobe,
                       dim=dim, vec_col=vec_col, q_id_col=q_id_col)


def _semdedup_assignments(vectors: DataFrame, k: int, iters: int, dim: int,
                          vec_col: str, id_col: str) -> DataFrame:
    """Shared SemDeDup front end: deterministic Lloyd clusters, k-adaptive
    assignment with 6-dp-rounded own-centroid distance, and per-row L2
    normalization.  Returns (vec_id, list_id, cdist, v, vn).

    Assignment + own-centroid distance go through the k-adaptive path
    (_assign_nearest): literal codegen argmin at small k, broadcast-join
    argmin past LITERAL_ARGMIN_MAX_K — the k ∝ N contract must not
    compile a k-way expression tree at production cluster counts.
    No persist: the assignment lineage feeds multiple consumers, but
    recomputing it pipelines inside each stage; measured sf0.1 times
    with and without a persist barrier are equal within machine noise
    (6.3-7.8 s both ways — the in-cluster pair work dominates), so the
    simpler unpersisted plan wins.

    Pre-normalize ONCE PER ROW (r10): the in-cluster pair stage is the
    dominant cost (pairs ∝ Σ cluster²), and cosine(va, vb) evaluated
    per pair costs THREE array folds (dot + both norms recomputed per
    candidate).  Normalizing on the inputs makes the per-pair work one
    dot fold.  The oracle computes the identical normalized form, so the
    6-dp rounded value stays engine-exact."""
    v = vectors.select(F.col(id_col).alias("vec_id"),
                       as_double(vec_col).alias("v"))
    cent = _lloyd_centroids(
        v.select(F.col("vec_id").alias("id"), "v"), k, iters, dim)
    asg = _assign_nearest(v, cent, out_col="list_id", dist_col="__cd")
    asg = asg.withColumn("cdist", F.round(F.col("__cd"), 6)).drop("__cd")
    nrm = l2_norm(F.col("v"))
    return asg.withColumn("vn", F.transform("v", lambda x: x / nrm))


def semdedup(vectors: DataFrame, k: int = 8, iters: int = 2,
             threshold: float = 0.95, dim: int = 64,
             vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """SemDeDup-style SEMANTIC dedup over an embedding column (Abbas et
    al. 2023, arXiv:2303.09540): cluster the corpus with deterministic
    Lloyd k-means, compare vectors only WITHIN their cluster, and drop
    every vector that has an above-threshold cosine neighbor preceding
    it in the cluster's (distance-to-centroid, id) order — so exactly
    the in-cluster "semantic duplicates" go, keeping one representative
    per duplicate neighborhood (the one nearest its centroid; ties to
    the lowest id).

    Policy note: this is the PAIRWISE-precedence variant — a vector is
    dropped iff some preceding in-cluster neighbor is similar to it,
    whether or not that neighbor itself survives.  The greedy
    keep-chain variant (re-instate c when its only predecessor b was
    itself dropped) needs per-cluster sequential state; at corpus scale
    the sets differ negligibly and the pairwise rule is one join + one
    anti-join, fully declarative and oracle-replayable.

    Scale shape (100 TB): k grows with corpus size so cluster sizes stay
    bounded (the SemDeDup premise — clusters of ~100k vectors at web
    scale); the only pair work is within-cluster, candidates ∝ Σ
    cluster², never N².  Centroids are plan-time literals (bounded
    driver collect, same contract as IVF).

    Execution (r18, guide §4.2/§8 — the same rewrite as
    banded_lsh_candidate_pairs): the per-cluster pair stage runs as ONE
    ``applyInPandas`` group per list_id — each member's normalized
    vector crosses the Python boundary once per cluster, the c²/2
    precedence-ordered dots are vectorized numpy with DIM-SEQUENTIAL
    accumulation (bit-identical to the old per-pair ``aggregate`` fold),
    and the 6-dp compare uses Spark's ``round``
    (:func:`spark_round6_array`), as :func:`semdedup_chain` does.  The
    cluster self-join, the drop-set distinct and the final left join
    all collapse into the one grouped pass (3 shuffles → 1).

    Returns (vec_id, list_id, cdist, keep).
    """
    import pandas as pd

    asg = _semdedup_assignments(vectors, k, iters, dim, vec_col, id_col)
    sel = asg.select("vec_id", "list_id", "cdist", "vn")
    types = {f.name: f.dataType.simpleString() for f in sel.schema}
    out_schema = (f"vec_id {types['vec_id']}, list_id {types['list_id']}, "
                  f"cdist double, keep boolean")
    th = float(threshold)

    def cluster_drop(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        import numpy as np
        pdf = (pdf.sort_values(["cdist", "vec_id"], kind="mergesort")
               .reset_index(drop=True))
        c = len(pdf)
        cols = ["vec_id", "list_id", "cdist", "keep"]
        if c <= 1:
            return pdf.assign(keep=True)[cols]
        vns = pdf["vn"].tolist()
        try:
            V = np.asarray(vns, dtype=np.float64)
            fast = V.ndim == 2
        except (TypeError, ValueError):
            fast = False
        dropped = np.zeros(c, dtype=bool)
        if fast:
            ia, ib = np.triu_indices(c, 1)  # ia precedes ib in sort order
            chunk = 1 << 20
            with np.errstate(all="ignore"):
                for s in range(0, len(ia), chunk):
                    A, B = V[ia[s:s + chunk]], V[ib[s:s + chunk]]
                    acc = np.zeros(A.shape[0], dtype=np.float64)
                    for d in range(V.shape[1]):
                        acc = acc + A[:, d] * B[:, d]
                    r6 = spark_round6_array(acc)
                    # Spark SQL orders NaN above every double, so the old
                    # join's round(dot) >= threshold was TRUE for a NaN
                    # dot (degenerate zero-norm vectors) — mirror it
                    dropped[ib[s:s + chunk][(r6 >= th)
                                            | np.isnan(r6)]] = True
        else:
            # null/ragged vn: the old join's zip_with fold yields NULL,
            # the >= filter rejects it — such pairs never drop anything
            import math
            for i in range(c):
                for j in range(i + 1, c):
                    va, vb = vns[i], vns[j]
                    if (va is None or vb is None or len(va) != len(vb)
                            or any(e is None for e in va)
                            or any(e is None for e in vb)):
                        continue
                    acc = 0.0
                    for x, y in zip(va, vb):
                        acc = acc + x * y
                    if math.isnan(acc):
                        dropped[j] = True
                        continue
                    if spark_round6(acc) >= th:
                        dropped[j] = True
        return pdf.assign(keep=~dropped)[cols]

    return sel.groupBy("list_id").applyInPandas(cluster_drop, out_schema)


def semdedup_chain(vectors: DataFrame, k: int = 8, iters: int = 2,
                   threshold: float = 0.95, dim: int = 64,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """SemDeDup with the greedy KEEP-CHAIN policy (r17, VERDICT r16 #7):
    scan each cluster in (cdist, vec_id) order and drop a vector iff an
    above-threshold neighbor among the vectors KEPT SO FAR exists — so a
    vector whose only near-duplicate predecessor was itself dropped is
    re-instated, unlike :func:`semdedup`'s pairwise-precedence rule
    (which drops on ANY nearer-to-centroid neighbor, kept or not).
    This is the policy as literally described in Abbas et al. 2023
    (keep one representative per duplicate NEIGHBORHOOD, transitively).

    Execution: the sequential scan is inherently per-cluster stateful,
    so it runs as Arrow-batched ``applyInPandas`` over ``list_id`` —
    ONE shuffle, one pandas group per cluster, never row-at-a-time
    UDFs.  Safe at 100 TB because the k ∝ N contract bounds every
    cluster to ~SEMDEDUP_K_DIV vectors (the scan is O(cluster ·
    kept-set) worst case, in practice kept sets are small); the
    clustering/assignment front end is shared with :func:`semdedup`.
    The DuckDB oracle replays the identical greedy chain with a
    recursive CTE carrying each cluster's kept-vector list.

    Dot products are 6-dp rounded exactly as Spark's ``round`` does
    (:func:`spark_round6`) before the threshold compare.

    Returns (vec_id, list_id, cdist, keep)."""
    import pandas as pd

    asg = _semdedup_assignments(vectors, k, iters, dim, vec_col, id_col)
    sel = asg.select("vec_id", "list_id", "cdist", "vn")
    types = {f.name: f.dataType.simpleString() for f in sel.schema}

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        import numpy as np

        pdf = (pdf.sort_values(["cdist", "vec_id"], kind="mergesort")
               .reset_index(drop=True))
        kept: list = []
        flags: list[bool] = []
        for vn in pdf["vn"]:
            x = np.asarray(vn, dtype=np.float64)
            dup = False
            for kv in kept:
                d = float(kv @ x)
                if spark_round6(d) >= threshold:
                    dup = True
                    break
            flags.append(not dup)
            if not dup:
                kept.append(x)
        pdf = pdf.assign(keep=flags)
        return pdf[["vec_id", "list_id", "cdist", "keep"]]

    out_schema = (f"vec_id {types['vec_id']}, list_id {types['list_id']}, "
                  f"cdist double, keep boolean")
    return sel.groupBy("list_id").applyInPandas(chain, out_schema)


def mmr_rerank(candidates: DataFrame, vectors: DataFrame, k: int = 5,
               lam: float = 0.7, vec_col: str = "embedding",
               id_col: str = "vec_id",
               cache_registry: list | None = None) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98): pick
    ``k`` results from each query's candidate page that balance relevance
    against redundancy — pick 1 = most relevant; pick i maximizes
    ``lam·sim(q,d) − (1−lam)·max_{s∈picked} sim(d,s)``.  The diversity
    re-rank every retrieval stack runs on the final page.

    Deterministic, one shuffle (r18, VERDICT r17 #3): the k-step greedy
    selection is inherently sequential PER QUERY, so it runs as an
    Arrow-batched cogrouped ``applyInPandas`` over ``query_id`` — the
    same execution shape as :func:`semdedup_chain`.  The r14-r17 form
    UNROLLED the selection into k chained argmax plan stages; at k=5
    that was already a 10,024-line / ~2 MB physical plan with 191 tiny
    joins (optimizer time + driver memory, guide §5), and it grows with
    k.  Candidate and pairwise similarities are still computed IN SPARK
    and 6-dp rounded before the greedy loop, and the per-step score uses
    Spark-exact HALF_UP decimal rounding, so the pick sequence is
    bit-identical to the unrolled chain (and to the oracle's CTE
    replay); ties break by neighbor_id.

    ``candidates``: (query_id, neighbor_id, cos_sim) — any retriever's
    top-C page (C is small: this is a per-page re-rank, so the pairwise
    relation is |Q|·C² rows by construction).  ``vectors`` supplies the
    candidate vectors for the pairwise sims.  Returns
    (query_id, rank, neighbor_id, cos_sim), rank 1..k.

    ``cache_registry`` (r14 advice): the operator persists the candidate
    page (referenced three times: the pairs self-join's two sides and
    the cogroup's candidate side) — a one-shot query safely leaves it to
    session LRU, but a long-lived serving loop calling this repeatedly
    should pass a list here; every persisted DataFrame is appended to it
    so the caller can ``unpersist()`` deterministically once the result
    is consumed.
    """
    import pandas as pd
    from pyspark import StorageLevel

    def _persist(df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_registry is not None:
            cache_registry.append(df)
        return df

    v = vectors.select(F.col(id_col).alias("__vid"),
                       as_double(vec_col).alias("__v"))
    c = _persist(candidates.select("query_id", "neighbor_id", "cos_sim"))
    pairs = (c.select("query_id", F.col("neighbor_id").alias("a"))
             .join(c.select("query_id", F.col("neighbor_id").alias("b")),
                   "query_id")
             .filter(F.col("a") != F.col("b"))
             .join(v.select(F.col("__vid").alias("a"),
                            F.col("__v").alias("__va")), "a")
             .join(v.select(F.col("__vid").alias("b"),
                            F.col("__v").alias("__vb")), "b")
             .select(F.col("query_id").alias("__pq"), "a", "b",
                     F.round(cosine(F.col("__va"), F.col("__vb")), 6)
                     .alias("sim")))

    types = {f.name: f.dataType.simpleString() for f in c.schema}
    out_schema = (f"query_id {types['query_id']}, rank int, "
                  f"neighbor_id {types['neighbor_id']}, cos_sim double")
    out_cols = ["query_id", "rank", "neighbor_id", "cos_sim"]
    lam_d, om_d = float(lam), 1.0 - float(lam)

    def greedy(cand_pdf: pd.DataFrame, pairs_pdf: pd.DataFrame) \
            -> pd.DataFrame:
        drop_zip_finders()
        if cand_pdf.empty:
            return pd.DataFrame(columns=out_cols)
        sim = {(a, b): float(s)
               for a, b, s in zip(pairs_pdf["a"], pairs_pdf["b"],
                                  pairs_pdf["sim"])}
        qid = cand_pdf["query_id"].iloc[0]
        cands = [(nid, float(rel)) for nid, rel
                 in zip(cand_pdf["neighbor_id"], cand_pdf["cos_sim"])]
        # pick 1: pure relevance, ties by neighbor_id (row_number order
        # of the unrolled form's first window)
        first = min(cands, key=lambda t: (-t[1], t[0]))
        picked = [first[0]]
        rows = [(qid, 1, first[0], first[1])]
        remaining = {nid: rel for nid, rel in cands if nid != first[0]}
        for step in range(2, k + 1):
            best = None
            for nid, rel in remaining.items():
                # max-sim-to-picked penalty; a candidate with no pair row
                # mirrors the unrolled form's INNER pen join (excluded)
                pens = [sim[(nid, p)] for p in picked if (nid, p) in sim]
                if not pens:
                    continue
                score = spark_round6(lam_d * rel - om_d * max(pens))
                key = (-score, nid)
                if best is None or key < best[0]:
                    best = (key, nid, rel)
            if best is None:
                break
            rows.append((qid, step, best[1], best[2]))
            picked.append(best[1])
            del remaining[best[1]]
        return pd.DataFrame(rows, columns=out_cols)

    # pairs derives from c, so grouping both sides by the same attribute
    # name trips the ambiguous-self-join analyzer check — the pairs side
    # groups by its renamed __pq key (cogroup keys match positionally).
    return (c.groupBy("query_id")
            .cogroup(pairs.groupBy("__pq"))
            .applyInPandas(greedy, out_schema))


def sq8_dequantized(vectors: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Per-vector symmetric int8 scalar quantization (scale = max|x|/127,
    code = round(x/scale)), RECONSTRUCTED to doubles — the search-time view
    of an SQ8 store (FAISS ``IndexScalarQuantizer``/``SQ8``): vectors are
    persisted as 1 byte/dim + one scale (4x smaller scans than float32);
    scoring dequantizes in-row.  Same quantizer as the sim_quantize_int8
    row, so its measured max_recon_err bounds this path's score error."""
    v = as_double(vec_col)
    # Zero-vector guard (r14 advice): an all-zero vector would make the
    # divisor 0 (NULL/NaN components, engine-dependent float-div-by-zero
    # semantics); flooring the scale at a tiny positive keeps the math
    # finite and reconstructs zero vectors exactly (round(0/tiny)*tiny
    # = 0).  Mirrored in the sim_sq8_topk oracle.
    scale = F.greatest(F.array_max(F.transform(v, F.abs)) / F.lit(127.0),
                       F.lit(1e-30))
    dq = F.transform(v, lambda x: F.round(x / scale) * scale)
    return vectors.select(F.col(id_col), dq.alias(vec_col))


def sq8_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             q_id_col: str = "query_id") -> DataFrame:
    """ASYMMETRIC SQ8 search: full-precision queries against the
    quantized-then-reconstructed corpus (queries are per-request, so
    quantizing them buys nothing and costs accuracy — the standard
    asymmetric-distance choice).  Exactly brute_force_topk's scoring over
    the dequantized store, so the oracle replays it bit-for-bit."""
    return brute_force_topk(sq8_dequantized(vectors, vec_col, id_col),
                            queries, k=k, vec_col=vec_col, id_col=id_col,
                            q_id_col=q_id_col)
