"""Deduplication for training-data pipelines (extension — not in reference;
required by the north-star brief): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine.

Scale design (100 TB):
- Exact dedup is a hash-groupBy on a content key — one shuffle on a
  well-distributed md5 key, min(doc_id) as the canonical survivor.
- MinHash+LSH never compares all pairs: shingles → 16 minhash slots →
  band keys → docs sharing a band bucket are the only candidates → exact
  Jaccard verification on candidates only.  This is the standard
  shingle→minhash→band→bucket-join pipeline (Broder '97; used by C4/
  RefinedWeb/Dolma-style dedup).  :func:`minhash_near_dups` runs it as
  one lazy plan with no persist and no driver collect: one exchange
  groups docs by token set (the quadratic stages then run once per
  distinct set), one exchange on (band_id, band_key) feeds a self-join
  that emits each candidate once, in its lowest shared band, so no
  ``distinct``; both exchanges are reused by every consumer.  The
  sampled skew guard of :func:`lsh_candidate_pairs` stays off this path
  (see :func:`_minhash_rep_structure`).
- SimHash packs a document into one 60-bit signature (Charikar '02;
  60 not 64 because 1<<63 overflows signed 64-bit in both engines);
  near-dup candidates share one of four 15-bit sub-fingerprint bands
  (Manku et al. '07 Hamming-distance trick) — again no all-pairs stage.
- All hashing is md5-derived (functions/hashing.py) so the DuckDB oracles
  reproduce signatures bit-for-bit; pyspark.ml's MinHashLSH would be
  equivalent but seeds its hash family JVM-side, which an external oracle
  cannot replay.

Pair outputs use (doc_a < doc_b) canonical ordering on the *numeric* value
of doc_id where possible, else lexicographic — stated per function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_hash64, minhash_sql_exprs, minhash_term_hash
from ..functions.text import tokenize

NUM_BANDS = 4
BAND_SIZE = 4  # NUM_BANDS * BAND_SIZE == NUM_MINHASH


def content_key(text: Column | str) -> Column:
    """Exact-dedup content key: md5 of the raw text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def tokenset_key(text: Column | str) -> Column:
    """Bag-insensitive content key: md5 of the sorted distinct token list —
    catches reorderings/repetitions of the same vocabulary."""
    toks = F.sort_array(F.array_distinct(tokenize(text)))
    return F.md5(F.array_join(toks, " "))


def dedup_exact(docs: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one surviving (min) doc_id per content key,
    with the group size.  Returns (doc_id string, n_copies long)."""
    return (docs.select(F.col(id_col).cast("string").alias("doc_id"),
                        key.alias("__key"))
            .groupBy("__key")
            .agg(F.min(F.col("doc_id").cast("bigint")).cast("string").alias("doc_id"),
                 F.count("*").alias("n_copies"))
            .select("doc_id", "n_copies"))


def doc_tokensets(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term) distinct pairs — the 1-gram shingle sets."""
    return (docs.select(F.col(id_col).cast("string").alias("doc_id"),
                        F.explode(F.array_distinct(tokenize(text_col))).alias("term")))


def minhash_signatures(tokensets: DataFrame) -> DataFrame:
    """16-slot MinHash signature per doc: one hash-agg shuffle."""
    h = tokensets.select("doc_id", minhash_term_hash("term").alias("h"))
    return h.groupBy("doc_id").agg(
        *[F.expr(e) for e in minhash_sql_exprs("h")])


def minhash_signatures_from_arrays(arrays: DataFrame,
                                   toks_col: str = "__toks") -> DataFrame:
    """Signature-identical to :func:`minhash_signatures`, but computed
    IN-ROW from a per-doc distinct-token array — ``array_min`` over the
    hash family replaces the explode + 16-min-agg shuffle entirely
    (map-side only).  Empty token arrays are dropped to match the exploded
    formulation, where a token-less doc contributes no rows."""
    from ..functions.hashing import minhash_sig_array_cols

    h = (arrays.filter(F.size(toks_col) > 0)
         .select("doc_id",
                 F.transform(F.col(toks_col), minhash_term_hash).alias("__h")))
    return h.select("doc_id", *minhash_sig_array_cols("__h"))


def _band_key_array() -> Column:
    """The NUM_BANDS band keys of a ``sig0..sig15`` row, as one array:
    md5 of each band's comma-joined slots (one SQL expression)."""
    keys = ", ".join(
        "md5(concat_ws(',', " + ", ".join(
            f"CAST(sig{b * BAND_SIZE + r} AS STRING)"
            for r in range(BAND_SIZE)) + "))"
        for b in range(NUM_BANDS))
    return F.expr(f"array({keys})")


def lsh_band_keys(signatures: DataFrame) -> DataFrame:
    """Explode each signature into NUM_BANDS (band_id, band_key) rows."""
    return signatures.select(
        "doc_id", F.posexplode(_band_key_array()).alias("band_id", "band_key"))


def lsh_candidate_pairs(band_keys: DataFrame,
                        hot_threshold: int = 4096) -> DataFrame:
    """Docs sharing any (band_id, band_key) bucket, as distinct canonical
    pairs ordered by numeric doc_id.  The self-join is skew-safe: a hot
    band bucket (all-identical boilerplate docs) is salted instead of
    serializing one task (operators/skew.py)."""
    from .skew import skew_safe_self_pairs

    pairs = skew_safe_self_pairs(band_keys, ["band_id", "band_key"],
                                 ["doc_id"], hot_threshold=hot_threshold)
    return (pairs
            .filter(F.col("doc_id_a").cast("bigint")
                    < F.col("doc_id_b").cast("bigint"))
            .select(F.col("doc_id_a").alias("doc_a"),
                    F.col("doc_id_b").alias("doc_b"))
            .distinct())


def jaccard_verify(pairs: DataFrame, tokensets: DataFrame,
                   threshold: float) -> DataFrame:
    """Exact Jaccard on candidate pairs only (never all-pairs), in two
    result-identical pruning layers from the set-similarity-join
    literature (SSJoin/PPJoin family):

    1. **Size filter**: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so any pair
       whose set sizes differ by more than the threshold ratio is dropped
       before the expensive step — at threshold 0.9 this kills half the
       LSH candidates with two cheap size-lookup joins.
    2. **Array verify**: per-doc sorted token arrays (one agg over the
       already-distinct tokensets) are attached to each surviving pair and
       intersected IN the row (``array_intersect``, whole-stage codegen) —
       O(|A|+|B|) per pair map-side, no O(pairs·|A∩B|) join blow-up.  A
       token set is corpus-vocabulary-bounded per doc (tens of KB even for
       long documents), so the carried arrays stay row-sized at 100 TB;
       for pathological multi-MB sets the pre-round-2 formulation (join
       pairs→(doc,term)→count) trades row width for shuffle rows.
    """
    # One agg produces both the size (for the narrow prune joins) and the
    # sorted array (for the verify joins) — the sizes projection reads the
    # same shuffle output, so the whole function costs one agg, not two.
    arrays = tokensets.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("term")).alias("__toks"))
    return jaccard_verify_arrays(pairs, arrays, threshold)


def jaccard_verify_arrays(pairs: DataFrame, arrays: DataFrame,
                          threshold: float) -> DataFrame:
    """:func:`jaccard_verify` body over an ALREADY-built per-doc sorted
    distinct token-array relation ``(doc_id, __toks)`` — callers that hold
    the arrays (the rep pipeline) skip the collect_list shuffle."""
    sizes = arrays.select("doc_id", F.size("__toks").alias("sz"))
    pruned = (pairs
              .join(sizes.select(F.col("doc_id").alias("doc_a"),
                                 F.col("sz").alias("sz_a")), "doc_a")
              .join(sizes.select(F.col("doc_id").alias("doc_b"),
                                 F.col("sz").alias("sz_b")), "doc_b")
              .filter(F.least("sz_a", "sz_b")
                      >= F.lit(threshold) * F.greatest("sz_a", "sz_b")))
    return (pruned
            .join(arrays.select(F.col("doc_id").alias("doc_a"),
                                F.col("__toks").alias("__ta")), "doc_a")
            .join(arrays.select(F.col("doc_id").alias("doc_b"),
                                F.col("__toks").alias("__tb")), "doc_b")
            .withColumn("n_inter", F.size(F.array_intersect("__ta", "__tb")))
            .withColumn("jaccard", F.round(
                F.col("n_inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def _minhash_rep_structure(docs: DataFrame, threshold: float,
                           text_col: str, id_col: str):
    """Shared core of the MinHash-LSH pipeline: exact-dup group structure
    plus verified near-dup pairs computed on one REPRESENTATIVE per
    distinct token set.  Returns ``(groups, rep_pairs)``: ``groups`` =
    (``__gkey``, ``__rep``, ``__members``, ``__toks``), one row per
    distinct token set with its sorted member ids and ``__rep`` = the
    min member;
    ``rep_pairs`` = verified (``__ra`` < ``__rb``, ``__ma``, ``__mb``,
    ``jaccard``) over representatives of non-empty token sets only.
    Docs with no tokens share the empty set's group and never pair: the
    LSH oracle gives them no signature.

    One lazy plan with two exchanges, each reused by every consumer
    (no persist, no driver collect; result-identical to the exploded
    public steps by construction):
    - **Groups exchange** on the token-set key: the corpus is tokenized
      once into sorted distinct token arrays and grouped by their md5
      (== :func:`tokenset_key`).  Docs with identical token sets have
      identical signatures, bands and Jaccards, so the band self-join
      and the verify run once per distinct token set; member pairs
      expand back map-side.  Every consumer (bands, both verify sides,
      intra-group pairs, cluster labels) reads both aggregate columns,
      so column pruning never splits the aggregate and Spark reuses its
      exchange.
    - **Signatures ride the groups exchange**: the exploded tokens are
      hashed and min-aggregated by the oracle's own SQL, grouped on
      (``__gkey``, ``__rep``, ``__sz``), which the ``__gkey``
      partitioning already satisfies: no exchange, no ``transform``.
    - **Band exchange**: narrow rows (rep, set size, 4 band keys)
      ``posexplode_outer``-ed and repartitioned to the session's
      ``spark.sql.shuffle.partitions`` on (band_id, band_key); both
      sides of the shuffled-hash self-join alias columns ABOVE that
      repartition, so they read one reused exchange.  The fixed count
      keeps AQE from coalescing a hot bucket's join into a few tasks;
      ``posexplode_outer`` keeps Spark from inferring a ``size(keys) >
      0`` filter and inlining the 16 md5 hashes per token into it.
    - **Lowest-shared-band emission**: a pair is kept only in the first
      band whose keys it shares (``array_position(zip_with(ka, kb, =),
      true) = band_id + 1``), so each candidate comes out exactly once
      and no ``distinct`` is needed; the size filter runs in the same
      join, before any token array is touched.
    - **Verify only survivors**: (members, tokens) join onto the
      candidate reps for ``array_intersect``; token arrays never ride
      through the band join.

    The skew guard of :func:`lsh_candidate_pairs` is not on this path:
    after the collapse a hot band bucket is a clique of DISTINCT near-
    duplicates whose output is quadratic anyway, the shuffled-hash build
    per bucket holds narrow rows only, and that guard's sampled
    ``collect`` (which re-ran the tokenize lineage before the real plan)
    never fired below 4,096 rows per bucket.
    """
    from ..functions.hashing import _minhash_term_hash_sql

    toks = F.sort_array(F.array_distinct(tokenize(text_col)))
    groups = (docs.select(F.col(id_col).cast("bigint").alias("__nid"),
                          toks.alias("__toks"))
              .groupBy(F.md5(F.array_join("__toks", " ")).alias("__gkey"))
              .agg(F.sort_array(F.collect_list("__nid")).alias("__members"),
                   F.first("__toks").alias("__toks"))
              .select("__gkey", F.element_at("__members", 1).alias("__rep"),
                      "__members", "__toks"))
    sigs = (groups.filter(F.size("__toks") > 0)
            .select("__gkey", "__rep", F.size("__toks").alias("__sz"),
                    F.explode("__toks").alias("__t"))
            .select("__gkey", "__rep", "__sz",
                    F.expr(_minhash_term_hash_sql("__t")).alias("h"))
            .groupBy("__gkey", "__rep", "__sz")
            .agg(*[F.expr(e) for e in minhash_sql_exprs("h")]))
    n_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bands = (sigs.select("__rep", "__sz", _band_key_array().alias("__keys"))
             .select("__rep", "__sz", "__keys",
                     F.posexplode_outer("__keys").alias("band_id", "band_key"))
             .repartition(n_parts, "band_id", "band_key"))

    def side(s: str) -> DataFrame:
        return bands.select("band_id", "band_key",
                            F.col("__rep").alias(f"__r{s}"),
                            F.col("__sz").alias(f"__s{s}"),
                            F.col("__keys").alias(f"__k{s}"))

    first_shared = F.array_position(
        F.zip_with("__ka", "__kb", lambda x, y: x == y), True)
    cand = (side("a").hint("shuffle_hash")
            .join(side("b"), ["band_id", "band_key"])
            .filter((F.col("__ra") < F.col("__rb"))
                    & (F.least("__sa", "__sb")
                       >= F.lit(threshold) * F.greatest("__sa", "__sb"))
                    & (first_shared == F.col("band_id") + 1))
            .select("__ra", "__rb"))

    def arrays(s: str) -> DataFrame:
        return groups.select(F.col("__rep").alias(f"__r{s}"),
                             F.col("__members").alias(f"__m{s}"),
                             F.col("__toks").alias(f"__t{s}"))

    inter = (cand.join(arrays("a"), "__ra").join(arrays("b"), "__rb")
             .select("__ra", "__rb", "__ma", "__mb",
                     F.size("__ta").alias("__sa"), F.size("__tb").alias("__sb"),
                     F.size(F.array_intersect("__ta", "__tb")).alias("__ni")))
    rep_pairs = (inter
                 .select("__ra", "__rb", "__ma", "__mb", F.round(
                     F.col("__ni").cast("double")
                     / (F.col("__sa") + F.col("__sb") - F.col("__ni")), 6)
                     .alias("jaccard"))
                 .filter(F.col("jaccard") >= threshold))
    return groups, rep_pairs


def minhash_near_dups(docs: DataFrame, threshold: float = 0.9,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Full MinHash-LSH near-dup pipeline; result = all doc pairs that are
    LSH candidates AND have exact token-set Jaccard ≥ threshold.

    Runs the quadratic stages on token-set representatives
    (:func:`_minhash_rep_structure`), then expands member pairs back:
    intra-group pairs get Jaccard 1.0, cross-group pairs inherit their
    reps' Jaccard.  Docs with no tokens pair with nothing.
    """
    groups, rep_pairs = _minhash_rep_structure(docs, threshold, text_col,
                                               id_col)

    # Cross-group pairs: every member of rep_a's group × rep_b's group.
    cross = (rep_pairs
             .select("__mb", "jaccard", F.explode("__ma").alias("__na"))
             .select("__na", "jaccard", F.explode("__mb").alias("__nb"))
             .select(F.least("__na", "__nb").cast("string").alias("doc_a"),
                     F.greatest("__na", "__nb").cast("string").alias("doc_b"),
                     "jaccard"))
    # Intra-group pairs (identical token sets): Jaccard exactly 1.0,
    # streamed in-row — each member pairs with the later (larger) ones.
    intra = (groups.filter(F.size("__toks") > 0)
             .select("__members",
                     F.posexplode("__members").alias("__pos", "__na"))
             .select("__na", F.explode(F.slice(
                 "__members", F.col("__pos") + 2, F.size("__members")))
                 .alias("__nb"))
             .select(F.col("__na").cast("string").alias("doc_a"),
                     F.col("__nb").cast("string").alias("doc_b"),
                     F.lit(1.0).alias("jaccard")))
    return cross.unionByName(intra)


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact n-gram-shingle Jaccard for pairs sharing ≥1 shingle — the
    shingle join IS the candidate filter (inverted-index join, not a cross
    join; rare shingles keep buckets small on real corpora)."""
    toks = tokenize(text_col)
    # Guard short docs: sequence(0, negative) would generate a DESCENDING
    # sequence in Spark, not an empty one.
    shingles = F.when(F.size(toks) >= n, F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])))
    ).otherwise(F.array().cast("array<string>"))
    sh = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                     F.explode(shingles).alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # Skew-safe inverted-index join: a stop-shingle (very common n-gram)
    # would otherwise degenerate one bucket quadratically.
    from .skew import skew_safe_self_pairs
    inter = (skew_safe_self_pairs(sh, ["shingle"], ["doc_id"])
             .filter(F.col("doc_id_a").cast("bigint")
                     < F.col("doc_id_b").cast("bigint"))
             .groupBy(F.col("doc_id_a").alias("doc_a"),
                      F.col("doc_id_b").alias("doc_b"))
             .agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("sz").alias("sz_a")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("sz").alias("sz_b")), "doc_b")
            .withColumn("jaccard", F.round(
                F.col("n_inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


LOCAL_CC_MAX_EDGES = 2_000_000  # ~32 MB of (long, long) — bounded driver load


def connected_components(edges: DataFrame, nodes: DataFrame,
                         max_iter: int = 20,
                         local_max_edges: int = LOCAL_CC_MAX_EDGES) -> DataFrame:
    """Connected components — turns near-dup PAIRS into dedup CLUSTERS
    (keep min doc per cluster, drop the rest), the last step of a
    production dedup pipeline.

    ``edges``: (a, b) undirected; ``nodes``: (id).  Returns
    (id, component) with component = min node id reachable.

    Hybrid execution, the shape production CC implementations use
    (GraphFrames' connectedComponents ends with a local phase once the
    shrunken graph fits the driver):

    - **Small graph (edge count ≤ local_max_edges)**: collect the edge
      list and run union-find on the driver — a BOUNDED collect
      (threshold-gated, like the k-means sample in similarity.py), ~100 ms
      where the iterative loop pays seconds of per-round job overhead.
      Near-dup edge sets are tiny relative to the corpus (most documents
      have no near-dup), so this is the common case even at large SF.
    - **Large graph**: iterative min-label propagation with pointer
      jumping (the one family Catalyst can't express in a single plan):
      - Isolated nodes never enter the loop — only nodes appearing in
        ``edges`` are labeled iteratively; everything else joins the
        result as its own singleton component in one final union.
      - Each round = one hop + one pointer jump.  The hop takes the min
        label over neighbors; the jump re-labels through the current
        label (``component ← component[component]``), giving
        O(log diameter) convergence (pointer-jumping/path-halving, as in
        large/small-star CC) instead of O(diameter) hops.
      - ``localCheckpoint`` truncates lineage each round; the convergence
        count rides on a ``__changed`` flag computed inside the same
        checkpointed plan, so each round is exactly two driver actions.
    """
    from pyspark import StorageLevel

    # Both directions from ONE pass over `edges` (a union of two
    # projections would run the edge plan twice); persisted because the
    # edge count, the union-find collect and every round re-read it.
    both = edges.select(F.inline(F.array(
        F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
        F.struct(F.col("b").alias("x"), F.col("a").alias("y"))))) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = both.count() // 2
    if n_edges <= local_max_edges:
        labels = _local_union_find(both, edges.sparkSession)
    else:
        labels = _iterative_min_label(both, max_iter)
    # labels no longer read `both`: the local path built them with
    # createDataFrame, the iterative one localCheckpoints every round.
    both.unpersist()
    singletons = (nodes.join(labels, nodes.id == labels.id, "left_anti")
                  .select(nodes.id, nodes.id.alias("component")))
    return labels.unionByName(singletons)


def _local_union_find(both: DataFrame, spark) -> DataFrame:
    """Driver-side union-find (path compression + union by min id) over a
    bounded edge list; returns the (id, component) DataFrame.  Transfer is
    Arrow-batched both ways (toPandas / createDataFrame-on-pandas)."""
    import pandas as pd

    pdf = both.select("x", "y").toPandas()
    parent: dict = {}

    def find(v):
        root = v
        while parent[root] != root:
            root = parent[root]
        while parent[v] != root:  # path compression
            parent[v], v = root, parent[v]
        return root

    for a, b in zip(pdf["x"].to_numpy(), pdf["y"].to_numpy()):
        a, b = int(a), int(b)
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min id so the root IS the component label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = pd.DataFrame({"id": list(parent)})
    out["component"] = [find(v) for v in out["id"]]
    # Explicit schema: a no-near-dup corpus yields ZERO edges, and pandas
    # cannot infer dtypes from an empty frame (CANNOT_INFER_EMPTY_SCHEMA).
    return spark.createDataFrame(out.astype("int64"),
                                 "id bigint, component bigint")


def _iterative_min_label(both: DataFrame, max_iter: int) -> DataFrame:
    touched = both.select(F.col("x").alias("id")).distinct()
    labels = touched.select("id", F.col("id").alias("component")) \
        .localCheckpoint(eager=True)
    for _ in range(max_iter):
        # Hop: min label across one edge (self included via the left join).
        neighbor_min = (both
                        .join(labels, both.y == labels.id)
                        .groupBy("x").agg(F.min("component").alias("nc")))
        hopped = (labels.join(neighbor_min,
                              labels.id == neighbor_min.x, "left")
                  .select(labels.id,
                          F.col("component").alias("__old"),
                          F.least("component",
                                  F.coalesce("nc", "component"))
                          .alias("component")))
        # Jump: component ← label of the component node (always present:
        # a min-reachable label is itself a touched node).
        parent = hopped.select(F.col("id").alias("__pid"),
                               F.col("component").alias("__pcomp"))
        new_labels = (hopped.join(parent,
                                  hopped.component == F.col("__pid"))
                      .select("id", F.col("__pcomp").alias("component"),
                              (F.col("__pcomp") != F.col("__old"))
                              .alias("__changed")))
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter("__changed").count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    return labels


def near_dup_clusters(docs: DataFrame, threshold: float = 0.9,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """End-to-end: MinHash near-dup pairs → connected components →
    (doc_id, cluster_rep, is_survivor).  Survivor = min doc of cluster.

    The iterative CC loop runs on the token-set REPRESENTATIVE graph, not
    the expanded member graph — result-identical because each exact-dup
    group is a clique whose rep is the group's min id, so a member's
    component equals its rep's component, and the component label (min
    reachable rep) is also the min member across the whole cluster.  On
    self-similar corpora this shrinks the iterated graph by the dup
    factor (edges by its square) and skips pair expansion entirely.
    """
    groups, rep_pairs = _minhash_rep_structure(docs, threshold, text_col,
                                               id_col)
    edges = rep_pairs.select(F.col("__ra").alias("a"), F.col("__rb").alias("b"))
    rep_nodes = groups.filter(F.size("__toks") > 0) \
        .select(F.col("__rep").alias("id"))
    comp = connected_components(edges, rep_nodes)
    # The empty token set's group is no node: each of its docs is a
    # singleton cluster.
    members = groups.select("__rep", F.size("__toks").alias("__sz"),
                            F.explode("__members").alias("__nid"))
    label = F.when(F.col("__sz") > 0, F.col("component")) \
        .otherwise(F.col("__nid"))
    return (members
            .join(comp, members["__rep"] == comp["id"], "left")
            .select(F.col("__nid").cast("string").alias("doc_id"),
                    label.cast("string").alias("cluster_rep"),
                    (F.col("__nid") == label).alias("is_survivor")))


def exact_substring_spans(docs: DataFrame, length: int = 8,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """EXACT repeated-substring detection — the ExactSubstr dedup of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), re-expressed as sorted-shingle runs instead of a monolithic
    suffix array: find every maximal token span of ≥ ``length`` tokens
    that occurs at two or more (doc, position) sites corpus-wide
    (within-doc repeats count, as in the paper), and emit the per-doc
    remove-span list a training pipeline cuts out (boilerplate, licenses,
    quoted headers).  The complement of :func:`winnow_fingerprints`:
    winnowing *samples* shared runs probabilistically; this finds them
    exactly.

    Suffix-array ≈ sorted shingles: a repeated span of T ≥ L tokens is
    exactly a run of T−L+1 consecutive positions whose length-L shingles
    are each duplicated somewhere in the corpus, so

    1. per-doc token array (single tokenize), length-L shingle hash at
       every start position — IN-ROW ``transform`` over the position
       sequence, no explode-then-window shuffle;
    2. CANDIDATE sites = hash-groupBy count ≥ 2 (map-side partial agg;
       one shuffle on a well-distributed 60-bit key) — a cheap prefilter
       over every position;
    3. VERIFY (r12, round-11 advice): candidate sites join back to the
       persisted token arrays, the actual length-L runs are re-sliced
       in-row, and only runs whose CONTENT occurs ≥ 2 times survive —
       so a 60-bit hash collision between distinct shingles can never
       delete unique text (at ~10^13 shingles / 100 TB, collisions are
       expected; the verify stage touches only the duplicated-hash
       sites, a tiny fraction of the corpus);
    4. per-doc duplicated start positions → maximal spans by
       gaps-and-islands: starts p < q belong to one span iff q ≤ p + L
       (their covered ranges [p, p+L−1], [q, q+L−1] touch or overlap);
       the window partitions BY DOC, never globally.

    Scale (100 TB): shingle volume ≈ token volume (one row per token
    position); the duplicated-set join is a two-relation equi-join on the
    hash (AQE skew-split covers a boilerplate shingle shared by millions
    of docs); the verify stage shuffles run STRINGS only for candidate
    sites; no stage is quadratic — unlike pair-forming dedups this one
    never materializes doc pairs at all.

    Cache hygiene: the token-array relation is persisted for the plan's
    three consumers, the (tiny) span result is eagerly localCheckpointed,
    and the intermediate is unpersisted before returning — repeated calls
    in a long-lived session leave no CacheManager entries behind
    (tests/test_exact_substring.py pins it).  Fault-tolerance trade
    (r12 advice, accepted): the eager localCheckpoint truncates lineage
    (an executor loss after the call fails the job instead of
    recomputing) and triggers a full Spark job at call time even if the
    result is never consumed; long-lived streaming callers that need
    recoverability should use reliable ``checkpoint()`` instead.

    Returns (doc_id string, span_start int, span_end int, n_tokens int):
    inclusive 0-based token-index bounds of each maximal duplicated span.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    # The token array MUST be materialized before the shingle transform:
    # the lambda body slices it, and Catalyst's projection collapsing
    # would otherwise inline the whole tokenize (regexp split) into EVERY
    # per-position lambda evaluation — measured 8.5× on the shingle stage
    # (the same failure mode lsh_bucket documents).  The persist also
    # lets the three consumers of the token relation (shingle agg, probe
    # join, verify re-slice) share one tokenize pass.
    base = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                       tokenize(text_col).alias("__toks")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        sh = _shingle_sites(base, length)
        dup = sh.groupBy("h").agg(F.count("*").alias("__c")) \
            .filter(F.col("__c") >= 2).select("h")
        cand = sh.join(dup, "h", "left_semi").select("doc_id", "pos")
        # Verify: re-slice the candidate runs from the token arrays and
        # keep only content-duplicated runs.
        runs = _reslice_runs(base, cand, length)
        dup_runs = runs.groupBy("run").agg(F.count("*").alias("__c")) \
            .filter(F.col("__c") >= 2).select("run")
        dpos = runs.join(dup_runs, "run", "left_semi") \
            .select("doc_id", "pos")
        return _islands_to_spans(dpos, length).localCheckpoint(eager=True)
    finally:
        base.unpersist()


def _shingle_sites(base: DataFrame, length: int) -> DataFrame:
    """(doc_id, pos, h): the length-``length`` shingle hash at every
    start position, computed IN-ROW over the persisted token arrays (no
    explode-then-window shuffle).  ``base`` carries (doc_id, __toks)."""
    t = F.col("__toks")
    return base.select(
        "doc_id",
        F.posexplode(
            F.when(F.size(t) >= length, F.transform(
                F.sequence(F.lit(0), F.size(t) - length),
                lambda i: md5_hash64(F.concat_ws(
                    " ", F.slice(t, i + 1, length)))))
            .otherwise(F.array().cast("array<long>"))).alias("pos", "h"))


def _reslice_runs(base: DataFrame, cand: DataFrame, length: int) -> DataFrame:
    """(doc_id, pos, run): re-slice the ACTUAL length-``length`` token
    runs at the candidate (doc_id, pos) sites — the content-verify input.
    Positions are collected per doc first, so the corpus-sized array
    relation is joined ONCE per doc, not once per site."""
    t = F.col("__toks")
    cand_doc = cand.groupBy("doc_id").agg(
        F.collect_list("pos").alias("__ps"))
    return (base.join(cand_doc, "doc_id")
            .select("doc_id", F.explode(F.transform(
                "__ps",
                lambda p: F.struct(
                    p.alias("pos"),
                    F.concat_ws(" ", F.slice(t, p + 1, length))
                    .alias("run")))).alias("s"))
            .select("doc_id", F.col("s.pos").alias("pos"),
                    F.col("s.run").alias("run")))


def _islands_to_spans(dpos: DataFrame, length: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated start positions into maximal
    spans: starts p < q share a span iff q ≤ p + length (covered ranges
    touch or overlap).  The window partitions BY DOC, never globally.
    Returns (doc_id, span_start int, span_end int, n_tokens int)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (dpos
           .withColumn("__prev", F.lag("pos").over(w))
           .withColumn("__new", F.when(
               F.col("__prev").isNull()
               | (F.col("pos") > F.col("__prev") + length), 1)
               .otherwise(0))
           .withColumn("__island", F.sum("__new").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy("doc_id", "__island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + length - 1).cast("int")
                 .alias("span_end"))
            .select("doc_id", "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .cast("int").alias("n_tokens")))


def exact_substring_spans_incremental(docs: DataFrame, historical,
                                      length: int = 8,
                                      text_col: str = "text",
                                      id_col: str = "doc_id") -> DataFrame:
    """ExactSubstr at the INGEST boundary (r13, VERDICT r12 #8): find
    the maximal spans in an incoming batch that duplicate content
    already in the HISTORICAL corpus — the daily-job shape of
    :func:`exact_substring_spans`, mirroring :func:`incremental_dedup`:
    a one-sided probe of the batch's shingles against history, with NO
    history×history work and no corpus-wide recompute.

    ``historical`` is a boolean Column splitting ``docs``; rows where it
    is false are the incoming batch.  A batch position is duplicated iff
    its length-L run's CONTENT occurs anywhere in history (within-batch
    repeats are the batch-mode operator's job — run
    ``exact_substring_spans`` on the batch alone for those); maximal
    spans merge by the same gaps-and-islands rule as batch mode.

    Collision-proof like batch mode (r12): the 60-bit shingle hash is
    only a candidate PREFILTER (batch hashes ∩ history hashes — the
    one-sided equi-join); a verify stage re-slices the actual runs on
    BOTH sides — history re-slicing restricted to its matched-hash
    sites, so verify cost is bounded by true+collided matches, not
    corpus size — and keeps only batch runs whose content string exists
    in history.

    Scale shape (100 TB ingest): history's shingle-hash relation is what
    a daily job keeps persisted (here recomputed from the split — same
    plan shape, as ``incremental_dedup`` documents); the probe is a
    two-relation equi-join on the hash (AQE skew-split covers a
    boilerplate shingle shared by millions of docs); every exploded
    relation past the probe is bounded by the BATCH's matched sites, not
    by history size.  Same localCheckpoint cache-hygiene/fault-trade as
    batch mode.

    Returns (doc_id string, span_start int, span_end int, n_tokens int)
    for INCOMING docs only."""
    from pyspark import StorageLevel

    # Fail-loud split (r14 advice): a NULL from the ``historical``
    # predicate would be excluded by BOTH filter("__hist") and
    # filter(~col) below — docs silently vanishing from the analysis.
    # A bad split column surfaces as a job error instead.
    hist_checked = F.when(
        historical.isNull(),
        F.raise_error(F.concat(
            F.lit("exact_substring_spans_incremental: `historical` "
                  "predicate is NULL for doc_id="), F.col(id_col)))
        .cast("boolean")).otherwise(historical)
    base = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                       tokenize(text_col).alias("__toks"),
                       hist_checked.alias("__hist")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        inc_base = base.filter(~F.col("__hist")).select("doc_id", "__toks")
        hist_base = base.filter("__hist").select("doc_id", "__toks")
        sh_inc = _shingle_sites(inc_base, length)
        sh_hist = _shingle_sites(hist_base, length)
        # One-sided candidate prefilter: hashes present on both sides.
        cand_inc = sh_inc.join(sh_hist.select("h").distinct(),
                               "h", "left_semi").select("doc_id", "pos")
        cand_hist = sh_hist.join(sh_inc.select("h").distinct(),
                                 "h", "left_semi").select("doc_id", "pos")
        # Content verify: batch runs whose string exists among history's
        # matched-hash runs (collision immunity, both sides bounded).
        runs_inc = _reslice_runs(inc_base, cand_inc, length)
        runs_hist = _reslice_runs(hist_base, cand_hist, length) \
            .select("run").distinct()
        dpos = runs_inc.join(runs_hist, "run", "left_semi") \
            .select("doc_id", "pos")
        return _islands_to_spans(dpos, length).localCheckpoint(eager=True)
    finally:
        base.unpersist()


def remove_substring_spans(docs: DataFrame, length: int = 8,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           keep: str = "none") -> DataFrame:
    """The CLEANING step of ExactSubstr dedup (Lee et al. 2022): cut the
    maximal duplicated spans found by :func:`exact_substring_spans` out
    of every document and return the cleaned corpus.

    ``keep`` selects the occurrence policy:

    - ``"none"`` (default): remove ALL occurrences of duplicated content
      — the policy the ExactSubstr reference implementation
      (google-research/deduplicate-text-datasets) applies, which Lee et
      al. note costs negligible unique text.
    - ``"first"`` (r12): keep the GLOBALLY-FIRST site of each distinct
      maximal-span content (lowest numeric doc_id, then lowest
      span_start) and cut every other occurrence — the policy pipelines
      pruning quotations/boilerplate usually want.  Content identity is
      the span's exact token run, re-sliced from the corpus and grouped
      (a per-span shuffle over the tiny span relation only).  Corner
      case, documented: when overlapping duplicated runs of DIFFERENT
      strings fuse into one maximal span, the fused span's content can
      be globally unique — each such span is then the first (only) site
      of its own group and is kept whole; the cut-all policy has no such
      corner, which is why it stays the default.

    Shape: the spans (tiny — only duplicated regions) are collected PER
    DOC into one array by a single groupBy, left-joined back, and the
    token filter runs IN-ROW: ``filter(toks, (t, i) -> no span covers
    i)`` — positional higher-order function, whole-stage codegen, no
    per-token range join.  Maximal spans are disjoint by construction,
    so coverage tests never double-count.

    Returns (doc_id string, clean_text, n_kept int, n_removed int)."""
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    spans = exact_substring_spans(docs, length, text_col, id_col)
    if keep == "first":
        from pyspark.sql import Window

        toks_rel = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                               tokenize(text_col).alias("__toks"))
        sp_txt = (spans.join(toks_rel, "doc_id")
                  .select("doc_id", "span_start", "span_end", "n_tokens",
                          F.concat_ws(" ", F.slice(
                              "__toks", F.col("span_start") + 1,
                              F.col("n_tokens"))).alias("__txt")))
        # "Globally first" = lowest numeric doc_id when ids are numeric;
        # the raw string id is a SECOND key so non-numeric ids (where
        # try_cast yields NULL — a plain cast would THROW under ANSI)
        # still pick one deterministic site instead of an arbitrary
        # row_number tie (r12 advice).  NULLS FIRST explicitly, to
        # match the oracle's TRY_CAST ... NULLS FIRST.
        w = Window.partitionBy("__txt").orderBy(
            F.col("doc_id").try_cast("bigint").asc_nulls_first(),
            F.col("doc_id").asc(), F.col("span_start").asc())
        spans = (sp_txt.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") > 1)
                 .select("doc_id", "span_start", "span_end", "n_tokens"))
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans"))
    toks = tokenize(text_col)
    j = (docs.select(F.col(id_col).cast("string").alias("doc_id"),
                     toks.alias("__toks"))
         .join(per_doc, "doc_id", "left"))
    spans_arr = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"))
    kept = F.filter(
        "__toks",
        lambda t, i: ~F.exists(
            spans_arr,
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"])))
    return (j.withColumn("__kept", kept)
            .select("doc_id",
                    F.array_join("__kept", " ").alias("clean_text"),
                    F.size("__kept").cast("int").alias("n_kept"),
                    (F.size("__toks") - F.size("__kept")).cast("int")
                    .alias("n_removed")))


def winnow_fingerprints(docs: DataFrame, n: int = 3, window: int = 4,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD '03) document fingerprints:
    hash every token n-gram in document order, slide a ``window``-wide
    frame, keep the minimum hash per frame.  Guarantees any shared run of
    ≥ window+n-1 tokens between two docs yields a shared fingerprint —
    substring-level (plagiarism-style) dedup, unlike the whole-doc /
    bag-of-words keys above.

    One explode + one window-min + one distinct; hashes are md5-derived so
    the DuckDB oracle reproduces fingerprints exactly.
    Returns (doc_id, fingerprint) distinct.
    """
    from pyspark.sql import Window

    toks = (docs.select(F.col(id_col).cast("string").alias("doc_id"),
                        F.posexplode(tokenize(text_col)).alias("pos", "term")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = toks
    lead_cols = ["term"]
    for i in range(1, n):
        sh = sh.withColumn(f"t{i}", F.lead("term", i).over(w))
        lead_cols.append(f"t{i}")
    sh = (sh.filter(F.col(lead_cols[-1]).isNotNull())
          .withColumn("h", md5_hash64(F.concat_ws(" ", *lead_cols))))
    frame = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(0, window - 1))
    return (sh.select("doc_id", F.min("h").over(frame).alias("fingerprint"))
            .distinct())


def winnow_overlap_pairs(docs: DataFrame, min_shared: int = 5,
                         n: int = 3, window: int = 4,
                         text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Doc pairs sharing ≥ min_shared winnowing fingerprints — candidate
    substring-duplicate pairs via an inverted-index join on fingerprint
    (no all-pairs stage)."""
    from .skew import skew_safe_self_pairs

    fp = winnow_fingerprints(docs, n, window, text_col, id_col)
    pairs = (skew_safe_self_pairs(fp, ["fingerprint"], ["doc_id"])
             .filter(F.col("doc_id_a").cast("bigint")
                     < F.col("doc_id_b").cast("bigint"))
             .groupBy(F.col("doc_id_a").alias("doc_a"),
                      F.col("doc_id_b").alias("doc_b"))
             .agg(F.count("*").alias("n_shared")))
    return pairs.filter(F.col("n_shared") >= min_shared)


# --- SimHash ---------------------------------------------------------------

# 60 bits: 1<<63 overflows signed 64-bit in both engines; 4 bands x 15 bits
# keeps the pigeonhole guarantee for Hamming distance <= 3.
SIMHASH_BITS = 60


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per doc: md5-derived term hashes, tf-weighted bit
    votes, sign → bit.  One explode + ONE hash-agg straight off the token
    instances: summing ±1 per token occurrence equals summing ±tf per
    distinct term, so the (doc_id, term) tf pre-aggregation — a second full
    shuffle — is unnecessary.  Measured at sf0.1: 4.3 s → 3.5 s warm (r14).
    Map-side partial aggregation still combines the 60 vote sums before the
    single shuffle, so the shuffled bytes stay one row of 60 longs per doc.

    (A fully in-row variant — 60 ``aggregate`` folds over a per-row hash
    array, like the round-4 MinHash rewrite — was measured 4× SLOWER: that
    many catalyst higher-order folds in one projection fall out of
    whole-stage codegen.  The exploded hash-agg stays.)"""
    toks = (docs.select(F.col(id_col).cast("string").alias("doc_id"),
                        F.explode(tokenize(text_col)).alias("term"))
            .withColumn("h", md5_hash64("term")))
    votes = toks.groupBy("doc_id").agg(*[
        F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{i}")
        for i in range(SIMHASH_BITS)])
    sig = votes.select("doc_id", sum(
        (F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
         * F.lit(1 << i) for i in range(SIMHASH_BITS)),
        start=F.lit(0).cast("long")).alias("simhash"))
    return sig


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 15-bit bands
    (any pair within Hamming distance 3 must agree on ≥1 band — pigeonhole),
    then exact Hamming ≤ max_hamming via bit_count(xor).  Nothing is
    left cached (see :func:`skew.skew_safe_self_pairs`)."""
    from .skew import skew_safe_self_pairs

    sig = simhash(docs, text_col, id_col)
    bands = sig.select("doc_id", "simhash", F.posexplode(F.array(*[
        F.shiftright("simhash", b * 15).bitwiseAND(F.lit(0x7FFF))
        for b in range(4)])).alias("band_id", "band_val"))
    # Skew-safe band self-join (hot 15-bit band values get salted).
    cand = (skew_safe_self_pairs(bands, ["band_id", "band_val"],
                                 ["doc_id", "simhash"])
            .filter(F.col("doc_id_a").cast("bigint")
                    < F.col("doc_id_b").cast("bigint"))
            .select(F.col("doc_id_a").alias("doc_a"),
                    F.col("doc_id_b").alias("doc_b"),
                    F.col("simhash_a").alias("sig_a"),
                    F.col("simhash_b").alias("sig_b"))
            .distinct())
    return (cand.withColumn("hamming",
                            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def df_ordered_token_arrays(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Per-doc distinct-token arrays sorted by GLOBAL ascending document
    frequency (term as tiebreak) — the shared input relation of the
    prefix-filter joins.  Persisted (it feeds candidate generation AND
    verification)."""
    from pyspark import StorageLevel

    from ..hints import broadcast_if_source_small

    num_id = F.col(id_col).cast("bigint")
    toks = docs.select(num_id.alias("doc_id"),
                       F.explode(F.array_distinct(tokenize(text_col)))
                       .alias("term"))
    dfreq = toks.groupBy("term").agg(F.count("*").alias("__df"))
    # dfreq is vocabulary-sized — broadcastable at bench scale, NOT at
    # web scale (billions of distinct shingles); size-gate the hint on
    # the corpus so AQE decides past the gate.
    return (toks.join(broadcast_if_source_small(dfreq, docs), "term")
            .groupBy("doc_id")
            .agg(F.transform(
                F.sort_array(F.collect_list(F.struct("__df", "term"))),
                lambda s: s["term"]).alias("__toks"))
            .persist(StorageLevel.MEMORY_AND_DISK))


def ppjoin_candidates(ordered: DataFrame, threshold: float,
                      ppjoin_filters: bool = True) -> DataFrame:
    """Candidate pairs for the exact set-similarity self-join, from the
    persisted ``(doc_id, __toks)`` relation of globally df-ordered token
    arrays.  With ``ppjoin_filters`` the PPJoin length and positional
    filters (Xiao et al. WWW'08 §3.2) prune candidates AT GENERATION TIME,
    before the distinct and the verify join:

    - LENGTH filter: J(A,B) ≥ t forces |A∩B|/|A∪B| ≥ t with overlap ≤
      min(|A|,|B|) and union ≥ max(|A|,|B|), so min ≥ t·max — a doc can
      never match one less than t times its size, however many prefix
      tokens they share.
    - POSITIONAL filter: a shared token at (1-based) df-order positions
      (i, j) bounds the overlap by min(i-1, j-1) + 1 + min(|A|-i, |B|-j)
      (common-before ≤ both left slices, common-after ≤ both right
      slices, because the global order makes shared tokens appear in the
      same relative order in both docs).  J ≥ t needs overlap ≥ α =
      ⌈t/(1+t)·(|A|+|B|)⌉.

    TIGHTEST-BOUND upgrade (r16, from the sf1 stage decomposition —
    SCALE.md r16): the bound above holds for EVERY shared prefix token,
    so the true overlap is ≤ the MIN of the bounds over all of a pair's
    matched rows.  The r9 form pruned per-row before the distinct, which
    admits a pair once ANY of its matched rows passes; aggregating
    min(bound) per pair and filtering once prunes every pair that has
    even ONE tight matched row: a matched row at distant positions
    (|i−j| > ≈(1−t)·n on same-length docs) becomes a veto instead of
    noise.  The distinct is subsumed by the groupBy — same shuffle key,
    one hash-agg instead of two, so the tightening is ~free.  Honest
    sizing (SCALE.md r16): the extra veto is SMALL everywhere measured —
    harness sf1 34.2M → 33.0M (−3.5%; 9.6M of the candidates are TRUE
    pairs, the synthetic near-dup density's irreducible floor), the
    adversarial small-vocab corpus 5,148 → 5,096 (−1%) — because a pair
    surviving the per-row test usually shares only close-position
    prefix tokens.  Kept because it is strictly-no-looser at zero cost;
    the conclusion that matters at 10× is the inverse one: candidate
    volume is already near its floor, so further speedup must come
    from cheaper verification, not fewer candidates.

    LOSSLESS: for a qualifying pair the true overlap is ≥ α, and every
    matched row's bound is ≥ the true overlap, so min(bound) ≥ α and the
    pair survives.  Both filters use threshold − 1e-6 so a pair that
    only passes the verify's 6-dp-rounded ratio can never be pruned
    here.

    Why it matters at scale: the bare prefix filter admits a pair once
    ANY prefix token collides; on a small-vocabulary (or stop-word-heavy)
    corpus prefix tokens are common and candidates balloon superlinearly
    (measured 54 s @ sf1 pre-filter).  Length + positional tests are
    per-row arithmetic on (pos, size) — no extra joins, no extra shuffle
    — and cut the verify input, which is the dominant stage.
    """
    t = threshold - 1e-6
    n = F.size("__toks")
    pref_len = n - F.ceil(F.lit(threshold) * n).cast("int") + F.lit(1)
    prefix = ordered.select(
        "doc_id", n.alias("__n"),
        F.posexplode(F.slice("__toks", F.lit(1), pref_len))
        .alias("__p0", "term")).withColumn(
            "__pos", F.col("__p0") + F.lit(1)).drop("__p0")
    from .skew import skew_safe_self_pairs
    pairs = (skew_safe_self_pairs(prefix, ["term"],
                                  ["doc_id", "__n", "__pos"])
             .filter(F.col("doc_id_a") < F.col("doc_id_b")))
    if not ppjoin_filters:
        return (pairs.select(F.col("doc_id_a").alias("doc_a"),
                             F.col("doc_id_b").alias("doc_b"))
                .distinct())
    na, nb = F.col("__n_a"), F.col("__n_b")
    ia, jb = F.col("__pos_a"), F.col("__pos_b")
    # per-row: min(i-1, j-1) + 1 + min(|A|-i, |B|-j)
    bound = F.least(ia, jb) + F.least(na - ia, nb - jb)
    return (pairs
            # length filter: per-pair constant, applied pre-shuffle
            .filter(F.least(na, nb).cast("double")
                    >= F.lit(t) * F.greatest(na, nb))
            .groupBy(F.col("doc_id_a").alias("doc_a"),
                     F.col("doc_id_b").alias("doc_b"))
            .agg(F.min(bound).alias("__ub"),
                 F.first(na + nb).alias("__nsum"))
            .filter(F.col("__ub")
                    >= F.ceil(F.lit(t / (1.0 + t)) * F.col("__nsum")))
            .select("doc_a", "doc_b"))


def prefix_jaccard_pairs(docs: DataFrame, threshold: float = 0.9,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         ppjoin_filters: bool = True) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al. WWW'07; Xiao et al. WWW'08).
    Returns ALL pairs with token-set Jaccard ≥ threshold: unlike
    MinHash-LSH (:func:`minhash_near_dups`) there is no probabilistic
    false-negative risk, yet the join is still never all-pairs.

    Prefix principle: order every doc's distinct tokens by GLOBAL
    ascending document frequency (rarest first, term as tiebreak).  If
    J(A,B) ≥ t then |A∩B| ≥ ceil(t/(1+t)·(|A|+|B|)) ≥ ceil(t·|A|), so A
    and B must share at least one token inside each one's first
    |X| - ceil(t·|X|) + 1 ordered tokens.  Exploding ONLY that prefix
    makes the inverted-index candidate join key on the rarest tokens —
    exactly the ones with the smallest postings buckets — so candidate
    volume collapses versus joining on all tokens, and the guarantee is
    lossless (every qualifying pair is generated).

    PPJoin upgrade (r9): candidate generation additionally applies the
    LENGTH and POSITIONAL filters — see :func:`ppjoin_candidates` for the
    bounds and the losslessness argument.  On adversarial small-vocab
    corpora (where every prefix token is common) this is the difference
    between superlinear candidate blowup and candidates that track the
    true pair count.

    Scale shape (100 TB): one tokenize, one vocabulary agg (df table,
    broadcast — vocabulary-bounded), one per-doc sort agg, a prefix
    explode whose volume is ≈ (1-t)·corpus tokens, a skew-safed
    inverted-index self-join pruned per-row by the PPJoin filters, then
    the shared size-prune + in-row ``array_intersect`` verify
    (:func:`jaccard_verify_arrays`).  No stage is quadratic in the
    corpus; the filtered prefix join is the candidate bound and shrinks
    as t → 1.
    """
    ordered = df_ordered_token_arrays(docs, text_col, id_col)
    cand = ppjoin_candidates(ordered, threshold, ppjoin_filters)
    return (jaccard_verify_arrays(cand, ordered, threshold)
            .select(F.col("doc_a").cast("string").alias("doc_a"),
                    F.col("doc_b").cast("string").alias("doc_b"),
                    "jaccard"))


def containment_pairs(docs: DataFrame, threshold: float = 0.95,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """ASYMMETRIC set containment C(A→B) = |A∩B| / |A| ≥ t — the
    quote/subset detector Jaccard misses: a short document wholly quoted
    inside a long one has high containment but low Jaccard (the long
    doc's extra tokens dilute the union).  Standard fuzzy-dedup stage
    for removing near-subsets of retained documents.

    Candidate generation is the one-sided prefix filter (the asymmetric
    member of the PPJoin family): C(A→B) ≥ t needs |A∩B| ≥ ceil(t·|A|),
    so A must share a token from its first |A| - ceil(t·|A|) + 1
    RAREST-ordered tokens with B — only A-side prefixes explode; the B
    side is the full (doc, term) inverted index.  Verification is the
    in-row ``array_intersect`` over the held df-ordered arrays, like
    :func:`prefix_jaccard_pairs` (lossless by the same pigeonhole).

    Returns ORDERED pairs (doc_sub, doc_sup, containment): both
    directions can appear, each with its own containment value.
    """
    from pyspark import StorageLevel

    from ..hints import broadcast_if_source_small

    num_id = F.col(id_col).cast("bigint")
    toks = docs.select(num_id.alias("doc_id"),
                       F.explode(F.array_distinct(tokenize(text_col)))
                       .alias("term"))
    dfreq = toks.groupBy("term").agg(F.count("*").alias("__df"))
    # vocabulary-sized dfreq: size-gated hint (see df_ordered_token_arrays)
    ordered = (toks.join(broadcast_if_source_small(dfreq, docs), "term")
               .groupBy("doc_id")
               .agg(F.transform(
                   F.sort_array(F.collect_list(F.struct("__df", "term"))),
                   lambda s: s["term"]).alias("__toks"))
               .persist(StorageLevel.MEMORY_AND_DISK))
    n = F.size("__toks")
    pref_len = n - F.ceil(F.lit(threshold) * n).cast("int") + F.lit(1)
    prefix = ordered.select(
        "doc_id", F.explode(F.slice("__toks", F.lit(1), pref_len))
        .alias("term"))
    # Asymmetric candidates: A-side PREFIX tokens (rare per doc) against
    # the FULL inverted index on the B side — a two-relation shuffle
    # equi-join, so a globally-hot term that is still some doc's rarest
    # falls under AQE skew-join splitting (enabled session-wide) rather
    # than the self-pair salter the symmetric joins use.
    cand = (prefix.withColumnRenamed("doc_id", "doc_sub")
            .join(toks.withColumnRenamed("doc_id", "doc_sup"), "term")
            .filter(F.col("doc_sub") != F.col("doc_sup"))
            .select("doc_sub", "doc_sup")
            .distinct())
    arr_sub = ordered.select(F.col("doc_id").alias("doc_sub"),
                             F.col("__toks").alias("__ta"),
                             F.size("__toks").alias("__na"))
    arr_sup = ordered.select(F.col("doc_id").alias("doc_sup"),
                             F.col("__toks").alias("__tb"))
    return (cand.join(arr_sub, "doc_sub").join(arr_sup, "doc_sup")
            .withColumn("containment", F.round(
                F.size(F.array_intersect("__ta", "__tb")).cast("double")
                / F.col("__na"), 6))
            .filter(F.col("containment") >= threshold)
            .select(F.col("doc_sub").cast("string").alias("doc_sub"),
                    F.col("doc_sup").cast("string").alias("doc_sup"),
                    "containment"))


def incremental_dedup(docs: DataFrame, historical: Column,
                      threshold: float = 0.9, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Incremental (online) dedup — flag each INCOMING document against a
    HISTORICAL corpus only, the shape a production training pipeline runs
    on every ingest batch: the historical fingerprint relations (exact
    token-set keys + MinHash band keys) are exactly what a daily job
    keeps persisted, and the day's batch joins against them WITHOUT any
    incoming×incoming or historical×historical pair work.

    ``historical`` is a boolean Column splitting ``docs``; rows where it
    is false are the incoming batch.  Statuses per incoming doc:

    - ``exact_dup``: token-set key already present in history (match =
      lowest historical doc_id with that key, jaccard = 1.0 — equal sets).
    - ``near_dup``: shares a MinHash band bucket with a historical doc
      AND verified token-set Jaccard ≥ threshold (match = best jaccard,
      ties to the lowest historical id).  Exact dups skip this stage.
    - ``unique``: neither.

    Scale shape (100 TB ingest): history-side relations are loaded from a
    persisted store (here recomputed — same plan shape); the band join is
    a two-relation equi-join (AQE skew-split handles hot buckets, unlike
    the SELF-join salter the batch dedups need), candidates are verified
    in-row on the held token arrays, and the per-incoming-doc best match
    is one max-struct agg.  Incoming batch size, not corpus size, bounds
    every exploded relation on the probe side.
    """
    from pyspark import StorageLevel

    num_id = F.col(id_col).cast("bigint")
    base = (docs.select(num_id.alias("__nid"),
                        F.col(text_col).alias("__text"),
                        historical.alias("__hist"))
            .withColumn("doc_id", F.col("__nid").cast("string"))
            .persist(StorageLevel.MEMORY_AND_DISK))

    # r17 (guide §2.4 "remove shuffles outright"): the per-doc sorted
    # distinct token array is computed IN-ROW (sort_array ∘ array_distinct
    # ∘ tokenize) — the previous explode → groupBy(collect_list) paid a
    # full token shuffle to rebuild exactly this array; the tokenset key
    # then derives from the SAME persisted array (md5 of the joined
    # tokens ≡ tokenset_key by definition), so the corpus is tokenized
    # once per run instead of twice.  (Token-less docs now carry an empty
    # array instead of being absent — inert downstream: signatures drop
    # empty arrays and the verify join only sees banded candidates.)
    arrays = (base.select(
        "doc_id", "__nid", "__hist",
        F.sort_array(F.array_distinct(tokenize("__text"))).alias("__toks"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    # Eager cache fill — see flag_batch_against_store: without it the
    # multi-branch plan's racing stages re-run the map-side projection.
    arrays.count()
    keyed = arrays.select("doc_id", "__nid", "__hist",
                          F.md5(F.array_join("__toks", " ")).alias("__k"))
    hist_keys = (keyed.filter("__hist")
                 .groupBy("__k").agg(F.min("__nid").alias("__exact_nid")))
    inc = (keyed.filter(~F.col("__hist"))
           .join(hist_keys, "__k", "left")
           .persist(StorageLevel.MEMORY_AND_DISK))
    hist_bands = (lsh_band_keys(
        minhash_signatures_from_arrays(arrays.filter("__hist")))
        .join(arrays.filter("__hist").select("doc_id", "__nid"), "doc_id")
        .select(F.col("__nid").alias("hist_nid"), "band_id", "band_key"))
    hist_arrays = (arrays.filter("__hist")
                   .select(F.col("__nid").alias("hist_nid"), "__toks",
                           F.size("__toks").alias("__sz")))
    return _flag_against_history(
        inc.select("doc_id", "__nid", "__exact_nid"),
        arrays.filter(~F.col("__hist")).select("doc_id", "__toks"),
        hist_bands, hist_arrays, threshold)


def _flag_against_history(inc: DataFrame, inc_arrays: DataFrame,
                          hist_bands: DataFrame, hist_arrays: DataFrame,
                          threshold: float) -> DataFrame:
    """The shared PROBE plan of :func:`incremental_dedup` (batch
    certification) and :func:`flag_batch_against_store` (streaming
    serving): one-sided band probe for the not-exact incoming remainder,
    in-row Jaccard verify against the historical token arrays, best-match
    agg, status render.  ``inc`` = (doc_id, __nid, __exact_nid) incoming
    rows already exact-key-joined; ``inc_arrays`` = (doc_id, __toks);
    history relations may be in-flight or parquet reads — identical plan
    either way, which is what makes the streaming flagger equal to the
    batch flagger by construction."""
    inc_bands = lsh_band_keys(minhash_signatures_from_arrays(inc_arrays))
    probe = (inc_bands.join(inc.filter(F.col("__exact_nid").isNull())
                            .select("doc_id"), "doc_id")
             .select(F.col("doc_id").alias("inc_id"), "band_id", "band_key"))
    cand = (probe.join(hist_bands, ["band_id", "band_key"])
            .select("inc_id", "hist_nid").distinct())

    verified = (cand
                .join(inc_arrays.select(F.col("doc_id").alias("inc_id"),
                                        F.col("__toks").alias("__ta"),
                                        F.size("__toks").alias("__sa")),
                      "inc_id")
                .join(hist_arrays.select("hist_nid",
                                         F.col("__toks").alias("__tb"),
                                         F.col("__sz").alias("__sb")),
                      "hist_nid")
                .filter(F.least("__sa", "__sb")
                        >= F.lit(threshold) * F.greatest("__sa", "__sb"))
                .withColumn("__ni", F.size(F.array_intersect("__ta", "__tb")))
                .withColumn("__j", F.round(
                    F.col("__ni").cast("double")
                    / (F.col("__sa") + F.col("__sb") - F.col("__ni")), 6))
                .filter(F.col("__j") >= threshold))
    best = (verified.groupBy("inc_id")
            .agg(F.max(F.struct(F.col("__j").alias("j"),
                                (-F.col("hist_nid")).alias("neg_nid")))
                 .alias("__b"))
            .select(F.col("inc_id").alias("doc_id"),
                    F.col("__b.j").alias("__near_j"),
                    (-F.col("__b.neg_nid")).alias("__near_nid")))

    out = (inc.join(best, "doc_id", "left")
           .select(
               "doc_id",
               F.when(F.col("__exact_nid").isNotNull(), F.lit("exact_dup"))
               .when(F.col("__near_nid").isNotNull(), F.lit("near_dup"))
               .otherwise(F.lit("unique")).alias("status"),
               F.when(F.col("__exact_nid").isNotNull(),
                      F.col("__exact_nid").cast("string"))
               .otherwise(F.col("__near_nid").cast("string"))
               .alias("match_id"),
               F.when(F.col("__exact_nid").isNotNull(), F.lit(1.0))
               .otherwise(F.col("__near_j")).alias("jaccard")))
    return out


def write_fingerprint_store(docs: DataFrame, base_path: str,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> None:
    """Persist the HISTORICAL fingerprint relations a daily ingest-dedup
    job keeps between runs — exactly the three history-side inputs of
    :func:`_flag_against_history`:

    - ``keys/``   — (__k, __exact_nid): PER-DOC token-set md5 key rows
      (the exact-dup probe relation; the probe min-aggregates per key)
    - ``bands/``  — (hist_nid, band_id, band_key): MinHash LSH band keys
      (the near-dup candidate probe relation)
    - ``arrays/`` — (hist_nid, __toks, __sz): sorted distinct token
      arrays (the in-row Jaccard verify relation)

    The keys relation is deliberately per-doc, not min-per-key (changed
    r11 for the tombstone path): with one row per (key, doc),
    :func:`delete_fingerprints` is EXACT — removing a deleted doc's row
    uncovers the next-lowest doc holding the same key, whereas a
    min-folded log forgets the secondary ids and a delete of the
    survivor would falsely report the key gone while non-deleted twins
    remain in the corpus.  Row count is bounded by doc count — the same
    order as ``arrays``, so per-doc granularity costs nothing extra.

    At 100 TB these are the tables the nightly batch job appends to and
    every streaming micro-batch probes; here they are recomputed per run
    for certification, same plan shape."""
    from pyspark import StorageLevel

    num_id = F.col(id_col).cast("bigint")
    base = (docs.select(num_id.alias("__nid"),
                        F.col(text_col).alias("__text"))
            .withColumn("doc_id", F.col("__nid").cast("string"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        # r17: in-row token arrays + key derived from them — one
        # tokenize pass, no explode/collect_list shuffle (see
        # incremental_dedup).
        arrays = (base.select(
            "doc_id", "__nid",
            F.sort_array(F.array_distinct(tokenize("__text")))
            .alias("__toks"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        (arrays.select(F.md5(F.array_join("__toks", " ")).alias("__k"),
                       F.col("__nid").alias("__exact_nid"))
         .write.mode("overwrite").parquet(f"{base_path}/keys"))
        try:
            (lsh_band_keys(minhash_signatures_from_arrays(arrays))
             .join(arrays.select("doc_id", "__nid"), "doc_id")
             .select(F.col("__nid").alias("hist_nid"), "band_id", "band_key")
             .write.mode("overwrite").parquet(f"{base_path}/bands"))
            (arrays.select(F.col("__nid").alias("hist_nid"), "__toks",
                           F.size("__toks").alias("__sz"))
             .write.mode("overwrite").parquet(f"{base_path}/arrays"))
        finally:
            arrays.unpersist()
    finally:
        base.unpersist()


def append_fingerprints(docs: DataFrame, base_path: str,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> None:
    """Append a batch's fingerprints to a persisted store — the daily
    MAINTENANCE write after flagging: the day's surviving (unique) docs
    become history for tomorrow's batch.  The keys relation is an
    append-only log of PER-DOC (key, id) rows (r11 — exact tombstone
    deletes, see ``write_fingerprint_store``); the probe
    re-aggregates min at read time (``flag_batch_against_store``), so
    appends never need read-modify-write — at 100 TB this is an atomic
    partition append plus an optional periodic compaction, never an
    update-in-place.

    The batch is EAGERLY localCheckpoint'ed first: the natural caller
    derives it FROM this very store (the day's flags pick the uniques),
    and Spark's post-append ``refreshByPath`` invalidates both the
    store's cached file listing and every cached plan that reads it —
    so after the first (keys) append, the later bands/arrays writes
    would silently re-evaluate the batch against the half-grown store
    and see each doc as an exact dup of ITSELF (found the hard way:
    zero day-1 fingerprints landed in bands/arrays).  Truncating the
    lineage up front makes appending a store-derived relation safe by
    contract, not by caller discipline."""
    num_id = F.col(id_col).cast("bigint")
    base = (docs.select(num_id.alias("__nid"),
                        F.col(text_col).alias("__text"))
            .withColumn("doc_id", F.col("__nid").cast("string"))
            .localCheckpoint())
    (base.select(tokenset_key("__text").alias("__k"),
                 F.col("__nid").alias("__exact_nid"))
     .write.mode("append").parquet(f"{base_path}/keys"))
    arrays = (doc_tokensets(base, "__text", "doc_id")
              .groupBy("doc_id")
              .agg(F.sort_array(F.collect_list("term")).alias("__toks"))
              .join(base.select("doc_id", "__nid"), "doc_id")
              .localCheckpoint())
    (lsh_band_keys(minhash_signatures_from_arrays(arrays))
     .join(arrays.select("doc_id", "__nid"), "doc_id")
     .select(F.col("__nid").alias("hist_nid"), "band_id", "band_key")
     .write.mode("append").parquet(f"{base_path}/bands"))
    (arrays.select(F.col("__nid").alias("hist_nid"), "__toks",
                   F.size("__toks").alias("__sz"))
     .write.mode("append").parquet(f"{base_path}/arrays"))


def delete_fingerprints(spark: SparkSession, base_path: str,
                        doc_ids) -> None:
    """TOMBSTONE deleted documents — the takedown/GDPR path of the store
    lifecycle (shared ``lifecycle`` tombstone-log mechanics): probes
    mask tombstoned docs at read time (:func:`flag_batch_against_store`
    anti-joins all three relations); :func:`compact_fingerprint_store`
    removes their rows physically and drops the log.

    Deletes are EXACT because the keys log is per-doc: removing doc X's
    (key, X) row uncovers the next-lowest doc Y holding the same key, so
    a future twin still flags as a dup of Y instead of silently passing
    as unique.

    ``doc_ids``: a DataFrame whose first column is the doc id (any
    numeric/string castable to bigint), or a Python iterable of ints."""
    from .lifecycle import append_tombstones

    append_tombstones(spark, base_path, doc_ids, "__nid", "bigint")


def _store_tombstones(spark: SparkSession, base_path: str):
    """The store's tombstoned doc ids as a 1-column DataFrame, or None
    if no delete has ever been issued."""
    from .lifecycle import read_tombstones

    return read_tombstones(spark, base_path, "__nid", "bigint")


# Read-time masking under the store's column names (shared mechanics).
from .lifecycle import mask_tombstones as _anti_tombstones  # noqa: E402


def compact_fingerprint_store(spark: SparkSession, base_path: str) -> None:
    """Compact the store — the periodic maintenance job: physically
    remove tombstoned docs' rows from ALL THREE relations, drop the
    tombstone log, and rewrite the keys log distinct (duplicate per-doc
    rows can only come from a replayed append; result-invariant since
    the probe min-aggregates anyway).  After compaction no byte of a
    deleted document's fingerprints remains on disk — the property a
    takedown pipeline must certify, and tested by
    tests/test_store_tombstones.py.

    The keys snapshot deliberately stays PER-DOC (no min-per-key fold):
    folding would forget the secondary ids holding each key, so a LATER
    delete of the surviving id would falsely erase the key while
    non-deleted twins remain in the corpus.  Row count is doc-bounded
    (same order as ``arrays``), so the fold would buy little anyway.

    Swap mechanics and the maintenance-window concurrency contract:
    module docstring of ``lifecycle`` (shared by all three persisted
    stores since r13)."""
    from .lifecycle import atomic_rewrite, drop_tombstones

    tomb = _store_tombstones(spark, base_path)

    keys = spark.read.parquet(f"{base_path}/keys").distinct()
    atomic_rewrite(spark, base_path, "keys",
                   _anti_tombstones(keys, tomb, "__exact_nid"))
    if tomb is not None:
        # bands/arrays only need rewriting when there is something to
        # remove; the no-delete compaction stays a keys-only job.
        for rel, col in (("bands", "hist_nid"), ("arrays", "hist_nid")):
            atomic_rewrite(spark, base_path, rel, _anti_tombstones(
                spark.read.parquet(f"{base_path}/{rel}"), tomb, col))
        drop_tombstones(spark, base_path)


def flag_batch_against_store(batch: DataFrame, base_path: str,
                             threshold: float = 0.9,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Flag ONE incoming batch against a persisted fingerprint store —
    the ``foreachBatch`` body of the streaming near-dup dedup
    (plans/streaming_queries.q_stream_dedup_near_live): exact token-set
    key left-join plus the one-sided MinHash band probe + Jaccard
    verify, all against the store's parquet relations only.  No
    incoming×incoming work, so a document's status is independent of
    micro-batch boundaries — the drained streaming sink equals the batch
    flagger on the same split, which is why the batch oracle applies
    verbatim.

    Fault-tolerance trade (r12 advice, accepted): the result is eagerly
    localCheckpointed for cache hygiene (see the inline note below), so
    its lineage is truncated — an executor loss afterwards fails the job
    instead of recomputing, and the full probe job runs at call time
    even if the caller never consumes the frame.  A long-lived streaming
    caller that needs executor-loss recoverability should use reliable
    ``checkpoint()`` (HDFS-backed) instead."""
    from pyspark import StorageLevel

    spark = batch.sparkSession
    num_id = F.col(id_col).cast("bigint")
    base = (batch.select(num_id.alias("__nid"),
                         F.col(text_col).alias("__text"))
            .withColumn("doc_id", F.col("__nid").cast("string")))
    # Tombstoned docs are masked out of every relation at read time
    # (delete_fingerprints); compaction later removes them physically.
    tomb = _store_tombstones(spark, base_path)
    # Re-aggregate min per key at read time: the store's keys relation is
    # an append-only per-doc log (see append_fingerprints) — min recovers
    # the earliest SURVIVING id per key and guarantees one row per key
    # into the left join.
    hist_keys = (_anti_tombstones(spark.read.parquet(f"{base_path}/keys"),
                                  tomb, "__exact_nid")
                 .groupBy("__k").agg(F.min("__exact_nid")
                                     .alias("__exact_nid")))
    # inc and inc_arrays each feed TWO branches of the probe plan (the
    # band probe + the final status join; the signatures + the verify).
    # Persisting them makes the serving path pay one tokenize/key/join
    # pass per batch instead of re-evaluating the lineage per consumer —
    # measured 7.3 s → 2.6 s per probe at sf0.1 (the same persist
    # contract incremental_dedup has always had).  The result is eagerly
    # localCheckpointed so the intermediates can be unpersisted HERE
    # (r12, round-11 advice): repeated probes — the bench loop, the
    # streaming rollover's per-micro-batch calls — must not accumulate
    # CacheManager entries for the life of the session; checkpoint
    # blocks are RDD-level and the ContextCleaner reclaims them when the
    # returned frame is garbage-collected.
    # (r17 note: the in-row token-array form that wins in
    # incremental_dedup was ALSO tried here and measured 2x SLOWER for
    # this serving probe (2.2 -> 4.4 s at sf0.1, alternating A/B, eager
    # cache fill included) — this path localCheckpoints its result and
    # re-derives everything per batch, and the shuffle-built arrays
    # relation amortizes better across the probe's branches than a
    # map-side projection cache.  Measured, kept as-is.)
    inc = (base.select("doc_id", "__nid", tokenset_key("__text").alias("__k"))
           .join(hist_keys, "__k", "left")
           .select("doc_id", "__nid", "__exact_nid")
           .persist(StorageLevel.MEMORY_AND_DISK))
    inc_arrays = (doc_tokensets(base, "__text", "doc_id")
                  .groupBy("doc_id")
                  .agg(F.sort_array(F.collect_list("term")).alias("__toks"))
                  .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        return _flag_against_history(
            inc, inc_arrays,
            _anti_tombstones(spark.read.parquet(f"{base_path}/bands"),
                             tomb, "hist_nid"),
            _anti_tombstones(spark.read.parquet(f"{base_path}/arrays"),
                             tomb, "hist_nid"), threshold) \
            .localCheckpoint(eager=True)
    finally:
        inc.unpersist()
        inc_arrays.unpersist()
