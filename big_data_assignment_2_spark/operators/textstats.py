"""Text analysis for training-data pipelines (extension — not in reference;
required by the north-star brief): token counting, quality scoring,
language-ID heuristic, document fingerprinting.

Everything is native column expressions (codegen'd, no Python on the data
path); each op has a declared query + DuckDB oracle in
``plans/text_queries.py``.  At 100 TB these are embarrassingly parallel
map-side transforms — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize

# Marker-word profiles for the language-ID heuristic.  A real pipeline would
# use character n-gram profiles (à la Cavnar-Trenkle) or fastText; the
# heuristic here is deliberately tiny, deterministic, and oracle-friendly.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS = ("the", "a", "and", "of", "is", "in", "to", "it")

# BPE-ish pre-tokenization: word pieces OR single non-space symbols —
# the GPT-2 style contraction/word/number/symbol split, simplified to what
# both regex dialects agree on.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text: Column | str) -> Column:
    """Whitespace token count (empty-safe)."""
    return F.size(tokenize(text))


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens via regexp_count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


# Fixed merges table (rank order) for the vocabulary-driven BPE encoder.
# Chosen to exercise the algorithm's edge semantics on this corpus:
# cascading merges (t+h → th, th+e → the; a+t → at, d+at → dat,
# dat+a → data), rank-order blocking (u+e never fires inside "query"
# because e+r at rank 6 consumes the e first), and left-to-right
# non-overlapping repeat handling.  Sequential application in rank order
# is equivalent to the greedy lowest-rank-pair loop (GPT-2 encode):
# a pair learned at rank r can only be made of tokens that existed
# before rank r, so later merges never enable earlier ones — the
# standard subword-nmt equivalence.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("a", "t"), ("d", "at"), ("dat", "a"),
    ("e", "r"), ("o", "r"), ("s", "t"), ("r", "o"), ("a", "n"),
    ("i", "n"), ("in", "e"), ("u", "e"), ("k", "e"), ("h", "a"),
    ("s", "m"),
)


def _merge_pair(toks: Column, x: str, y: str) -> Column:
    """One BPE merge rule applied to a token array: fold left, replacing
    every left-to-right non-overlapping adjacent (x, y) with x+y."""
    z = x + y
    return F.aggregate(
        toks, F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(x)) & (t == F.lit(y)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.lit(z)))
        ).otherwise(F.concat(acc, F.array(t))))


def bpe_encode_word(word: Column,
                    merges: tuple[tuple[str, str], ...] = BPE_MERGES) -> Column:
    """Encode one word: char array folded through ``merges`` in rank
    order (default: the fixed BPE_MERGES table).  Native higher-order
    functions end to end — no Python on the data path."""
    toks = F.filter(F.split(word, ""), lambda c: c != F.lit(""))
    for x, y in merges:
        toks = _merge_pair(toks, x, y)
    return toks


def bpe_encode(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               merges: tuple[tuple[str, str], ...] = BPE_MERGES) -> DataFrame:
    """Vocabulary-driven BPE over the corpus, dictionary-encoded for
    scale: the merge fold runs once per DISTINCT word (the vocabulary —
    orders of magnitude smaller than the corpus at 100 TB), then a
    broadcast join maps encodings back to every occurrence and per-doc
    piece sequences reassemble in word order.  Returns
    (doc_id, n_pieces, pieces) where pieces is the space-joined piece
    sequence of the whole document."""
    words = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode(tokenize(text_col)).alias("pos", "word"))
    encoded = bpe_encode_word(F.col("word"), merges)
    vocab = (words.select("word").distinct()
             .select("word",
                     F.array_join(encoded, " ").alias("__pieces_str"),
                     F.size(encoded).alias("__n_pieces")))
    from ..hints import broadcast_if_source_small

    # vocab is vocabulary-sized (distinct words of the corpus): hint only
    # while the source corpus bounds it; at web scale AQE decides.
    return (words.join(broadcast_if_source_small(vocab, docs), "word")
            .groupBy("doc_id")
            .agg(F.sum("__n_pieces").alias("n_pieces"),
                 F.array_join(
                     F.transform(
                         F.sort_array(F.collect_list(
                             F.struct("pos", "__pieces_str"))),
                         lambda s: s["__pieces_str"]), " ").alias("pieces")))


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality signals: lengths, word-shape ratios, stopword ratio.
    All ratios rounded to 6 dp for engine parity."""
    toks = tokenize(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    alpha = F.length(F.regexp_replace(text_col, r"[^A-Za-z]", ""))
    digit = F.length(F.regexp_replace(text_col, r"[^0-9]", ""))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        bpe_token_count(text_col).alias("n_bpe_tokens"),
        F.round(F.when(n_tok > 0, n_chars.cast("double") / n_tok)
                .otherwise(F.lit(0.0)), 6).alias("chars_per_token"),
        F.round(F.when(n_tok > 0, stop.cast("double") / n_tok)
                .otherwise(F.lit(0.0)), 6).alias("stopword_ratio"),
        F.round(F.when(n_chars > 0, alpha.cast("double") / n_chars)
                .otherwise(F.lit(0.0)), 6).alias("alpha_ratio"),
        F.round(F.when(n_chars > 0, digit.cast("double") / n_chars)
                .otherwise(F.lit(0.0)), 6).alias("digit_ratio"),
    )


def lang_scores(text_col: Column | str) -> list[Column]:
    toks = tokenize(text_col)
    return [
        F.size(F.filter(toks, lambda t: t.isin(*markers))).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]


def predict_lang(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: argmax marker hits, ties → lexicographically
    first language, zero hits → 'und'."""
    scored = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                         *lang_scores(text_col))
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best == 0, F.lit("und"))
    for l in langs:  # first lang reaching the max wins ties
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    return scored.select("doc_id", *[f"score_{l}" for l in langs],
                         pred.alias("pred_lang"))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: polynomial rolling hash over the characters of
    the whitespace-normalized text (content-defined, order-sensitive —
    unlike the token-set key used by exact dedup)."""
    from ..functions.text import char_poly_hash, normalize_whitespace

    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        char_poly_hash(normalize_whitespace(text_col)).alias("fingerprint"),
    )


def bpe_train(docs: DataFrame, n_merges: int = 8, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Learn a BPE merge table FROM the corpus (Sennrich et al. ACL'16)
    — tokenizer TRAINING, the counterpart to :func:`bpe_encode` which
    applies a given table.  Returns one row per learned merge:
    (merge_rank INT, lhs, rhs, merged, pair_count BIGINT), rank order.

    Distributed shape (100 TB): the corpus is touched ONCE, for the word
    frequency aggregate — after that every round runs over the DISTINCT
    vocabulary weighted by frequency (dictionary encoding, orders of
    magnitude smaller than the corpus).  Each round is:

    1. adjacent-pair count — one vocab-sized agg (``zip_with`` of the
       symbol array against its own tail, explode, sum(freq));
    2. argmax merge — a bounded top-K ``collect`` (same sanctioned shape
       as the Lloyd centroid collect in similarity.py), tie-broken
       deterministically by (count DESC, lhs ASC, rhs ASC); a PREFIX of
       provably-independent runner-up merges is accepted in the same
       round when the counts prove they are the next sequential argmaxes
       (r18 — fewer vocab-sized aggregation passes, merge list
       bit-identical to the one-merge-per-round loop);
    3. fold the merges into the vocabulary symbol arrays as PLAN-TIME
       LITERALS via the same ``_merge_pair`` higher-order fold the
       encoder uses — native, no Python on the data path.

    Pair counts follow the classic formulation: every adjacent position
    counts, including overlaps ("aaa" yields (a,a) twice); the merge
    application is left-to-right non-overlapping, exactly like
    :func:`bpe_encode`.  Each round's vocabulary relation is persisted —
    rounds are actions (the argmax), so without it round k would replay
    folds 1..k-1; the relations are vocabulary-sized, so the k persisted
    stages are cheap even at corpus scale.
    """
    return docs.sparkSession.createDataFrame(
        bpe_learn_merges(docs, n_merges, text_col),
        "merge_rank INT, lhs STRING, rhs STRING, merged STRING, "
        "pair_count BIGINT")


def bpe_learn_merges(docs: DataFrame, n_merges: int = 8,
                     text_col: str = "text"
                     ) -> list[tuple[int, str, str, str, int]]:
    """The training loop of :func:`bpe_train`, returning the learned
    merge list driver-side (bounded: n_merges rows) so callers can feed
    it straight into :func:`bpe_encode` — train-then-tokenize in one
    lineage.  Every round's persisted relation is released on return."""
    from pyspark import StorageLevel

    words = docs.select(F.explode(tokenize(text_col)).alias("word"))
    cur = (words.groupBy("word").agg(F.count("*").alias("freq"))
           .select("word", "freq",
                   F.filter(F.split("word", ""),
                            lambda c: c != F.lit("")).alias("toks"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    merges: list[tuple[int, str, str, str, int]] = []
    # Batched rounds (r18, VERDICT r17 #6, guide §2.4 "do fewer passes"):
    # each round collects the TOP-K pair counts instead of the top-1 and
    # accepts a PREFIX of provably-independent merges driver-side, so one
    # vocabulary-sized aggregation pays for several merges.  Bit-identity
    # argument (counts can never increase under a merge; a merge (x,y)→xy
    # only changes counts of pairs sharing a symbol with {x,y}, and every
    # pair it CREATES has count ≤ the old count of a pair sharing x or y):
    # after accepting a batch B, the next list entry p is the true
    # next-round argmax iff
    #   (a) p's symbols are disjoint from every accepted {x, y, x+y}
    #       (p's own count is then exactly its old count),
    #   (b) every OTHER pair q with old_cnt ≥ p.cnt is visible in the
    #       top-K and does not share a symbol with B (a sharing q — or a
    #       pair created from it — could retain/reach p.cnt with an
    #       unknowable lex position), and
    #   (c) p.cnt is strictly above the K-th count, so no unseen pair
    #       (all ≤ cnt_K) can tie it (vacuous when the whole pair table
    #       fit in K rows).
    # Disjoint q below p in the sorted list lose by (cnt DESC, x, y)
    # order exactly as in the sequential loop.  Worst case every batch
    # is 1 merge and the job count matches the old per-merge loop.
    topk = max(4 * n_merges, 16)
    cached = [cur]
    try:
        while len(merges) < n_merges:
            pair = F.zip_with(
                F.slice("toks", F.lit(1), F.size("toks") - 1),
                F.slice("toks", F.lit(2), F.size("toks") - 1),
                lambda x, y: F.struct(x.alias("x"), y.alias("y")))
            top = (cur.select("freq", F.explode(pair).alias("p"))
                   .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
                   .agg(F.sum("freq").alias("cnt"))
                   .orderBy(F.col("cnt").desc(), "x", "y")
                   .limit(topk).collect())
            if not top:
                break
            saw_all = len(top) < topk
            boundary = int(top[-1]["cnt"])
            batch: list[tuple[str, str, int]] = []
            syms: set[str] = set()
            for i, r in enumerate(top):
                if len(merges) + len(batch) >= n_merges:
                    break
                x, y, cnt = r["x"], r["y"], int(r["cnt"])
                if i > 0:
                    ok = (saw_all or cnt > boundary) and not ({x, y} & syms)
                    if ok:
                        for j in range(i + 1, len(top)):
                            q = top[j]
                            if (int(q["cnt"]) >= cnt
                                    and {q["x"], q["y"]} & syms):
                                ok = False
                                break
                    if not ok:
                        break
                batch.append((x, y, cnt))
                syms |= {x, y, x + y}
                # A self-pair merge (x,x) can CREATE pairs (e.g. (xx,x) from
                # runs of x) whose count reaches the member's own count with
                # an unknowable lex position — nothing after it is provable
                # this round.  (For x≠y, created-pair counts are bounded by
                # old counts of OTHER pairs sharing a symbol, which the
                # q-scan above already vets.)
                if x == y:
                    break
            toks = F.col("toks")
            for x, y, cnt in batch:
                merges.append((len(merges), x, y, x + y, cnt))
                toks = _merge_pair(toks, x, y)
            cur = (cur.select("word", "freq", toks.alias("toks"))
                   .persist(StorageLevel.MEMORY_AND_DISK))
            cached.append(cur)
        return merges
    finally:
        for df in cached:
            df.unpersist()
