"""Vocabulary-driven BPE encoder: merge-fold edge semantics pinned on
literal words (the oracle row certifies whole-corpus parity; these pin
the algorithm's corner cases explicitly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_assignment_2_spark.operators.textstats import (bpe_encode,
                                                             bpe_encode_word)


def _encode(spark, words):
    df = spark.createDataFrame([(w,) for w in words], "w string")
    rows = df.select("w", bpe_encode_word(F.col("w")).alias("p")).collect()
    return {r["w"]: r["p"] for r in rows}


def test_cascading_merges(spark):
    got = _encode(spark, ["data", "the", "thththe"])
    assert got["data"] == ["data"]          # a+t, d+at, dat+a cascade
    assert got["the"] == ["the"]            # t+h then th+e
    # left-to-right non-overlap: t,h,t,h,t,h,e -> th th th -> last th+e
    assert got["thththe"] == ["th", "th", "the"]


def test_rank_order_blocking(spark):
    # e+r (rank 6) consumes the e before u+e (rank 13) can see it.
    got = _encode(spark, ["query", "value"])
    assert got["query"] == ["q", "u", "er", "y"]
    assert got["value"] == ["v", "a", "l", "ue"]


def test_repeated_pair_left_to_right(spark):
    # (a,n) on "anan": merge both non-overlapping occurrences.
    got = _encode(spark, ["anan", "aaat"])
    assert got["anan"] == ["an", "an"]
    # (a,t) fires once on the last (a,t); leading a's stay single.
    assert got["aaat"] == ["a", "a", "at"]


def test_single_char_and_unknown(spark):
    got = _encode(spark, ["a", "z", "xyz"])
    assert got["a"] == ["a"]
    assert got["z"] == ["z"]
    assert got["xyz"] == ["x", "y", "z"]    # no applicable merges


def test_doc_level_assembly(spark):
    docs = spark.createDataFrame(
        [(1, "the data"), (2, "query the query")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_pieces"], r["pieces"])
           for r in bpe_encode(docs).collect()}
    assert got["1"] == (2, "the data")
    assert got["2"] == (9, "q u er y the q u er y")


# --- BPE TRAINING (merge learning) ----------------------------------------

def _ref_bpe_train(word_freqs: dict[str, int], n_merges: int):
    """Reference trainer: classic pair counting (overlaps included),
    (count DESC, lhs, rhs) argmax, left-to-right non-overlapping apply."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    out = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for toks, f in vocab.items():
            for i in range(len(toks) - 1):
                counts[toks[i], toks[i + 1]] = \
                    counts.get((toks[i], toks[i + 1]), 0) + f
        if not counts:
            break
        (x, y), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rank, x, y, x + y, cnt))
        new = {}
        for toks, f in vocab.items():
            acc: list[str] = []
            for t in toks:
                if acc and acc[-1] == x and t == y:
                    acc[-1] = x + y
                else:
                    acc.append(t)
            new[tuple(acc)] = new.get(tuple(acc), 0) + f
        vocab = new
    return out


def _train(spark, text, n_merges):
    from big_data_assignment_2_spark.operators.textstats import bpe_train
    df = spark.createDataFrame([("1", text)], "doc_id string, text string")
    rows = bpe_train(df, n_merges=n_merges).collect()
    return [(r["merge_rank"], r["lhs"], r["rhs"], r["merged"],
             r["pair_count"]) for r in rows]


def test_bpe_train_sennrich_corpus(spark):
    # The ACL'16 walkthrough corpus: first merges are driven by the
    # 'newest' cluster; expectation computed by the reference trainer.
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    text = " ".join(w for w, f in freqs.items() for _ in range(f))
    got = _train(spark, text, 6)
    assert got == _ref_bpe_train(freqs, 6)
    # Sanity on the well-known head: (e,s) with count 9 wins round 0.
    assert got[0][1:] == ("e", "s", "es", 9)


def test_bpe_train_overlap_counting_and_tiebreak(spark):
    # 'aaa' contributes TWO (a,a) adjacencies; after merging (a,a)
    # left-to-right, 'aaa' becomes [aa, a].
    got = _train(spark, "aaa bb", 2)
    assert got == _ref_bpe_train({"aaa": 1, "bb": 1}, 2)
    # Round 0: (a,a) cnt=2 beats (b,b) cnt=1; round 1 tie at cnt=1
    # between (aa,a) and (b,b) -> lexicographic lhs tie-break.
    assert got[0][1:] == ("a", "a", "aa", 2)
    assert got[1][1:] == ("aa", "a", "aaa", 1)


def test_bpe_train_stops_when_no_pairs(spark):
    # Single-char vocabulary: zero adjacent pairs, empty merge table.
    assert _train(spark, "a b c a", 4) == []


def test_bpe_learn_merges_leaves_nothing_cached(spark):
    """The merge list is driver-side, so every round's persisted
    vocabulary relation is released before it returns."""
    from big_data_assignment_2_spark.operators.textstats import (
        bpe_learn_merges)

    docs = spark.createDataFrame([("1", "lower lowest newer wider"),
                                  ("2", "newest widest low")],
                                 "doc_id string, text string")
    spark.catalog.clearCache()
    assert len(bpe_learn_merges(docs, n_merges=2)) == 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_bpe_train_batched_rounds_match_sequential(spark):
    """r18 batched rounds: a round may accept several provably-independent
    merges from one top-K collect — the merge list must stay bit-identical
    to the one-merge-per-round reference in both the batchable and the
    must-stop cases."""
    # All-disjoint, strictly ordered counts: one round can take all 4.
    freqs = {"ab": 5, "cd": 4, "ef": 3, "gh": 2}
    text = " ".join(w for w, f in freqs.items() for _ in range(f))
    assert _train(spark, text, 4) == _ref_bpe_train(freqs, 4)
    # (a,b)=5 then (b,c)=4 shares a symbol with the batch: batching MUST
    # stop, because after merging (a,b) the true round-2 argmax is (b,c)
    # — a naive "skip to the next disjoint pair" would pick (c,d).
    freqs = {"ab": 5, "bc": 4, "cd": 4}
    text = " ".join(w for w, f in freqs.items() for _ in range(f))
    got = _train(spark, text, 3)
    assert got == _ref_bpe_train(freqs, 3)
    assert got[1][1:] == ("b", "c", "bc", 4)
    # Tie at the count boundary with a SHARING later entry: (a,e) ties
    # (c,d) at 3 and shares 'a' with the accepted (a,b) — (c,d) must not
    # be batched past it (the sequential loop picks (a,e) first by lex).
    freqs = {"ab": 4, "ae": 3, "cd": 3}
    text = " ".join(w for w, f in freqs.items() for _ in range(f))
    assert _train(spark, text, 3) == _ref_bpe_train(freqs, 3)


def test_bpe_train_encode_oracle_survives_exhausted_corpus(spark, tmp_path):
    """r7 ADVICE: when the corpus yields fewer than BPE_TRAIN_MERGES
    merges, the train+encode oracle's per-round m{k} CTEs go empty; the
    pre-guard cross-join annihilated the whole encode (zero rows) while
    Spark's early-break bpe_learn_merges still encoded every doc.  The
    g{k} identity-sentinel guards must keep engine and oracle identical
    on such a corpus."""
    import duckdb

    from big_data_assignment_2_spark.plans.text_queries import (
        BPE_TRAIN_MERGES, _bpe_train_encode_oracle, q_bpe_train_encode)

    # 'ab' exhausts after ONE merge (a,b)->ab; 'c'/'d' add no pairs.
    rows = [(1, "ab ab c", "en", "synthetic", 7),
            (2, "ab d", "en", "synthetic", 4)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf_dir = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    got = {(r["doc_id"], r["n_pieces"], r["pieces"])
           for r in q_bpe_train_encode(spark, sf_dir).collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet/*.parquet'")
    want = {tuple(r) for r in con.execute(
        _bpe_train_encode_oracle(BPE_TRAIN_MERGES)).fetchall()}
    # Normalize doc_id type (oracle casts to VARCHAR, Spark may too).
    norm = lambda s: {(str(a), b, c) for a, b, c in s}
    assert norm(got) == norm(want)
    assert len(got) == 2  # every doc encoded, not annihilated
