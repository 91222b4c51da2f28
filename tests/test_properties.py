"""Property-style randomized tests against independent oracles
(SURVEY.md §5.3).  Randomness is seeded; each property evaluates a whole
generated batch in one Spark job (per-example round-trips would pay ~1 s
of scheduling each).
"""

from __future__ import annotations

import math
import random
import string

import pandas as pd

from big_data_assignment_2_spark.functions.text import tokenize, tokenize_query
from big_data_assignment_2_spark.operators.index import (build_postings,
                                                         doc_stats,
                                                         tokenize_positions)
from big_data_assignment_2_spark.operators.relational import asof_join
from pyspark.sql import functions as F

ALPHABET = (string.ascii_letters + string.digits + "_-.,;:!?'\"()[] \t\n"
            + "äöüßéàçñ中文字テスト" + "🙂")


def random_texts(rng: random.Random, n: int) -> list[str]:
    out = []
    for _ in range(n):
        ln = rng.randint(0, 80)
        out.append("".join(rng.choice(ALPHABET) for _ in range(ln)))
    return out


def test_tokenizer_parity_random_unicode(spark):
    """Spark tokenizer ≡ Python reference tokenizer on arbitrary unicode —
    the (?U) regex-dialect trap (SURVEY.md §7.5) under fire."""
    rng = random.Random(42)
    texts = random_texts(rng, 300)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    got = {r["id"]: r["toks"]
           for r in df.select("id", tokenize("text").alias("toks")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == tokenize_query(t), repr(t)


def _ref_tokenize_cjk(text: str) -> list[str]:
    """Pure-Python reference of functions.text.tokenize_cjk."""
    import re

    cjk = "぀-ヿ㐀-䶿一-鿿가-힯"
    t = re.sub(r"[^\w\s]", " ", text.lower())
    t = re.sub(f"([{cjk}]+)", r" \1 ", t)
    out: list[str] = []
    for tok in t.split():
        if re.fullmatch(f"[{cjk}]{{2,}}", tok):
            out += [tok[i:i + 2] for i in range(len(tok) - 1)]
        else:
            out.append(tok)
    return out


def test_tokenize_cjk_golden(spark):
    """Golden mixed Latin/CJK expectations (r17, VERDICT r16 #6): CJK runs
    become overlapping character bigrams in document order; Latin/digit
    runs and single CJK chars pass through; scripts separate at run
    boundaries even with no whitespace between them."""
    from big_data_assignment_2_spark.functions.text import tokenize_cjk

    cases = [
        ("Spark很快! データ処理 엔진 test",
         ["spark", "很快", "デー", "ータ", "タ処", "処理", "엔진", "test"]),
        ("深度学习的模型",
         ["深度", "度学", "学习", "习的", "的模", "模型"]),
        ("数据123处理 mixed", ["数据", "123", "处理", "mixed"]),
        ("一 single char", ["一", "single", "char"]),
        ("plain ascii only", ["plain", "ascii", "only"]),
        ("", []),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)],
                               "id long, text string")
    got = {r["id"]: r["toks"] for r in
           df.select("id", tokenize_cjk("text").alias("toks")).collect()}
    for i, (text, want) in enumerate(cases):
        assert got[i] == want, (text, got[i], want)
        assert _ref_tokenize_cjk(text) == want, text


def test_tokenize_cjk_parity_random_unicode(spark):
    """Spark tokenize_cjk ≡ Python reference on random unicode batches
    (ALPHABET includes Han + katakana, so CJK runs actually occur)."""
    from big_data_assignment_2_spark.functions.text import tokenize_cjk

    rng = random.Random(1742)
    texts = random_texts(rng, 300)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    got = {r["id"]: r["toks"] for r in
           df.select("id", tokenize_cjk("text").alias("toks")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _ref_tokenize_cjk(t), repr(t)


def test_index_invariants_random(spark):
    rng = random.Random(7)
    texts = random_texts(rng, 200)
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")
    toks = tokenize_positions(docs)
    postings = build_postings(toks).cache()
    stats = doc_stats(docs)
    joined = (postings.groupBy("doc_id").agg(F.sum("tf").alias("s"))
              .join(stats, "doc_id", "right")
              .select(F.coalesce("s", F.lit(0)).alias("s"), "length"))
    assert joined.filter("s != length").count() == 0
    bad = postings.filter(
        (F.size("positions") != F.col("tf"))
        | (F.col("positions") != F.sort_array("positions")))
    assert bad.count() == 0


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join ≡ pandas.merge_asof (allow_exact_matches=True, backward)
    on random keyed time series."""
    rng = random.Random(11)
    left = [(rng.randint(0, 4), rng.randint(0, 10_000), i)
            for i in range(400)]
    right = [(rng.randint(0, 4), rng.randint(0, 10_000), 100 + i)
             for i in range(400)]
    # unique (key, ts) on the right so the expected match is unambiguous
    seen = set()
    right = [r for r in right
             if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))]

    ldf = spark.createDataFrame(left, "k int, t long, lid long")
    rdf = spark.createDataFrame(right, "k int, t long, rid long")
    got = {r["lid"]: r["rid"]
           for r in asof_join(ldf, rdf, on="k", left_ts="t", right_ts="t",
                              right_cols=["rid"]).collect()}

    lp = pd.DataFrame(left, columns=["k", "t", "lid"]).sort_values("t")
    rp = pd.DataFrame(right, columns=["k", "t", "rid"]).sort_values("t")
    want = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
    for _, row in want.iterrows():
        expect = None if pd.isna(row["rid"]) else int(row["rid"])
        assert got[int(row["lid"])] == expect


def test_cosine_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(60, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from big_data_assignment_2_spark.operators.similarity import brute_force_topk

    q = df.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    got = brute_force_topk(df, q, k=5).collect()

    v = vecs.astype("float64")
    norms = np.linalg.norm(v, axis=1)
    sims = (v @ v.T) / np.outer(norms, norms)
    for qid in range(3):
        s = [(round(sims[qid, j], 6), j) for j in range(len(v)) if j != qid]
        s.sort(key=lambda x: (-x[0], x[1]))
        expect = [(j, c) for c, j in s[:5]]
        mine = [(r["neighbor_id"], r["cos_sim"]) for r in got
                if r["query_id"] == qid]
        assert [(j, round(c, 6)) for j, c in expect] == mine


def test_resize_bmp_properties_random():
    """Randomized geometry sweep (seeded, no Spark needed): for any input
    BMP, the resized output must (a) decode as a valid BMP, (b) have its
    longer side exactly `target` (floor(max*scale+0.5) == target when
    scale = target/max), (c) preserve aspect within the +-0.5 rounding
    bound, and (d) keep every output pixel drawn from the input palette
    (nearest neighbor never invents values)."""
    import numpy as np

    from big_data_assignment_2_spark.operators.multimodal import (
        bmp_bytes, decode_payload, resize_bmp)

    rng = random.Random(7)
    for _ in range(25):
        w, h = rng.randint(1, 90), rng.randint(1, 90)
        target = rng.choice([16, 64, 224])
        seed = bytes(rng.randrange(256) for _ in range(rng.randint(1, 9)))
        src = bmp_bytes(w, h, seed)
        out = resize_bmp(src, target=target)
        meta = decode_payload(out)
        nw, nh = meta["width"], meta["height"]
        assert max(nw, nh) == target
        scale = target / max(w, h)
        assert nw == max(1, int(math.floor(w * scale + 0.5)))
        assert nh == max(1, int(math.floor(h * scale + 0.5)))
        srow, orow = ((3 * w + 3) // 4) * 4, ((3 * nw + 3) // 4) * 4
        spx = (np.frombuffer(src, np.uint8, count=srow * h, offset=54)
               .reshape(h, srow)[:, :3 * w].reshape(-1, 3))
        opx = (np.frombuffer(out, np.uint8, count=orow * nh, offset=54)
               .reshape(nh, orow)[:, :3 * nw].reshape(-1, 3))
        palette = {bytes(p) for p in spx}
        assert all(bytes(p) in palette for p in opx)


def test_decimal_double_conversion_envelope(spark):
    """The SCALE.md float-determinism envelope, encoded as a property
    (round-6 VERDICT task #8): decimal→double is only guaranteed exact
    while the UNSCALED value fits in 2^53; the portable conversion is
    decimal → STRING → double (exact render + correctly-rounded parse).

    Checked against Python's float(Decimal), which IS the correctly
    rounded value of the exact rational:
      1. the string route equals it at EVERY magnitude (the discipline
         rel_pricing_summary ships);
      2. inside the envelope the naive double-then-divide conversion
         equals it too (why in-envelope scale-4 sums are safe as-is);
      3. outside the envelope double-then-divide DIVERGES for some
         generated values (the 1-ULP class the sf1 sweep caught) — so
         the next scale-up can't silently cross the line.
    """
    import random
    from decimal import Decimal

    rng = random.Random(1729)
    cases = []  # (unscaled, scale)
    for scale in (2, 4, 6):
        for _ in range(200):
            bits = rng.randint(30, 70)  # straddle the 2^53 boundary
            cases.append((rng.randint(1, 1 << bits), scale))
        cases.append((2 ** 53 - 1, scale))
        cases.append((2 ** 53 + 1, scale))
    correct = [float(Decimal(u) / Decimal(10 ** s)) for u, s in cases]

    # naive double-then-divide: one extra rounding at float(u)
    diverged = 0
    for (u, s), c in zip(cases, correct):
        naive = float(u) / float(10 ** s)
        if u < 2 ** 53:
            assert naive == c, (u, s)
        elif naive != c:
            diverged += 1
    assert diverged > 0, "no out-of-envelope divergence generated"

    # the shipped string-route conversion, in-engine, one job
    df = spark.createDataFrame(
        [(i, f"{Decimal(u) / Decimal(10 ** s):f}", s)
         for i, ((u, s), _) in enumerate(zip(cases, correct))],
        "i long, dec_str string, scale int")
    got = {r["i"]: r["via_string"] for r in df.select(
        "i",
        F.col("dec_str").cast("decimal(38,6)").cast("string")
        .cast("double").alias("via_string")).collect()}
    for i, c in enumerate(correct):
        assert got[i] == c, (cases[i], got[i], c)


def test_prefix_filter_pigeonhole_is_lossless_property():
    """The PPJoin prefix bound, validated by brute force over random
    corpora (pure Python — the same arithmetic the Spark operator uses):
    for EVERY pair with Jaccard >= t (symmetric) or containment >= t
    (asymmetric, A-side), the two sets must share a token within the
    prescribed prefix of the df-ordered token list.  A counterexample
    here would mean the operators can drop qualifying pairs."""
    import itertools
    import math
    import random

    rng = random.Random(20260814)
    vocab = [f"t{i}" for i in range(40)]
    for trial in range(200):
        n_docs = rng.randint(3, 12)
        docs = [set(rng.sample(vocab, rng.randint(1, 15)))
                for _ in range(n_docs)]
        df = {t: sum(t in d for d in docs) for t in vocab}
        ordered = [sorted(d, key=lambda t: (df[t], t)) for d in docs]
        for t in (0.5, 0.7, 0.9, 0.95):
            def prefix(i):
                n = len(ordered[i])
                return set(ordered[i][: n - math.ceil(t * n) + 1])
            for a, b in itertools.combinations(range(n_docs), 2):
                inter = len(docs[a] & docs[b])
                union = len(docs[a] | docs[b])
                if union and inter / union >= t:          # symmetric
                    assert prefix(a) & prefix(b), (
                        t, ordered[a], ordered[b], "jaccard pair escaped")
            for a, b in itertools.permutations(range(n_docs), 2):
                if docs[a] and len(docs[a] & docs[b]) / len(docs[a]) >= t:
                    assert prefix(a) & docs[b], (
                        t, ordered[a], sorted(docs[b]),
                        "containment pair escaped")


def test_cjk_query_terms_literal_matches_tokenizer(spark):
    """Pins the search_bm25_cjk query-term literal to the engine
    tokenizer: if tokenize_cjk semantics drift, this fails before the
    oracle row silently scores a different term set."""
    from big_data_assignment_2_spark.functions.text import tokenize_cjk
    from big_data_assignment_2_spark.plans.text_queries import (
        _CJK_QUERY, _CJK_QUERY_TERMS)

    df = spark.createDataFrame([(_CJK_QUERY,)], "text string")
    got = df.select(tokenize_cjk("text").alias("t")).first()["t"]
    assert tuple(got) == _CJK_QUERY_TERMS
    assert _ref_tokenize_cjk(_CJK_QUERY) == list(_CJK_QUERY_TERMS)
