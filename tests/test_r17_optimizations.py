"""Round-17 optimization pins: every rewrite that changed an operator's
internals must stay RESULT-IDENTICAL to the shape it replaced."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# --- tokenize: single regexp_extract_all pass ≡ strip/split/filter ------

EDGE_TEXTS = [
    ("1", "  héllo, wörld!—ça_va 123 "),
    ("2", ""),
    ("3", "...!?"),
    ("4", "a\tb\nc"),
    ("5", "日本語テスト text"),
    ("6", "x" * 7),
    ("7", None),
    ("8", "trailing space "),
    ("9", "_under_score_"),
]


def _tokenize_reference(c):
    """The pre-r17 three-pass form (strip → split → filter-empties)."""
    toks = F.split(
        F.regexp_replace(F.lower(c), r"(?U)[^\w\s]", " "), r"\s+")
    return F.filter(toks, lambda t: t != F.lit(""))


def test_tokenize_single_pass_equals_reference(spark, sf_dir):
    from big_data_assignment_2_spark.functions.text import tokenize

    d = spark.createDataFrame(EDGE_TEXTS, "doc_id string, text string")
    rows = d.select(
        tokenize("text").alias("new"),
        _tokenize_reference(F.col("text")).alias("old")).collect()
    for r in rows:
        assert r["new"] == r["old"]

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    diff = (docs.select(tokenize("text").alias("a"),
                        _tokenize_reference(F.col("text")).alias("b"))
            .filter(F.col("a") != F.col("b")).count())
    assert diff == 0


def test_tokenize_unicode_whitespace(spark):
    """r18 advice: the single-pass and three-pass forms DIVERGE on
    Unicode-only whitespace (Java split's \\s is ASCII; the old form kept
    'a\\u00A0b' as one NBSP-containing token).  The contract is the
    SPLIT behavior — Python's str.split() (the reference tokenizer's
    final step, mapper1.py) splits on Unicode whitespace — pinned here
    explicitly so the divergence from the old form is a decided fix,
    not an accident."""
    from big_data_assignment_2_spark.functions.text import tokenize

    cases = [
        ("nbsp", "a\u00a0b", ["a", "b"]),
        ("enspace", "x\u2002y", ["x", "y"]),
        ("ideographic", "p\u3000q", ["p", "q"]),
        ("mixed", "a\u00a0b\u2009c", ["a", "b", "c"]),
    ]
    d = spark.createDataFrame([(n, t) for n, t, _ in cases],
                              "name string, text string")
    got = {r["name"]: r["toks"]
           for r in d.select("name", tokenize("text").alias("toks"))
           .collect()}
    for n, t, want in cases:
        assert got[n] == want, (n, got[n], want)
        # and the reference semantics: Python Unicode str.split()
        assert t.lower().split() == want


# --- pq_codebooks: threaded + shared-init ≡ sequential Lloyd ------------

def test_pq_codebooks_match_sequential_lloyd(spark, sf_dir):
    from big_data_assignment_2_spark.operators.similarity import (
        _lloyd_centroids, as_double, pq_codebooks)

    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    v = em.select(F.col("vec_id").alias("id"),
                  as_double("embedding").alias("v")).persist()
    v.count()
    m, ks, iters, dim = 4, 4, 1, 64
    sub = dim // m
    sequential = [
        _lloyd_centroids(
            v.select("id", F.slice("v", s * sub + 1, sub).alias("v")),
            ks, iters, sub)
        for s in range(m)
    ]
    threaded = pq_codebooks(v, m, ks, iters, dim)
    v.unpersist()
    assert threaded == sequential


# --- inline_rows ≡ createDataFrame ---------------------------------------

def _bits(v):
    """A value with every double spelled as its 8 bytes, so -0.0 and
    0.0 differ and NaN equals NaN."""
    import struct

    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


def test_inline_rows_matches_createdataframe(spark):
    from big_data_assignment_2_spark.functions.localrel import inline_rows

    rows = [("a", 1, [1.0, 2.0]), ("b", None, [3.0])]
    schema = "name string, n int, xs array<double>"
    a = inline_rows(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.columns == b.columns
    assert [f.dataType for f in a.schema.fields] == \
        [f.dataType for f in b.schema.fields]
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # empty input keeps the declared schema
    e = inline_rows(spark, [], schema)
    assert e.columns == b.columns and e.count() == 0

    # edge values, compared bit for bit: quoting/escapes and non-ASCII
    # in strings, NULLs, the bigint extremes, a FLOAT field, and the
    # doubles a decimal text form could lose
    rows = [("it's \"q\" \\ a\nb ü€😀", 2**63 - 1, 1.1,
             [-0.0, 5e-324, float("nan"), float("inf"), float("-inf")]),
            (None, -(2**63 - 1), None, None),
            ("", None, 3.4028235e38, [])]
    schema = "s string, n bigint, f float, xs array<double>"
    a = inline_rows(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert [_bits(r) for r in a.collect()] == [_bits(r) for r in b.collect()]


def _py4j_commands(monkeypatch, build) -> int:
    """The py4j commands the driver sends while running ``build()``."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        sent[0] += 1
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        build()
    return sent[0]


def test_inline_rows_build_cost_is_constant(spark, monkeypatch):
    """The whole row set crosses py4j as one literal: building a
    2,000-row relation costs the same handful of py4j commands as a
    2-row one (a literal built value by value costs ~44 per value)."""
    from big_data_assignment_2_spark.functions.localrel import inline_rows

    def build(n):
        return _py4j_commands(monkeypatch, lambda: inline_rows(
            spark, [(f"q{i}", i) for i in range(n)], "term string, n bigint"))

    build(2)                                   # first-call effects
    assert abs(build(2_000) - build(2)) <= 10
    assert inline_rows(spark, [(f"q{i}", i) for i in range(2_000)],
                       "term string, n bigint").count() == 2_000


def test_json_literals_fold_out_of_the_plan(spark):
    """A per-row use of a JSON literal (the BM25 term map, a centroid
    matrix) folds to a plain literal: the optimized plan has no parse
    left to run per row.  A value that does not fit its declared type
    fails instead of becoming NULL; one JSON cannot encode fails at
    build time."""
    from big_data_assignment_2_spark.functions.localrel import json_literal
    from big_data_assignment_2_spark.operators.search import _term_lookup
    from big_data_assignment_2_spark.operators.similarity import (
        _nearest_centroid_expr)

    terms = spark.createDataFrame([("a",), ("b",), ("z",)], "term string")
    looked = terms.select(_term_lookup({"b": 2, "a": 7}).alias("df"))
    vecs = spark.createDataFrame([([0.0, 1.0],), ([5.0, 5.0],)],
                                 "v array<double>")
    nearest = vecs.select(_nearest_centroid_expr(
        F.col("v"), [[0.0, 0.9], [4.0, 6.0], [-0.0, 1e300]]).alias("c"))
    for df in (looked, nearest):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "from_json" not in plan and "JsonToStructs" not in plan, plan
    assert [r["df"] for r in looked.collect()] == [7, 2, None]
    assert [r["c"] for r in nearest.collect()] == [0, 1]

    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        terms.select(json_literal({"a": "x"}, "map<string,bigint>")
                     ["a"]).collect()
    with pytest.raises(TypeError):
        json_literal({"a": {1, 2}}, "map<string,array<bigint>>")


# --- build_query_index ≡ build_index restricted to the terms ------------

def test_query_scoped_index_equals_filtered_full_index(spark, sf_dir):
    from big_data_assignment_2_spark.operators.index import (
        build_index, build_query_index)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = ["data", "query", "vector", "zzz_not_in_corpus"]
    full = build_index(docs)
    scoped = build_query_index(docs, terms)

    t_full = sorted(map(tuple, full["term_document"]
                        .filter(F.col("term").isin(terms))
                        .select("term", "doc_id", "tf").collect()))
    t_scoped = sorted(map(tuple, scoped["term_document"]
                          .select("term", "doc_id", "tf").collect()))
    assert t_scoped == t_full

    df_full = sorted(map(tuple, full["document_frequency"]
                         .filter(F.col("term").isin(terms)).collect()))
    df_scoped = sorted(map(tuple,
                           scoped["document_frequency"].collect()))
    assert df_scoped == df_full

    # corpus stats stay corpus-wide
    assert scoped["documents_info"].count() == docs.count()


# --- multimodal spread: partitioning changes, results don't -------------

def test_spread_for_python_is_multiset_identical(spark, sf_dir):
    from big_data_assignment_2_spark.operators.multimodal import (
        _spread_for_python, decode_media_png, generate_media_png)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    spread = _spread_for_python(docs.select("doc_id"))
    assert spread.rdd.getNumPartitions() >= \
        min(spark.sparkContext.defaultParallelism,
            docs.select("doc_id").rdd.getNumPartitions())
    out = decode_media_png(generate_media_png(docs))
    rows = sorted(map(tuple, out.collect()))
    assert len(rows) == 40 and len({r[0] for r in rows}) == 40
