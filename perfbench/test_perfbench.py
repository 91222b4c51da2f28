"""Tests of the benchmark's own code; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import collections
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
from tracing import Span, Tracer, self_times, union_length  # noqa: E402


def _write_inputs(tmp_path, seed: int) -> tuple[str, str]:
    vocab = gen.vocabulary()
    docs = tmp_path / f"documents-{seed}.parquet"
    vecs = tmp_path / f"embeddings-{seed}.parquet"
    gen.write_parquet(gen.documents_table(gen.make_documents(seed, 300), vocab),
                      str(docs))
    gen.write_parquet(gen.embeddings_table(gen.make_embeddings(seed, 300)),
                      str(vecs))
    return gen.file_sha256(str(docs)), gen.file_sha256(str(vecs))


def test_same_seed_gives_byte_identical_parquet(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert _write_inputs(tmp_path / "a", 7) == _write_inputs(tmp_path / "b", 7)


def test_other_seed_gives_other_inputs(tmp_path):
    assert _write_inputs(tmp_path, 7) != _write_inputs(tmp_path, 8)


def test_corpus_shape():
    c = gen.make_documents(3, 1000)
    assert len(c.doc_ids) == len(set(c.doc_ids.tolist())) == 1000
    lens = sorted(len(t) for t in c.tokens)
    assert 100 <= lens[len(lens) // 2] <= 200      # median near 150
    assert len(c.pairs) == 50                        # 5% injected copies
    # Zipf: the most frequent term is far more common than the 100th
    counts = sorted(collections.Counter(
        itertools.chain.from_iterable(t.tolist() for t in c.tokens)).values(),
        reverse=True)
    assert counts[0] > 20 * counts[99]


def test_vocabulary_words_are_distinct_and_tokenize_as_one_token():
    v = gen.vocabulary(20_000)
    assert len(set(v.tolist())) == 20_000
    assert all(w.isalpha() and w.islower() for w in v[:1000])


def _span(sid, parent, start, end, name="operators.search"):
    return Span(name, sid, parent, 1, start, end)


def test_self_time_on_hand_built_tree():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping) and [8, 9];
    # child 2 has its own child [2, 3].
    spans = [
        _span(1, None, 0.0, 10.0, "op.query"),
        _span(2, 1, 1.0, 4.0, "operators.persist"),
        _span(3, 1, 3.0, 6.0),
        _span(4, 1, 8.0, 9.0),
        _span(5, 2, 2.0, 3.0, "sources.io"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)   # covered: [1,6] + [8,9]
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)
    # self times add up to the root's duration, plus the stretch [3, 4]
    # where two sibling spans overlap and both count it
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.op("query"), t.layer("operators.search"):
        pass
    assert t.spans == []


def test_tracer_layer_metrics_without_spark():
    t = Tracer(enabled=True)
    with t.op("query"):
        with t.layer("operators.persist"):
            pass
        with t.layer("operators.search"):
            pass
    m = t.layer_metrics()
    assert m["operators.persist.wall_s"] >= 0
    assert 0.0 <= m["trace.layer_self_share"] <= 1.0
    with pytest.raises(ValueError):
        with t.layer("operators.nope"):
            pass


def test_recall_on_tiny_seed_matches_brute_force():
    c = gen.make_documents(5, 200, dup_share=0.1)
    truth = {(a, b) for a, b, j in c.pairs if j >= 0.9}
    assert len(truth) >= 15
    sets = {int(i): set(t.tolist()) for i, t in zip(c.doc_ids, c.tokens)}
    found = {(a, b) for a, b in itertools.combinations(sorted(sets), 2)
             if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.9}
    assert oracle.pair_recall(found, truth) == 1.0
    dropped = set(list(truth)[1:])
    assert oracle.pair_recall(dropped, truth) == pytest.approx(
        (len(truth) - 1) / len(truth))
    rows = [(a, b, round(gen.jaccard(c.tokens[list(c.doc_ids).index(a)],
                                      c.tokens[list(c.doc_ids).index(b)]), 6))
            for a, b in sorted(truth)]
    tokens_by_id = dict(zip(c.doc_ids.tolist(), c.tokens))
    assert oracle.check_text_pairs(rows, tokens_by_id, 0.9) == 0
    a, b, j = rows[0]
    assert oracle.check_text_pairs([(a, b, j - 0.01)], tokens_by_id, 0.9) == 1


def test_vector_recall_on_tiny_seed():
    v = gen.make_embeddings(5, 400)
    assert all(c > 0.999 for _, _, c in v.pairs)
    vec_by_id = dict(zip(v.vec_ids.tolist(), v.matrix))
    rows = [(a, b, round(c, 6)) for a, b, c in v.pairs]
    assert oracle.check_vector_pairs(rows, vec_by_id, 0.95) == 0
    assert oracle.pair_recall({(a, b) for a, b, _ in rows},
                              {(a, b) for a, b, _ in v.pairs}) == 1.0


def test_bm25_oracle_ranks_and_ties(tmp_path):
    import pyarrow as pa
    p = str(tmp_path / "documents.parquet")
    gen.write_parquet(pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": ["apple apple banana", "banana cherry", "apple cherry date"]}),
        p)
    (top,) = oracle.bm25_topk([p], ["apple"])
    assert [d for d, _ in top] == ["1", "3"]
    assert top[0][1] > top[1][1] > 0
    assert oracle.same_topk([("3", 1.0), ("1", 1.0)], [("1", 1.0), ("3", 1.0)])
    assert not oracle.same_topk([("2", 1.0)], [("1", 1.0)])
