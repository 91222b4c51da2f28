"""BM25 index tombstone deletes (r12): delete-then-probe must equal a
rebuild without the deleted docs (postings/stats masking + per-term df
subtraction), appends and deletes must compose, and compaction must
physically remove every deleted row while preserving probe results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_assignment_2_spark.operators.index import build_index
from big_data_assignment_2_spark.operators.persist import (
    append_to_index, bm25_probe_persisted, compact_index, delete_from_index,
    write_index)
from big_data_assignment_2_spark.sources.io import load_table

QUERY = "vector query stream fast join"


@pytest.fixture()
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _probe(spark, path):
    return [tuple(r) for r in bm25_probe_persisted(spark, path, QUERY,
                                                   k=10).collect()]


def test_delete_probe_equals_rebuild_without_docs(spark, docs, tmp_path):
    nid = F.col("doc_id").cast("bigint")
    full, small = str(tmp_path / "full"), str(tmp_path / "small")
    write_index(build_index(docs), full)
    delete_from_index(spark, full,
                      docs.filter(nid % 3 == 1).select("doc_id"))
    write_index(build_index(docs.filter(nid % 3 != 1)), small)
    assert _probe(spark, full) == _probe(spark, small)


def test_compaction_physically_removes_and_preserves_probe(spark, docs,
                                                           tmp_path):
    nid = F.col("doc_id").cast("bigint")
    path = str(tmp_path / "ix")
    write_index(build_index(docs), path)
    deleted = docs.filter(nid % 3 == 1).select(
        F.col("doc_id").cast("string").alias("doc_id"))
    delete_from_index(spark, path, deleted)
    before = _probe(spark, path)
    compact_index(spark, path)
    assert _probe(spark, path) == before
    # no byte of a deleted doc remains in any relation
    del_ids = {r[0] for r in deleted.collect()}
    td = spark.read.parquet(f"{path}/term_document")
    assert td.filter(F.col("doc_id").isin(del_ids)).count() == 0
    st = spark.read.parquet(f"{path}/documents_info")
    assert st.filter(F.col("doc_id").isin(del_ids)).count() == 0
    # tombstone log dropped; second compaction is a no-op
    import os
    assert not os.path.exists(f"{path}/tombstones")
    compact_index(spark, path)
    assert _probe(spark, path) == before
    # compacted df == rebuilt df (per-term exact, zero-df terms dropped)
    want = {(r["term"], r["df"]) for r in build_index(
        docs.filter(nid % 3 != 1))["document_frequency"].collect()}
    got = {(r["term"], r["df"]) for r in
           spark.read.parquet(f"{path}/document_frequency").collect()}
    assert got == want


def test_delete_composes_with_append(spark, docs, tmp_path):
    """Lifecycle: build on 1/2, append 1/4, delete some of BOTH halves —
    probe must equal the index of (all docs minus deleted)."""
    nid = F.col("doc_id").cast("bigint")
    path, want_path = str(tmp_path / "ix"), str(tmp_path / "want")
    write_index(build_index(docs.filter(nid % 4 != 0)), path)
    append_to_index(docs.filter(nid % 4 == 0), path)
    delete_from_index(spark, path,
                      docs.filter(nid % 5 == 2).select("doc_id"))
    write_index(build_index(docs.filter(nid % 5 != 2)), want_path)
    assert _probe(spark, path) == _probe(spark, want_path)


def test_delete_everything_with_a_term_drops_it(spark, tmp_path):
    """df reaching zero must drop the term (P7 zero-df skip), not leave
    a phantom row: delete the ONLY docs containing a term and probe."""
    path = str(tmp_path / "ix")
    docs = spark.createDataFrame(
        [(1, "unicorn gamma"), (2, "unicorn delta"), (3, "vector beta")],
        "doc_id bigint, text string")
    write_index(build_index(docs), path)
    delete_from_index(spark, path, [1, 2])
    got = bm25_probe_persisted(spark, path, "unicorn vector", k=10).collect()
    assert [r["doc_id"] for r in got] == ["3"]
    compact_index(spark, path)
    dfreq = {r["term"] for r in
             spark.read.parquet(f"{path}/document_frequency").collect()}
    assert "unicorn" not in dfreq and "vector" in dfreq


def test_compact_then_append_then_delete_probe(spark, docs, tmp_path):
    """Compact∘append∘probe composition (r13, VERDICT r12 #5): the
    compaction rewrite COLLAPSES the df append-log to one row per term —
    a subsequent append must reintroduce multi-row terms and the
    probe-time SUM must still reconstruct the union df, including a
    fresh delete of one of the appended docs."""
    nid = F.col("doc_id").cast("bigint")
    path, want_path = str(tmp_path / "ix"), str(tmp_path / "want")
    built = docs.filter(nid % 4 != 0)
    write_index(build_index(built), path)
    delete_from_index(spark, path,
                      built.filter(nid % 5 == 2).select("doc_id"))
    compact_index(spark, path)
    # append into the REWRITTEN layout: the collapsed df log grows
    # per-batch rows again
    append_to_index(docs.filter(nid % 4 == 0), path)
    dfreq = spark.read.parquet(f"{path}/document_frequency")
    multi = (dfreq.groupBy("term").count()
             .filter(F.col("count") > 1).count())
    assert multi > 0, "append after compaction must add per-batch df rows"
    # delete one of the APPENDED docs — masking must subtract from the
    # summed (collapsed + appended) df
    delete_from_index(
        spark, path,
        docs.filter((nid % 4 == 0) & (nid % 7 == 1)).select("doc_id"))
    keep = ((nid % 4 != 0) & (nid % 5 != 2)) | \
           ((nid % 4 == 0) & (nid % 7 != 1))
    write_index(build_index(docs.filter(keep)), want_path)
    assert _probe(spark, path) == _probe(spark, want_path)


def test_batch_probe_equals_sequential_probes(spark, docs, tmp_path):
    """bm25_probe_persisted_batch (r13, VERDICT r12 #4) must return, per
    query_id, exactly what Q sequential single probes return — in a full
    lifecycle state (append + tombstones live), so the shared read side
    (union-term scan, df-log sum, df subtraction) is exercised at batch
    grain."""
    from big_data_assignment_2_spark.operators.persist import (
        bm25_probe_persisted_batch)

    nid = F.col("doc_id").cast("bigint")
    path = str(tmp_path / "ix")
    write_index(build_index(docs.filter(nid % 4 != 0)), path)
    append_to_index(docs.filter(nid % 4 == 0), path)
    delete_from_index(spark, path,
                      docs.filter(nid % 5 == 2).select("doc_id"))
    queries = {"qa": "vector query stream",
               "qb": "join merge hash",
               "qc": "table column row data"}
    got = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
           for r in bm25_probe_persisted_batch(spark, path, queries,
                                               k=5).collect()}
    want = {}
    for qid, q in queries.items():
        rows = bm25_probe_persisted(spark, path, q, k=5).collect()
        for i, r in enumerate(rows, start=1):
            want[(qid, i)] = (r["doc_id"], r["score"])
    assert got == want


def test_hadoop_delete_fail_loud_and_noop(spark, tmp_path):
    """hadoop_delete mirrors hadoop_rename's contract (r14 advice): a
    failed delete of an EXISTING path raises; deleting an already-absent
    path stays the intended no-op."""
    from big_data_assignment_2_spark.operators import lifecycle as lc

    target = tmp_path / "victim"
    target.mkdir()
    (target / "part").write_text("x")
    lc.hadoop_delete(spark, str(target))
    assert not target.exists()
    # absent path: no-op, no raise
    lc.hadoop_delete(spark, str(target))

    class FakeFS:
        def delete(self, p, rec):
            return False

        def exists(self, p):
            return True

    import pytest as _pytest
    real = lc.hadoop_fs
    try:
        lc.hadoop_fs = lambda s, p: (FakeFS(), p)
        with _pytest.raises(IOError, match="delete failed"):
            lc.hadoop_delete(spark, "/anything")
    finally:
        lc.hadoop_fs = real


def test_delete_compact_preserves_positions(spark, docs, tmp_path):
    """Tombstone + compact rewrites postings rows without touching their
    positions: the compacted store's (term, doc_id, positions) rows equal
    a fresh build over the survivors."""
    from big_data_assignment_2_spark.operators.persist import read_index

    nid = F.col("doc_id").cast("bigint")
    path, fresh = str(tmp_path / "ix"), str(tmp_path / "fresh")
    write_index(build_index(docs), path)
    delete_from_index(spark, path,
                      docs.filter(nid % 3 == 1).select("doc_id"))
    before = _probe(spark, path)
    compact_index(spark, path)
    assert _probe(spark, path) == before
    write_index(build_index(docs.filter(nid % 3 != 1)), fresh)
    a = sorted(((r["term"], r["doc_id"], list(r["positions"]))
                for r in read_index(spark, path)["term_document"].collect()))
    b = sorted(((r["term"], r["doc_id"], list(r["positions"]))
                for r in read_index(spark, fresh)["term_document"].collect()))
    assert a == b and a
