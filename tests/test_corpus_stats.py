"""The persisted store's ``corpus_stats`` log and the postings' stored
``length``: the probe's driver-side N and avgdl equal Spark's
count/avg over the live documents bit for bit through the whole store
lifecycle, the logical view (``read_index``) hides the stored length,
and a store without ``corpus_stats`` fails fast."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from big_data_assignment_2_spark.operators.index import build_index
from big_data_assignment_2_spark.operators.persist import (
    _bm25_probe_relations, append_to_index, bm25_probe_persisted,
    bm25_probe_persisted_batch, compact_index, delete_from_index, read_index,
    write_index)
from big_data_assignment_2_spark.sources.io import load_table

EMPTY_IDS = [9_000_001, 9_000_002, 9_000_003]


@pytest.fixture()
def docs(spark, sf_dir):
    """The sf documents plus three docs with no token (length 0)."""
    empty = spark.createDataFrame(
        list(zip(EMPTY_IDS, ["", "  ", "!!! ..."])),
        "doc_id bigint, text string")
    return load_table(spark, sf_dir, "documents") \
        .select(F.col("doc_id").cast("bigint"), "text").unionByName(empty)


def _assert_stats_match_spark(spark, path):
    """The probe's (N, avgdl) == Spark's count/avg(length) over the
    documents_info rows that are not tombstoned."""
    _, n, avgdl, _ = _bm25_probe_relations(spark, path, ["vector"])
    live = spark.read.parquet(f"{path}/documents_info")
    if os.path.exists(f"{path}/tombstones"):
        live = live.join(spark.read.parquet(f"{path}/tombstones")
                         .toDF("doc_id"), "doc_id", "left_anti")
    want = live.agg(F.count("*").alias("n"),
                    F.avg("length").alias("avgdl")).first()
    assert n == want["n"] and n > 0
    assert avgdl == want["avgdl"], (avgdl, want["avgdl"])
    return n


def test_driver_avgdl_equals_spark_avg_through_lifecycle(spark, docs,
                                                         tmp_path):
    nid = F.col("doc_id")
    path = str(tmp_path / "ix")
    write_index(build_index(docs.filter(nid % 3 != 0)), path)
    _assert_stats_match_spark(spark, path)
    append_to_index(docs.filter(nid % 3 == 0), path)
    assert spark.read.parquet(f"{path}/corpus_stats").count() == 2
    n_all = _assert_stats_match_spark(spark, path)
    assert n_all == docs.count()
    dead = (nid % 5 == 1) | nid.isin(EMPTY_IDS[:2])
    delete_from_index(spark, path, docs.filter(dead).select("doc_id"))
    # a repeated delete must not subtract twice
    delete_from_index(spark, path, [EMPTY_IDS[0]])
    n_live = _assert_stats_match_spark(spark, path)
    assert n_live == docs.filter(~dead).count()
    compact_index(spark, path)
    assert _assert_stats_match_spark(spark, path) == n_live


def test_compact_collapses_corpus_stats_to_one_survivors_row(spark, docs,
                                                             tmp_path):
    nid = F.col("doc_id")
    path = str(tmp_path / "ix")
    write_index(build_index(docs.filter(nid % 2 == 0)), path)
    append_to_index(docs.filter(nid % 2 == 1), path)
    delete_from_index(spark, path, docs.filter(nid % 3 == 1)
                      .select("doc_id"))
    compact_index(spark, path)
    rows = [tuple(r) for r in
            spark.read.parquet(f"{path}/corpus_stats").collect()]
    survivors = build_index(docs.filter(nid % 3 != 1))["documents_info"]
    want = survivors.agg(F.count("*"), F.sum("length")).first()
    assert rows == [(want[0], want[1])]


def test_read_index_schemas_equal_build_index(spark, docs, tmp_path):
    def fields(df):                   # names and types, nullability aside
        return {f.name: f.dataType.simpleString() for f in df.schema.fields}

    path = str(tmp_path / "ix")
    built = build_index(docs)
    write_index(built, path)
    back = read_index(spark, path)
    assert set(back) == set(built)
    for rel, df in built.items():
        got = fields(back[rel])
        if rel == "term_document":
            # the store's directory layout adds its partition column
            got.pop("term_bucket")
        assert got == fields(df), rel
    assert "length" not in back["term_document"].columns
    assert "length" in spark.read.parquet(f"{path}/term_document").columns


def test_store_without_corpus_stats_fails_fast(spark, docs, tmp_path):
    """A store written before postings carried ``length`` has no
    corpus_stats: probing, appending to or compacting it raises instead
    of scoring with NULL lengths."""
    nid = F.col("doc_id")
    path = str(tmp_path / "ix")
    write_index(build_index(docs.filter(nid % 2 == 0)), path)
    shutil.rmtree(f"{path}/corpus_stats")
    delete_from_index(spark, path, [2])
    calls = [
        lambda: bm25_probe_persisted(spark, path, "vector query"),
        lambda: bm25_probe_persisted_batch(spark, path, {"a": "vector"}),
        lambda: append_to_index(docs.filter(nid % 2 == 1), path),
        lambda: compact_index(spark, path),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="Rewrite this store"):
            call()
    assert not os.path.exists(f"{path}/corpus_stats")
