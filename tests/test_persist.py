"""Physical-layout tests: partition pruning on term buckets, shuffle-free
bucketed joins — asserted from the actual physical plans."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_assignment_2_spark.operators.index import build_index
from big_data_assignment_2_spark.operators.persist import (
    _py_bucket, probe_postings, read_index, write_bucketed, write_index)
from big_data_assignment_2_spark.operators.search import bm25_topk
from big_data_assignment_2_spark.sources.io import load_table


@pytest.fixture(scope="module")
def index_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index"))
    ix = build_index(load_table(spark, sf_dir, "documents"))
    write_index(ix, path, term_buckets=8)
    return path


def test_roundtrip_and_search(spark, sf_dir, index_path):
    ix = read_index(spark, index_path)
    live = build_index(load_table(spark, sf_dir, "documents"))
    q = "vector query stream fast join"
    got = bm25_topk(spark, q, ix["term_document"], ix["document_frequency"],
                    ix["documents_info"]).collect()
    want = bm25_topk(spark, q, live["term_document"],
                     live["document_frequency"], live["documents_info"]).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_term_bucket_partition_pruning(spark, index_path):
    probe = probe_postings(spark, f"{index_path}/term_document",
                           ["vector", "query"], n_buckets=8)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    got_terms = {r["term"] for r in probe.select("term").distinct().collect()}
    assert got_terms == {"vector", "query"}
    # pruning must not lose rows vs a full scan
    full = spark.read.parquet(f"{index_path}/term_document") \
        .filter(F.col("term").isin(["vector", "query"])).count()
    assert probe.count() == full


@pytest.mark.parametrize("n_buckets", [2, 4])
def test_probe_prunes_directories_and_rowgroups(spark, sf_dir,
                                                tmp_path_factory, n_buckets):
    """100×-pruning proof at two bucket counts: the probe plan must carry a
    term_bucket PartitionFilter (directory pruning) AND a pushed term
    filter, and the sorted-by-term layout must produce rowgroup min/max
    stats that actually skip non-matching rowgroups (counted from the
    parquet footers of the matching bucket directories)."""
    import glob

    import pyarrow.parquet as pq

    from big_data_assignment_2_spark.operators.persist import (
        partition_postings_by_term_bucket)

    path = str(tmp_path_factory.mktemp(f"ixrg{n_buckets}"))
    ix = build_index(load_table(spark, sf_dir, "documents"))
    partition_postings_by_term_bucket(ix["term_document"], path,
                                      n_buckets, rowgroup_bytes=4096)
    terms = ["vector", "query"]
    probe = probe_postings(spark, path, terms, n_buckets=n_buckets)
    plan = probe._jdf.queryExecution().executedPlan().toString()

    # 1. directory pruning: partition filter on term_bucket in the scan
    assert "PartitionFilters" in plan
    assert "term_bucket" in plan.split("PartitionFilters", 1)[1][:300]
    # 2. rowgroup pruning precondition: term IN-filter pushed to parquet
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "term" in pushed and "In" in pushed

    # 3. rowgroup stats skip count: within the matching bucket dirs, some
    # rowgroups must be skippable for the probe terms (sorted layout ⇒
    # disjoint min/max ranges), and at least one must match.
    want_buckets = {_py_bucket(t, n_buckets) for t in terms}
    total = matching = 0
    for dirname in glob.glob(f"{path}/term_bucket=*"):
        if int(dirname.rsplit("=", 1)[1]) not in want_buckets:
            continue
        for fname in glob.glob(f"{dirname}/*.parquet"):
            md = pq.ParquetFile(fname).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ti = names.index("term")
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(ti).statistics
                total += 1
                if any(st.min <= t <= st.max for t in terms):
                    matching += 1
    assert total >= 3, f"layout produced only {total} rowgroups"
    assert 1 <= matching < total, \
        f"no skippable rowgroups (matching={matching}, total={total})"

    # 4. pruning loses no rows vs a full scan
    full = spark.read.parquet(path) \
        .filter(F.col("term").isin(terms)).count()
    assert probe.count() == full


def test_py_bucket_matches_spark(spark, index_path):
    df = spark.read.parquet(f"{index_path}/term_document") \
        .select("term", "term_bucket").distinct()
    for r in df.collect():
        assert _py_bucket(r["term"], 8) == int(r["term_bucket"])


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_b", "o_orderkey", 8, "o_orderkey",
                   path=f"{wh}/orders_b")
    write_bucketed(lineitem, "lineitem_b", "l_orderkey", 8, "l_orderkey",
                   path=f"{wh}/lineitem_b")
    o = spark.table("orders_b")
    li = spark.table("lineitem_b")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = li.join(o, li.l_orderkey == o.o_orderkey) \
            .groupBy("o_orderstatus").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the join itself must not introduce exchanges on either side
        pre_agg = plan.split("HashAggregate")[-1]
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_reference_format_export(spark, sf_dir, tmp_path_factory):
    from big_data_assignment_2_spark.operators.persist import export_reference_format
    from big_data_assignment_2_spark.operators.index import build_index

    path = str(tmp_path_factory.mktemp("refmt"))
    ix = build_index(load_table(spark, sf_dir, "documents"))
    export_reference_format(ix, path)
    step1 = spark.read.option("sep", "\t").csv(
        f"{path}/step1", schema="term string, doc_id string, tf string, positions string")
    row = step1.filter(F.col("tf").cast("int") > 1).first()
    # F6 rendering: comma-joined ascending positions, len == tf
    assert row is not None
    parts = row["positions"].split(",")
    assert len(parts) == int(row["tf"])
    assert [int(x) for x in parts] == sorted(int(x) for x in parts)
    assert step1.count() == ix["term_document"].count()


def test_bm25_probe_persisted_matches_inflight(spark, sf_dir, index_path):
    from big_data_assignment_2_spark.operators.persist import bm25_probe_persisted
    from big_data_assignment_2_spark.operators.search import search_documents

    q = "vector query stream fast join"
    got = bm25_probe_persisted(spark, index_path, q, n_buckets=8).collect()
    want = search_documents(
        spark, load_table(spark, sf_dir, "documents"), q).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_persisted_probe_job_count(spark, index_path, job_count):
    """A persisted probe is one stats collect plus one scoring plan.  On
    a store without tombstones a single query runs in at most 3 Spark
    jobs (the collect, the per-doc sum's shuffle, the top-k) and this
    batch in at most 4; with doc lengths joined into the scoring plan
    and N/avgdl aggregated over them they were 5 and 6, and 13 and 14
    with schema inference on each read.  The declared-schema scan still
    prunes bucket directories."""
    from big_data_assignment_2_spark.operators.persist import (
        bm25_probe_persisted, bm25_probe_persisted_batch)
    from big_data_assignment_2_spark.plans.search_queries import (
        BATCH_QUERIES)

    q = "vector query stream fast join"

    def single():
        return bm25_probe_persisted(spark, index_path, q, n_buckets=8)

    def batch():
        return bm25_probe_persisted_batch(spark, index_path, BATCH_QUERIES,
                                          k=5, n_buckets=8)

    single().collect(), batch().collect()      # first-call effects
    assert job_count("probe_single", lambda: single().collect()) <= 3
    assert job_count("probe_batch", lambda: batch().collect()) <= 4

    plan = single()._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan.split("PartitionFilters", 1)[1][:300]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batch_probe_sums_and_ranks_off_one_exchange(spark, index_path,
                                                    job_count):
    """The batch probe hash-partitions its scored (query, term, doc) rows
    on query_id once: the per-(query, doc) sum and the per-query window
    both run off that one exchange, so the batch takes at most 4 Spark
    jobs: the stats collect, the term relation's broadcast, the shuffle
    and the ranking."""
    from big_data_assignment_2_spark.operators.persist import (
        bm25_probe_persisted_batch)
    from big_data_assignment_2_spark.plans.search_queries import (
        BATCH_QUERIES)

    def batch():
        return bm25_probe_persisted_batch(spark, index_path, BATCH_QUERIES,
                                          k=5, n_buckets=8)

    batch().collect()                          # first-call effects
    assert job_count("probe_batch_one_exchange",
                     lambda: batch().collect()) <= 4
    df = batch()
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final


def test_probe_after_delete_matches_inflight_over_survivors(spark, sf_dir,
                                                            tmp_path):
    """The tombstone df correction rides in the stats collect: a probe of
    a store with deleted docs equals the in-flight BM25 over the docs
    that survive."""
    from big_data_assignment_2_spark.operators.persist import (
        bm25_probe_persisted, delete_from_index)
    from big_data_assignment_2_spark.operators.search import search_documents

    docs = load_table(spark, sf_dir, "documents")
    dead = (F.col("doc_id").cast("bigint") % 5) == 1
    path = str(tmp_path / "ix")
    write_index(build_index(docs), path)
    delete_from_index(spark, path, docs.filter(dead).select("doc_id"))
    q = "vector query stream fast join"
    got = [tuple(r) for r in bm25_probe_persisted(spark, path, q).collect()]
    want = [tuple(r) for r in
            search_documents(spark, docs.filter(~dead), q).collect()]
    assert got == want and len(got) == 10


def test_tombstoned_probe_job_count(spark, sf_dir, tmp_path,
                                    job_count):
    """A probe of a store with tombstones reads the log once, with its
    declared schema and no ``distinct``, and broadcasts it into both
    steps: a single query runs in at most 5 Spark jobs and this batch in
    at most 6 (9 and 10 when each step took the log's distinct and
    joined masked doc lengths)."""
    from big_data_assignment_2_spark.operators.persist import (
        bm25_probe_persisted, bm25_probe_persisted_batch, delete_from_index)
    from big_data_assignment_2_spark.plans.search_queries import (
        BATCH_QUERIES)

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "ix")
    write_index(build_index(docs), path, term_buckets=8)
    delete_from_index(spark, path, docs.filter(
        (F.col("doc_id").cast("bigint") % 5) == 1).select("doc_id"))
    q = "vector query stream fast join"

    def single():
        return bm25_probe_persisted(spark, path, q, n_buckets=8).collect()

    def batch():
        return bm25_probe_persisted_batch(spark, path, BATCH_QUERIES, k=5,
                                          n_buckets=8).collect()

    single(), batch()                          # first-call effects
    assert job_count("tomb_single", single) <= 5
    assert job_count("tomb_batch", batch) <= 6


def test_probe_repeated_term_matches_inflight(spark, sf_dir, index_path):
    """A repeated query term counts once per occurrence (a literal weight
    in the probe, one joined row per occurrence in flight)."""
    from big_data_assignment_2_spark.operators.persist import (
        bm25_probe_persisted)
    from big_data_assignment_2_spark.operators.search import search_documents

    docs = load_table(spark, sf_dir, "documents")

    def probe(q):
        return [tuple(r) for r in
                bm25_probe_persisted(spark, index_path, q,
                                     n_buckets=8).collect()]

    q = "vector vector query"
    want = [tuple(r) for r in search_documents(spark, docs, q).collect()]
    assert probe(q) == want and want
    assert probe(q) != probe("vector query")


def test_probe_all_oov_query_returns_no_rows(spark, index_path):
    from big_data_assignment_2_spark.operators.persist import (
        bm25_probe_persisted, bm25_probe_persisted_batch)

    assert bm25_probe_persisted(spark, index_path, "zzqx qqzy",
                                n_buckets=8).collect() == []
    assert bm25_probe_persisted_batch(spark, index_path, {"a": "zzqx"},
                                      n_buckets=8).collect() == []


@pytest.mark.parametrize("layout", ["title"])
def test_probe_identical_across_store_layouts(spark, sf_dir, index_path,
                                              tmp_path, layout):
    """The declared read schemas ignore extra columns: a store whose
    documents_info carries a ``title`` column probes exactly like the
    plain store."""
    from big_data_assignment_2_spark.operators.persist import (
        bm25_probe_persisted)
    from big_data_assignment_2_spark.plans.search_queries import (
        FLAGSHIP_QUERY)

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / layout)
    titled = docs.withColumn(
        "title", F.concat(F.lit("doc "), F.col("doc_id").cast("string")))
    write_index(build_index(titled, title_col="title"), path,
                term_buckets=8)
    assert "title" in spark.read.parquet(f"{path}/documents_info").columns

    def probe(p):
        return [tuple(r) for r in bm25_probe_persisted(
            spark, p, FLAGSHIP_QUERY, n_buckets=8).collect()]

    want = probe(index_path)
    assert probe(path) == want and want


def test_bucketed_build_writes_one_file_per_bucket(spark, sf_dir, tmp_path):
    """build_index(term_buckets=N) exchanges on term_bucket alone, so
    every term_bucket=*/ directory holds exactly one parquet file."""
    import glob

    path = str(tmp_path / "ix")
    write_index(build_index(load_table(spark, sf_dir, "documents"),
                            term_buckets=16), path)
    dirs = glob.glob(f"{path}/term_document/term_bucket=*")
    assert dirs
    for d in dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d


def test_ivf_persist_prunes(spark, sf_dir, tmp_path_factory):
    from big_data_assignment_2_spark.operators.persist import (
        probe_ivf_lists, write_ivf)
    from big_data_assignment_2_spark.operators.similarity import ivf_build

    path = str(tmp_path_factory.mktemp("ivf"))
    em = load_table(spark, sf_dir, "embeddings")
    assigned, _ = ivf_build(em, n_centroids=8, seed=0)
    write_ivf(assigned, path)
    probe = probe_ivf_lists(spark, path, [0, 1])
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    full = {r["vec_id"] for r in assigned.filter("list_id IN (0, 1)").collect()}
    assert {r["vec_id"] for r in probe.collect()} == full


def test_append_to_index_equals_full_build(spark, sf_dir, tmp_path_factory):
    """Incremental index maintenance (r11): building on part of the
    corpus then appending the rest IN TWO BATCHES must probe identically
    to a fresh full-corpus build — postings partition-append, df-log
    summation, and stats append reconstruct the exact index state."""
    from pyspark.sql import functions as F

    from big_data_assignment_2_spark.operators.index import build_index
    from big_data_assignment_2_spark.operators.persist import (
        append_to_index, bm25_probe_persisted, write_index)

    docs = load_table(spark, sf_dir, "documents")
    nid = F.col("doc_id").cast("bigint")
    inc = str(tmp_path_factory.mktemp("ix_inc"))
    full = str(tmp_path_factory.mktemp("ix_full"))
    write_index(build_index(docs.filter((nid % 3) == 0)), inc)
    append_to_index(docs.filter((nid % 3) == 1), inc)
    append_to_index(docs.filter((nid % 3) == 2), inc)
    write_index(build_index(docs), full)
    q = "vector query stream fast join"
    got = [tuple(r) for r in bm25_probe_persisted(spark, inc, q).collect()]
    want = [tuple(r) for r in bm25_probe_persisted(spark, full, q).collect()]
    assert got == want and len(got) == 10
    # the df log really is per-batch: more rows than distinct terms,
    # and the probe's sum reconstructs the full-build df per term
    df_log = spark.read.parquet(f"{inc}/document_frequency")
    assert df_log.count() > df_log.select("term").distinct().count()
    summed = {r["term"]: r["s"] for r in df_log.groupBy("term")
              .agg(F.sum("df").alias("s")).collect()}
    fresh = {r["term"]: r["df"] for r in spark.read
             .parquet(f"{full}/document_frequency").collect()}
    assert summed == fresh


def test_append_preserves_positions(spark, sf_dir, tmp_path_factory):
    """Appending a batch writes the same positions a full build does: the
    grown store's (term, doc_id, positions) rows equal a fresh full
    build's, so positional consumers over an appended store are exact."""
    from pyspark.sql import functions as F

    from big_data_assignment_2_spark.operators.index import build_index
    from big_data_assignment_2_spark.operators.persist import (
        append_to_index, read_index, write_index)

    docs = load_table(spark, sf_dir, "documents")
    nid = F.col("doc_id").cast("bigint")
    inc = str(tmp_path_factory.mktemp("ixp_inc"))
    full = str(tmp_path_factory.mktemp("ixp_full"))
    write_index(build_index(docs.filter((nid % 2) == 0)), inc)
    append_to_index(docs.filter((nid % 2) == 1), inc)
    write_index(build_index(docs), full)
    a = sorted(((r["term"], r["doc_id"], list(r["positions"]))
                for r in read_index(spark, inc)["term_document"].collect()))
    b = sorted(((r["term"], r["doc_id"], list(r["positions"]))
                for r in read_index(spark, full)["term_document"].collect()))
    assert a == b and a


def test_sq8_persisted_probe_equals_inflight_and_shrinks(spark, sf_dir,
                                                         tmp_path_factory):
    """Persisted SQ8 tier (r15): the int8 store probe must equal the
    in-flight sq8_topk BIT-FOR-BIT (codes are whole doubles <= 127 —
    tinyint cast and read-back multiply are both exact), and the store
    must be materially smaller than the float64 parquet."""
    from big_data_assignment_2_spark.operators.persist import (
        sq8_probe_persisted, write_sq8)
    from big_data_assignment_2_spark.operators.similarity import sq8_topk

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 5) \
        .selectExpr("vec_id AS query_id", "embedding")
    path = str(tmp_path_factory.mktemp("sq8")) + "/store"
    write_sq8(em, path)
    a = sorted(map(tuple, sq8_topk(em, q, k=10).collect()))
    b = sorted(map(tuple, sq8_probe_persisted(spark, path, q,
                                              k=10).collect()))
    assert a == b and a

    def du(p):
        if os.path.isdir(p):
            return sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(p) for f in fs)
        return os.path.getsize(p)
    raw = du(os.path.join(sf_dir, "embeddings.parquet"))
    assert du(path) < raw / 2, (du(path), raw)


def test_sq8_append_equals_fresh_full_store(spark, sf_dir,
                                            tmp_path_factory):
    """sq8_append (r15): per-vector scales mean no trained state, so
    base-write + append must probe identically to a fresh full-corpus
    store — bit-for-bit."""
    from big_data_assignment_2_spark.operators.persist import (
        sq8_append, sq8_probe_persisted, write_sq8)

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 5) \
        .selectExpr("vec_id AS query_id", "embedding")
    nid = F.col("vec_id").cast("bigint")
    d = str(tmp_path_factory.mktemp("sq8app"))
    grown, fresh = d + "/grown", d + "/fresh"
    write_sq8(em.filter((nid % 10) != 9), grown)
    sq8_append(em.filter((nid % 10) == 9), grown)
    write_sq8(em, fresh)
    a = sorted(map(tuple, sq8_probe_persisted(spark, grown, q,
                                              k=10).collect()))
    b = sorted(map(tuple, sq8_probe_persisted(spark, fresh, q,
                                              k=10).collect()))
    assert a == b and a


def test_sq8_delete_masks_and_compact_equals_filtered_fresh(
        spark, sf_dir, tmp_path_factory):
    """SQ8 lifecycle (r16, VERDICT r15 #4): tombstoned ids must vanish
    from probe results immediately (masked scan, before compaction);
    compaction must leave a store that is RESULT-identical to the
    masked probe AND bit-identical on disk semantics to a fresh
    survivors-only write (per-vector scales are row-independent, so
    dropping rows cannot perturb survivors); the tombstone log must be
    gone afterwards so later probes pay no anti-join."""
    from big_data_assignment_2_spark.operators.persist import (
        sq8_compact, sq8_delete, sq8_probe_persisted, write_sq8)

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 5) \
        .selectExpr("vec_id AS query_id", "embedding")
    nid = F.col("vec_id").cast("bigint")
    d = str(tmp_path_factory.mktemp("sq8del"))
    live_path, fresh_path = d + "/live", d + "/fresh"
    write_sq8(em, live_path)
    dead = em.filter((nid % 7) == 2).select("vec_id")
    dead_ids = {r[0] for r in dead.collect()}
    assert dead_ids
    sq8_delete(spark, live_path, dead)

    masked = sq8_probe_persisted(spark, live_path, q, k=10).collect()
    assert masked
    assert not {r["neighbor_id"] for r in masked} & {str(i) for i in
                                                     dead_ids} \
        and not {r["neighbor_id"] for r in masked} & dead_ids

    sq8_compact(spark, live_path)
    assert not os.path.exists(live_path + "/tombstones")
    compacted = sq8_probe_persisted(spark, live_path, q, k=10).collect()
    assert sorted(map(tuple, compacted)) == sorted(map(tuple, masked))

    write_sq8(em.filter((nid % 7) != 2), fresh_path)
    fresh = sq8_probe_persisted(spark, fresh_path, q, k=10).collect()
    assert sorted(map(tuple, compacted)) == sorted(map(tuple, fresh))
    # physical removal, not just masking: the survivors' code rows only
    n_live = spark.read.parquet(live_path + "/codes").count()
    n_fresh = spark.read.parquet(fresh_path + "/codes").count()
    assert n_live == n_fresh

    # compact with no tombstone log is a no-op, not an error
    sq8_compact(spark, fresh_path)
    assert sorted(map(tuple,
                      sq8_probe_persisted(spark, fresh_path, q,
                                          k=10).collect())) \
        == sorted(map(tuple, fresh))
