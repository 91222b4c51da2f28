"""Seeded benchmark of the BM25 search engine and its dedup operators.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
(``gen.py``); the program under test only reads the generated parquet.
Every operation's output is checked (``oracle.py``); a wrong output counts
as a failed operation.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics.  The line
before it holds the run's details and provenance, which are also written
to ``.perfbench_results/`` in the checkout.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
from tracing import (RssSampler, Tracer, layer_unit,  # noqa: E402
                     per_layer_metric_names, tree_cpu_s)

E2E_UNITS = {"request_cpu_ms": "ms", "items_per_cpu_s": "1/s", "setup_s": "s"}
SHUFFLE_PARTITIONS = 8

# CPU seconds the reference loop takes on a quiet 4-vCPU x86 VM; CPU times
# are reported as if the host had run at that speed (``ReferenceLoop``).
REFERENCE_LOOP_S = 0.08

# Loop steps run before measuring, so that the measured steps find the JIT
# compiler mostly done, and the least number measured (``closed_loop``);
# the measured steps take longer than ``--seconds`` on 4 vCPUs, so every run
# measures the same work.
WARM_STEPS = {"search": 2, "dedup": 1}
MIN_STEPS = {"search": 3, "dedup": 2}
JIT_SETTLE_POLL_S = 0.5
JIT_IDLE_SHARE = 0.1
JIT_SETTLE_MAX_S = 10

# search: one persisted index over a Zipf corpus, read by single queries
# and by batches of queries.
SEARCH_DOCS = 2000
SEARCH_BUILDS = 2           # timed full builds, after one warm-up build
WARM_BUILD_DOCS = 200
QUERY_LOG = 160
BATCH = 16
QUERIES_PER_BATCH = 2       # single queries sent between two batches
TRACE_ROUNDS = 3            # traced run: rounds of the query mix, 1 client
APPENDS = 2                 # traced run only
APPEND_DOCS = 300

# dedup: cold MinHash text dedup and cold cosine vector dedup.
DEDUP_DOCS = 2000
DEDUP_VECS = 2000
TEXT_THRESHOLD = 0.9
VEC_THRESHOLD = 0.95
MIN_RECALL = 0.95
PREPARES = 3
TRACE_PASSES = 2


class ReferenceLoop:
    """A fixed piece of CPU work that tells how fast the host runs now.

    On a shared host the clock rate, and with it the CPU time of the same
    work, drifts by 15-20% from one quarter of an hour to the next.  The
    loop — a Python integer loop and a random gather over a 64 MB array —
    runs before each set-up step and each timed operation, and the run's
    median loop time, against ``REFERENCE_LOOP_S``, scales its CPU times to
    a fixed reference speed."""

    def __init__(self):
        import numpy as np
        rng = np.random.default_rng(0)
        self._table = rng.integers(0, 1 << 23, 1 << 23)
        self.times: list[float] = []

    def run(self) -> None:
        t = time.thread_time()
        x = 0
        for i in range(300_000):
            x += i * i % 7
        self._table[self._table[:1 << 21]].sum()
        self.times.append(time.thread_time() - t)

    def scale(self) -> float:
        """Reference speed over the run's median speed."""
        return REFERENCE_LOOP_S / statistics.median(self.times)


class Run:
    """State shared by one benchmark run: work directory, session, tracer,
    counts of attempted and failed operations and of items served."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        # kind -> [(wall s, CPU s, items)] per timed operation
        self.samples: dict[str, list[tuple[float, float, int]]] = {}
        self.extra: dict[str, float] = {}
        self.reference = ReferenceLoop()
        self.detail: dict = {"phases_s": {}}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.detail["phases_s"][name] = round(now - self._mark, 3)
        self._mark = now

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def cpu(self) -> float:
        """CPU seconds the process tree has used so far, JIT compilation
        left out: it is a one-off warm-up cost that a long-running service
        amortises, and how far it has got varies from run to run."""
        total, jit = tree_cpu_s(os.getpid())
        return total - jit

    def timed(self, kind: str, fn, check, items: int = 1):
        """Run one operation of ``items`` items, time it into
        ``samples[kind]`` and check its output; an exception or a failed
        check counts as a failure.  The reference loop runs just before."""
        self.reference.run()
        try:
            with self.tracer.op(kind):
                c, t = self.cpu(), time.perf_counter()
                out = fn()
                dt, dc = time.perf_counter() - t, self.cpu() - c
            ok = check(out)
        except Exception:  # a failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            ok, dt = False, None
        if not ok:
            print(f"check failed: {kind}", file=sys.stderr)
        self.attempted += 1
        self.failed += not ok
        if dt is not None:
            self.samples.setdefault(kind, []).append((dt, dc, items))
        return ok

    def op_cpu_s(self, kind: str) -> float:
        """Median CPU seconds of one operation of ``kind``, at reference
        speed."""
        return self.reference.scale() * statistics.median(
            x[1] for x in self.samples[kind])

    def items_per_cpu_s(self, *kinds: str) -> float:
        """Items served per CPU second, over the run's mix of ``kinds``."""
        ops = {k: self.samples[k] for k in kinds}
        return (sum(x[2] for xs in ops.values() for x in xs)
                / sum(len(xs) * self.op_cpu_s(k) for k, xs in ops.items()))

    def reset_samples(self) -> None:
        """Forget the warm-up's timings; its checks still count."""
        self.samples.clear()

    def add(self, name: str, value: float) -> None:
        self.extra[name] = self.extra.get(name, 0.0) + value


def start_session(run: Run):
    """Point Spark's scratch space into the work directory, then start the
    session through the program's own factory."""
    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(SHUFFLE_PARTITIONS)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={run.path('warehouse')} "
        "--driver-java-options "
        f"'-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads' "
        "pyspark-shell")
    from big_data_assignment_2_spark.session import get_spark

    c, t = run.cpu(), time.perf_counter()
    with run.tracer.layer("session"):
        spark = get_spark("perfbench")
        spark.range(1).count()
    start_s, start_cpu_s = time.perf_counter() - t, run.cpu() - c
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = run.tracer.spark = spark
    run.add("session.start_s", start_s)
    run.detail["session_cpu_s"] = start_cpu_s
    return spark, start_cpu_s


def stop_session(run: Run, sampler: RssSampler) -> None:
    """Stop Spark and wait until the JVM and every process it started have
    exited."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    run.spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    alive = [p for p in sampler.seen if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tree_size(path: str) -> tuple[int, int]:
    """(parquet data files, bytes of all files) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return files, size


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def settle_jit() -> None:
    """Wait, idle, until the JIT compiler has worked off the methods the
    warm-up made hot (its threads used under ``JIT_IDLE_SHARE`` of a core
    over the last interval), or ``JIT_SETTLE_MAX_S`` have passed.  How far
    compilation lags behind the work depends on how much CPU time the host
    gave the compiler threads, so without this the first measured
    operations run more or less interpreted code from run to run."""
    deadline = time.perf_counter() + JIT_SETTLE_MAX_S
    jit = tree_cpu_s(os.getpid())[1]
    while time.perf_counter() < deadline:
        time.sleep(JIT_SETTLE_POLL_S)
        now = tree_cpu_s(os.getpid())[1]
        if now - jit < JIT_IDLE_SHARE * JIT_SETTLE_POLL_S:
            return
        jit = now


def closed_loop(step, seconds: float, min_steps: int) -> None:
    """One client: run ``step`` until ``seconds`` have passed (the last step
    is finished) and at least ``min_steps`` steps have run, so that a run on
    a slow host still measures the same amount of work."""
    t, n = time.perf_counter(), 0
    while n < min_steps or time.perf_counter() - t < seconds:
        step()
        n += 1


# --------------------------------------------------------------- search

def search(run: Run) -> dict:
    from big_data_assignment_2_spark.operators.index import build_index
    from big_data_assignment_2_spark.operators.persist import write_index
    from big_data_assignment_2_spark.sources.io import load_table

    seed, tr = run.args.seed, run.tracer
    vocab = gen.vocabulary()
    corpus = gen.make_documents(seed, SEARCH_DOCS)
    inputs = run.path("in")
    os.makedirs(inputs)
    docs_path = os.path.join(inputs, "documents.parquet")
    table = gen.documents_table(corpus, vocab)
    gen.write_parquet(table, docs_path)
    warm_inputs = run.path("in_warm")
    os.makedirs(warm_inputs)
    gen.write_parquet(table.slice(0, WARM_BUILD_DOCS),
                      os.path.join(warm_inputs, "documents.parquet"))
    queries = gen.make_queries(seed, corpus, QUERY_LOG, vocab)
    expected = oracle.bm25_topk([docs_path], queries)
    run.detail["inputs_sha256"] = {"documents": gen.file_sha256(docs_path)}
    run.detail["text_bytes"] = sum(len(t) for t in corpus.texts(vocab))
    run.phase("generate")

    spark, start_cpu_s = start_session(run)
    run.phase("session")
    builds = []
    for i in range(SEARCH_BUILDS + 1):
        store = run.path(f"store{i}")
        run.reference.run()
        with tr.op("build"), tr.layer("operators.persist"):
            c = run.cpu()
            write_index(build_index(load_table(
                spark, inputs if i else warm_inputs, "documents")), store)
            builds.append(run.cpu() - c)
        files, size = tree_size(store)
        run.add("operators.persist.files_written", files)
        run.add("operators.persist.bytes_written", size)
    run.detail["warm_build_cpu_s"] = builds.pop(0)
    serve = run.path(f"store{SEARCH_BUILDS}")
    run.detail["store_bytes_per_text_byte"] = (
        tree_size(serve)[1] / run.detail["text_bytes"])
    setup_cpu_s = start_cpu_s + statistics.median(builds)
    run.phase("builds")

    client = SearchClient(run, serve, queries, expected)

    def step():
        for _ in range(QUERIES_PER_BATCH):
            client.query("query")
        client.batch()
    for _ in range(WARM_STEPS["search"]):
        step()
    settle_jit()
    run.reset_samples()
    run.phase("warm")

    if not run.args.trace:
        closed_loop(step, run.args.seconds, MIN_STEPS[run.args.workload])
    else:
        search_traced(run, client, inputs)
    run.phase("measure")

    return {
        "request_cpu_ms": 1000 * run.op_cpu_s("query"),
        "items_per_cpu_s": run.items_per_cpu_s("query", "batch"),
        "setup_s": run.reference.scale() * setup_cpu_s,
    }


class SearchClient:
    """Sends the query log to a persisted index, one query at a time or in
    batches, and checks every answer against the oracle's."""

    def __init__(self, run: Run, store: str, queries: list[str],
                 expected: list[list]):
        self.run, self.store = run, store
        self.queries, self.expected = queries, expected
        self.next = 0

    def _take(self, n: int) -> list[int]:
        ids = [(self.next + j) % len(self.queries) for j in range(n)]
        self.next += n
        return ids

    def query(self, kind: str, store: str | None = None,
              q: str | None = None, want: list | None = None) -> None:
        """One query: the next one from the log, or ``q`` with its expected
        answer ``want``."""
        from big_data_assignment_2_spark.operators.persist import (
            bm25_probe_persisted)

        run, tr, spark = self.run, self.run.tracer, self.run.spark
        if q is None:
            (i,) = self._take(1)
            q, want = self.queries[i], self.expected[i]
        store = store or self.store

        def fn():
            with tr.layer("operators.persist"):
                t = time.perf_counter()
                df = bm25_probe_persisted(spark, store, q)
                run.add("operators.persist.probe_plan_ms",
                        1000 * (time.perf_counter() - t))
            with tr.layer("operators.search", files_read=True) as s:
                rows = df.collect()
            if s is not None:
                run.add("operators.persist.probe_files_read",
                        s.counters.get("files_read", 0))
            return rows
        run.timed(kind, fn, lambda rows: oracle.same_topk(
            [(r["doc_id"], r["score"]) for r in rows], want))

    def batch(self) -> None:
        """The next ``BATCH`` queries of the log in one batched probe."""
        from big_data_assignment_2_spark.operators.persist import (
            bm25_probe_persisted_batch)

        tr, spark = self.run.tracer, self.run.spark
        ids = self._take(BATCH)

        def fn():
            with tr.layer("operators.persist"):
                df = bm25_probe_persisted_batch(
                    spark, self.store, {str(j): self.queries[j] for j in ids})
            with tr.layer("operators.search"):
                return df.collect()

        def check(rows) -> bool:
            got: dict[str, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got.setdefault(r["query_id"], []).append(
                    (r["doc_id"], r["score"]))
            return all(oracle.same_topk(got.get(str(j), []), self.expected[j])
                       for j in ids)
        self.run.timed("batch", fn, check, items=BATCH)


def search_traced(run: Run, client: SearchClient, inputs: str) -> None:
    """The traced search run: one client and a fixed amount of work, so
    that counters compare between runs.  Besides the query mix it calls
    each layer on its own, scores over cached relations, and appends
    batches to a second store with a probe after each (the ingest path)."""
    from pyspark.sql import functions as F

    from big_data_assignment_2_spark.functions.text import tokenize
    from big_data_assignment_2_spark.operators.index import build_index
    from big_data_assignment_2_spark.operators.persist import (
        append_to_index, read_index)
    from big_data_assignment_2_spark.operators.search import bm25_topk
    from big_data_assignment_2_spark.sources.io import load_table

    tr, spark = run.tracer, run.spark
    docs = load_table(spark, inputs, "documents")
    with tr.op("layers"):
        with tr.layer("sources.io"):
            noop(docs)
        with tr.layer("functions.text"):
            noop(docs.select(tokenize("text").alias("t")))
        with tr.layer("operators.index"):
            noop(build_index(docs)["term_document"])
    run.add("functions.text.tokens",
            docs.select(F.sum(F.size(tokenize("text")))).first()[0])

    for _ in range(TRACE_ROUNDS):
        for _ in range(QUERIES_PER_BATCH):
            client.query("query")
        client.batch()

    ix = {k: v.cache() for k, v in read_index(spark, client.store).items()}
    for v in ix.values():
        v.count()

    def scored():
        with tr.layer("operators.search"):
            return bm25_topk(spark, client.queries[0], ix["term_document"],
                             ix["document_frequency"],
                             ix["documents_info"]).collect()
    run.timed("search_cached", scored, lambda rows: oracle.same_topk(
        [(r["doc_id"], r["score"]) for r in rows], client.expected[0]))
    for v in ix.values():
        v.unpersist()

    ingest = run.path("store1")         # a full build, not the serving store
    paths = [os.path.join(inputs, "documents.parquet")]
    vocab = gen.vocabulary()
    for a in range(APPENDS):
        p = run.path("in", f"append{a}.parquet")
        gen.write_parquet(gen.documents_table(gen.make_documents(
            run.args.seed, APPEND_DOCS, id_base=(a + 1) * 10_000_000),
            vocab), p)
        paths.append(p)
        before = tree_size(ingest)

        def append():
            with tr.layer("operators.persist"):
                append_to_index(spark.read.parquet(p), ingest)
        run.timed("append", append, lambda _: True)
        after = tree_size(ingest)
        run.add("operators.persist.files_written", after[0] - before[0])
        run.add("operators.persist.bytes_written", after[1] - before[1])
        q = client.queries[a]
        client.query("ingest_query", ingest, q, oracle.bm25_topk(paths, [q])[0])


# ---------------------------------------------------------------- dedup

def dedup(run: Run) -> dict:
    from big_data_assignment_2_spark.operators.dedup import minhash_near_dups
    from big_data_assignment_2_spark.operators.similarity import (
        cosine_near_dups_scaled)
    from big_data_assignment_2_spark.sources.io import load_table

    seed, tr = run.args.seed, run.tracer
    vocab = gen.vocabulary()
    corpus = gen.make_documents(seed, DEDUP_DOCS)
    vecs = gen.make_embeddings(seed, DEDUP_VECS)
    inputs = run.path("in")
    os.makedirs(inputs)
    gen.write_parquet(gen.documents_table(corpus, vocab),
                      os.path.join(inputs, "documents.parquet"))
    gen.write_parquet(gen.embeddings_table(vecs),
                      os.path.join(inputs, "embeddings.parquet"))
    run.detail["inputs_sha256"] = {
        n: gen.file_sha256(os.path.join(inputs, f"{n}.parquet"))
        for n in ("documents", "embeddings")}
    tokens_by_id = dict(zip(corpus.doc_ids.tolist(), corpus.tokens))
    vec_by_id = dict(zip(vecs.vec_ids.tolist(), vecs.matrix))
    text_truth = {(a, b) for a, b, j in corpus.pairs if j >= TEXT_THRESHOLD}
    vec_truth = {(a, b) for a, b, c in vecs.pairs if c >= VEC_THRESHOLD}
    recalls: dict[str, list[float]] = {"text": [], "vector": []}
    vec_pairs = []
    run.phase("generate")

    spark, start_cpu_s = start_session(run)
    run.phase("session")
    prepares = []
    for _ in range(PREPARES):
        run.reference.run()
        with tr.op("load"), tr.layer("sources.io"):
            c = run.cpu()
            for name in ("documents", "embeddings"):
                load_table(spark, inputs, name).count()
            prepares.append(run.cpu() - c)
    setup_cpu_s = start_cpu_s + statistics.median(prepares)
    run.phase("prepare")

    def text_pass() -> None:
        # the pass persists its intermediate relations; without this a
        # repeat is served from the cache manager
        spark.catalog.clearCache()

        def fn():
            with tr.layer("operators.dedup"):
                return minhash_near_dups(
                    load_table(spark, inputs, "documents"),
                    TEXT_THRESHOLD).collect()

        def check(rows) -> bool:
            found = {(int(r["doc_a"]), int(r["doc_b"])) for r in rows}
            recalls["text"].append(oracle.pair_recall(found, text_truth))
            return (recalls["text"][-1] >= MIN_RECALL
                    and oracle.check_text_pairs(
                        [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows],
                        tokens_by_id, TEXT_THRESHOLD) == 0)
        run.timed("text_dedup", fn, check, items=DEDUP_DOCS)

    def vector_pass() -> None:
        def fn():
            with tr.layer("operators.similarity"):
                return cosine_near_dups_scaled(
                    load_table(spark, inputs, "embeddings"),
                    VEC_THRESHOLD).collect()

        def check(rows) -> bool:
            found = {(int(r["vec_a"]), int(r["vec_b"])) for r in rows}
            recalls["vector"].append(oracle.pair_recall(found, vec_truth))
            vec_pairs.append(len(rows))
            return (recalls["vector"][-1] >= MIN_RECALL
                    and oracle.check_vector_pairs(
                        [(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in rows],
                        vec_by_id, VEC_THRESHOLD) == 0)
        run.timed("vector_dedup", fn, check, items=DEDUP_VECS)

    def step():
        text_pass()
        vector_pass()
    for _ in range(WARM_STEPS["dedup"]):
        step()
    settle_jit()
    run.reset_samples()
    run.phase("warm")

    if not run.args.trace:
        closed_loop(step, run.args.seconds, MIN_STEPS[run.args.workload])
    else:
        dedup_layers_traced(run, spark, inputs, text_pass, vector_pass)
        run.add("operators.similarity.verify_yield", vec_pairs[-1] / max(
            1, run.extra["operators.similarity.candidate_pairs"]))
    run.phase("measure")

    run.detail["text_recall"] = statistics.median(recalls["text"] or [0.0])
    run.detail["vector_recall"] = statistics.median(recalls["vector"] or [0.0])
    run.add("operators.dedup.recall", run.detail["text_recall"])
    run.add("operators.similarity.recall", run.detail["vector_recall"])
    return {
        "request_cpu_ms": 1000 * run.op_cpu_s("text_dedup"),
        "items_per_cpu_s": run.items_per_cpu_s("text_dedup", "vector_dedup"),
        "setup_s": run.reference.scale() * setup_cpu_s,
    }


def dedup_layers_traced(run: Run, spark, inputs, text_pass,
                        vector_pass) -> None:
    """The traced dedup run: one client and a fixed number of passes, each
    layer called on its own, the text pipeline's public steps counted, and
    the vector pass run with the Python UDF profiler on."""
    from pyspark.sql import functions as F

    from big_data_assignment_2_spark.functions.text import tokenize
    from big_data_assignment_2_spark.operators.dedup import (
        doc_tokensets, jaccard_verify, lsh_band_keys, lsh_candidate_pairs,
        minhash_signatures)
    from big_data_assignment_2_spark.operators.similarity import (
        band_width_for, banded_lsh_candidate_pairs)
    from big_data_assignment_2_spark.sources.io import load_table

    tr = run.tracer
    docs = load_table(spark, inputs, "documents")
    vecs = load_table(spark, inputs, "embeddings")
    with tr.op("layers"):
        with tr.layer("sources.io"):
            noop(docs)
            noop(vecs)
        with tr.layer("functions.text"):
            noop(docs.select(tokenize("text").alias("t")))
    run.add("functions.text.tokens",
            docs.select(F.sum(F.size(tokenize("text")))).first()[0])
    for _ in range(TRACE_PASSES):
        text_pass()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    spark.profile.clear()
    for _ in range(TRACE_PASSES):
        vector_pass()
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    collector = spark._profiler_collector
    run.add("operators.similarity.pandas_udf_s",
            sum(s.total_tt for s in collector._perf_profile_results.values()))
    spark.profile.clear()

    with tr.op("dedup_steps"), tr.layer("operators.dedup"):
        spark.catalog.clearCache()
        toks = doc_tokensets(docs)
        pairs = lsh_candidate_pairs(lsh_band_keys(minhash_signatures(toks)))
        cand = pairs.count()
        verified = jaccard_verify(pairs, toks, TEXT_THRESHOLD).count()
    run.add("operators.dedup.candidate_pairs", cand)
    run.add("operators.dedup.verified_pairs", verified)
    run.add("operators.dedup.verify_yield", verified / max(1, cand))
    with tr.op("similarity_steps"), tr.layer("operators.similarity"):
        spark.catalog.clearCache()
        width = band_width_for(DEDUP_VECS, 4, 100)
        vcand = banded_lsh_candidate_pairs(vecs, width, 4).count()
    run.add("operators.similarity.candidate_pairs", vcand)


WORKLOADS = {"search": search, "dedup": dedup}


# ----------------------------------------------------------------- main

def provenance(run: Run) -> dict:
    import pyspark
    sc = run.spark.sparkContext if run.spark is not None else None
    return {
        "workload": run.args.workload, "seed": run.args.seed,
        "seconds": run.args.seconds, "trace": run.args.trace,
        "nproc": cpu_count(),
        "master": sc.master if sc else None,
        "default_parallelism": sc.defaultParallelism if sc else None,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_results"),
                    help="directory for the run record")
    args = ap.parse_args(argv)
    try:
        import big_data_assignment_2_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program under test not importable: {e}",
              file=sys.stderr)
        return 2

    run = Run(args)
    os.makedirs(run.work)
    load_start, steal_start = os.getloadavg(), steal_s()
    t0 = time.time()
    try:
        with RssSampler() as sampler:
            try:
                e2e = WORKLOADS[args.workload](run)
                prov = provenance(run)
                run.detail["jit_cpu_s"] = tree_cpu_s(os.getpid())[1]
            finally:
                stop_session(run, sampler)
                run.phase("stop")
        run.detail["peak_rss_mb"] = sampler.peak_bytes / 2**20
        run.detail["reference_loop_s"] = run.reference.times
        run.detail["wall_p50_ms"] = {
            k: 1000 * statistics.median(x[0] for x in v)
            for k, v in run.samples.items()}
    finally:
        shutil.rmtree(run.work, ignore_errors=True)

    if args.trace:
        layer = run.tracer.layer_metrics()
        layer.update(run.extra)
        metrics = {n: {"value": float(layer.get(n, 0.0)),
                       "unit": layer_unit(n)}
                   for n in per_layer_metric_names()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in E2E_UNITS.items()}
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    prov.update(load_avg_start=load_start[0], load_avg_end=os.getloadavg()[0],
                steal_s=steal_s() - steal_start,
                wall_s=time.time() - t0)
    record = {"provenance": prov, "detail": run.detail,
              "end_to_end": e2e,
              "samples": {k: [[round(dt, 6), round(dc, 3)] for dt, dc, _ in v]
                          for k, v in run.samples.items()},
              "result": result}
    os.makedirs(args.out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t0)}.json"
    with open(os.path.join(args.out, name), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        run.tracer.dump(os.path.join(args.out, name[:-5] + ".spans.jsonl"))
    print(json.dumps({k: record[k] for k in
                      ("provenance", "detail", "end_to_end")}))
    print(json.dumps(result))
    return 0



if __name__ == "__main__":
    sys.exit(main())
