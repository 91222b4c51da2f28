"""pandas_udf demonstration: Arrow-batched, matches a pure-Python oracle."""

from __future__ import annotations

import math
from collections import Counter

from big_data_assignment_2_spark.functions.udfs import shannon_entropy
from big_data_assignment_2_spark.sources.io import load_table


def py_entropy(t: str) -> float:
    if not t:
        return 0.0
    n = len(t)
    return round(-sum((c / n) * math.log2(c / n)
                      for c in Counter(t).values()), 6)


def test_entropy_matches_python(spark):
    rows = [(1, "aaaa"), (2, "abab"), (3, ""), (4, None), (5, "abcdefgh")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["e"]
           for r in df.select("id", shannon_entropy("text").alias("e")).collect()}
    assert got[1] == 0.0
    assert got[2] == 1.0
    assert got[3] == 0.0 and got[4] == 0.0
    assert got[5] == 3.0


def test_entropy_on_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = docs.select("doc_id", shannon_entropy("text").alias("e")).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in out:
        assert r["e"] == py_entropy(texts[r["doc_id"]])


def test_minmax_scale_by_group(spark):
    from big_data_assignment_2_spark.functions.udfs import \
        minmax_scale_by_group

    rows = [("a", 1, 10), ("a", 2, 20), ("a", 3, 30),
            ("b", 4, 7), ("b", 5, 7),          # constant group -> 0.0
            ("c", 6, 42)]                      # singleton group -> 0.0
    df = spark.createDataFrame(rows, "grp string, id int, v int")
    got = {r["id"]: (r["grp"], r["scaled"])
           for r in minmax_scale_by_group(df, "grp", "v").collect()}
    assert got[1] == ("a", 0.0)
    assert got[2] == ("a", 0.5)
    assert got[3] == ("a", 1.0)
    assert got[4][1] == 0.0 and got[5][1] == 0.0
    assert got[6][1] == 0.0
    # schema passthrough: all source columns + scaled
    out = minmax_scale_by_group(df, "grp", "v")
    assert out.columns == ["grp", "id", "v", "scaled"]


def _zip_finders() -> list[str]:
    import sys
    import zipimport

    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path):
    import importlib
    import sys
    import zipfile

    from big_data_assignment_2_spark.functions.udfs import drop_zip_finders

    archive = tmp_path / "zpkg_archive.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg_t/__init__.py", "")
        z.writestr("zpkg_t/first.py", "VALUE = 1\n")
        z.writestr("zpkg_t/second.py", "from .first import VALUE\n"
                                       "VALUE2 = VALUE + 1\n")
    sys.path.insert(0, str(archive))
    try:
        first = importlib.import_module("zpkg_t.first")
        assert first.VALUE == 1
        assert any(p.startswith(str(archive)) for p in _zip_finders())
        drop_zip_finders()
        assert _zip_finders() == []
        # a module loaded before the drop keeps its loader; a new import
        # from the same archive rebuilds its finder on demand
        second = importlib.import_module("zpkg_t.second")
        assert second.VALUE2 == 2
        assert importlib.reload(first).VALUE == 1
    finally:
        sys.path.remove(str(archive))
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg_t"]:
            del sys.modules[name]
        drop_zip_finders()


def test_reused_worker_starts_its_next_task_with_no_zip_finders(spark):
    """Each task's ``importlib.invalidate_caches()`` re-reads every cached
    zip archive; a worker function that drops them first leaves the next
    task on the same (reused) worker none to re-read.  One job of 32
    one-row tasks on local[4] runs more tasks than there can be Python
    workers, so some worker runs several of them in turn; every task
    after a worker's first must find no zip finder."""

    def record(batches):
        import os
        import sys
        import time
        import zipimport

        import pandas as pd

        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        drop_zip_finders()
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "t": [time.monotonic_ns()],
                            "n_zip": [n]})

    from big_data_assignment_2_spark.functions.udfs import drop_zip_finders

    rows = (spark.range(0, 32, numPartitions=32)
            .mapInPandas(record, "pid long, t long, n_zip long").collect())
    assert len(rows) == 32
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append((r["t"], r["n_zip"]))
    later = [n for tasks in by_pid.values() for _, n in sorted(tasks)[1:]]
    assert later, "no Python worker ran two tasks"
    assert all(n == 0 for n in later), sorted(by_pid.items())


def _python_crossings(tree):
    """(function name, call line, enclosing def or None) for every function
    handed to Spark to run in a Python worker: pandas_udf-decorated defs and
    the first argument of mapInPandas / applyInPandas /
    applyInPandasWithState."""
    import ast

    parents = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node

    def enclosing(node):
        node = parents.get(node)
        while node is not None and not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            node = parents.get(node)
        return node

    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and any(
                "pandas_udf" in ast.unparse(d) for d in node.decorator_list):
            yield node, node
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("mapInPandas", "applyInPandas",
                                       "applyInPandasWithState")):
            arg = node.args[0]
            assert isinstance(arg, ast.Name), ast.unparse(node)
            scope = enclosing(node)
            body = scope.body if scope is not None else tree.body
            defs = [d for d in body if isinstance(d, ast.FunctionDef)
                    and d.name == arg.id]
            if not defs and scope is not None:
                defs = [d for d in tree.body if isinstance(d, ast.FunctionDef)
                        and d.name == arg.id]
            assert len(defs) == 1, ast.unparse(node)
            yield node, defs[0]


def test_every_python_crossing_drops_zip_finders_first():
    """Every function the package hands to a Python worker calls
    ``drop_zip_finders()`` as its first statement (after any docstring);
    one that does not pays the zip re-read on every task again."""
    import ast
    import pathlib

    import big_data_assignment_2_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    checked, missing = [], []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for site, fn in _python_crossings(tree):
            body = fn.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                body = body[1:]
            where = f"{path.relative_to(root)}:{site.lineno} {fn.name}"
            checked.append(where)
            first = ast.unparse(body[0]) if body else ""
            if first != "drop_zip_finders()":
                missing.append(where)
    assert len(checked) >= 13, checked
    assert not missing, missing
