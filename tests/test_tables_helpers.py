"""The gate plumbing in ``operators/tables.py``: the per-row kernel
applier ``map_rows``, the ``docs`` input helper, the loop-partition
ceiling of ``scan_partitions``, the gate-final sort ``final_sort``, and
guards that keep operators on ``map_rows`` instead of hand-rolled
``mapInPandas`` batch loops and on ``final_sort`` instead of a
hand-built barrier-then-sort."""

import ast
import glob
import os

import pytest

from scrapelect_spark.operators import tables
from scrapelect_spark.operators.tables import (
    docs,
    final_sort,
    map_rows,
    scan_partitions,
)

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scrapelect_spark",
)
OPERATORS = os.path.join(PACKAGE, "operators")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_map_rows_declared_error_gives_failed_row(spark):
    def kernel(doc_id, tag):
        if doc_id % 3 == 0:
            raise ValueError("bad input")
        yield {"doc_id": doc_id, "tag": tag, "score": 10 * doc_id, "ok": 1}

    df = spark.range(6).selectExpr("id AS doc_id", "'t' || id AS tag")
    out = map_rows(
        df,
        kernel,
        "doc_id long, tag string, score long, ok long, failed long",
        errors=(ValueError,),
        on_error={"ok": 0},
    )
    assert _rows(out) == [
        # the row key (input columns that are also output columns)
        # survives; on_error fills its columns; everything else is None
        (0, "t0", None, 0, 1),
        (1, "t1", 10, 1, 0),
        (2, "t2", 20, 1, 0),
        (3, "t3", None, 0, 1),
        (4, "t4", 40, 1, 0),
        (5, "t5", 50, 1, 0),
    ]


def test_map_rows_undeclared_error_fails_the_job(spark):
    from pyspark.errors import PythonException

    def kernel(doc_id):
        if doc_id == 2:
            raise TypeError("a real bug")
        yield {"doc_id": doc_id, "failed": 0}

    out = map_rows(
        spark.range(4).withColumnRenamed("id", "doc_id"),
        kernel,
        "doc_id long, failed long",
        errors=(ValueError,),
    )
    with pytest.raises(PythonException, match="a real bug"):
        out.collect()


def test_map_rows_zero_one_or_many_rows_per_input(spark):
    def kernel(n):
        assert type(n) is int  # plain Python values, not numpy scalars
        for k in range(n):
            yield {"n": n, "k": k}

    df = spark.createDataFrame([(0,), (1,), (3,)], "n long")
    out = map_rows(df, kernel, "n long, k long")
    assert _rows(out) == [(1, 0), (3, 0), (3, 1), (3, 2)]


def test_map_rows_long_next_to_none_is_exact(spark):
    big = 2**62 + 1

    def kernel(i):
        yield {"i": i, "v": {0: big, 1: None, 2: -big}[i]}

    df = spark.range(3).withColumnRenamed("id", "i")
    out = map_rows(df, kernel, "i long, v long")
    assert _rows(out) == [(0, big), (1, None), (2, -big)]


def test_docs_filters_and_projects(spark, tmp_path):
    sf_dir = str(tmp_path)
    spark.range(25).selectExpr(
        "id AS doc_id", "'en' AS lang", "repeat('x', int(id)) AS text"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    d = docs(spark, sf_dir, 10, "doc_id", "lang")
    assert d.columns == ["doc_id", "lang"]
    assert _rows(d) == [(i, "en") for i in range(10)]


class _Stats:
    def __init__(self, size):
        self.size = size

    def queryExecution(self):
        return self

    def optimizedPlan(self):
        return self

    def stats(self):
        return self

    def sizeInBytes(self):
        return self.size


class _SizedFrame:
    """Stands in for a DataFrame whose optimizer size estimate is
    ``size`` bytes."""

    def __init__(self, size):
        self._jdf = _Stats(size)


def test_scan_partitions_is_capped():
    assert scan_partitions(_SizedFrame(100 * 10**12)) == tables.MAX_LOOP_PARTITIONS
    # a bench-scale table stays one loop partition
    assert scan_partitions(_SizedFrame(600 * 1024)) == 1


def test_scan_partitions_small_frame_is_one(spark):
    assert scan_partitions(spark.range(100)) == 1


#: the only operators that call ``mapInPandas`` themselves, and why
BATCH_LEVEL = {
    "tables.py:map_rows": "the per-row kernel applier itself",
    "extract.py:extract": "per-partition state: the Interpreter, the "
    "broadcast corpus and the URL-recursion document cache",
    "warc_io.py:warc_export": "one WARC segment per Arrow batch, not per row",
}


def test_gate_functions_have_no_batch_loops():
    """Every operator outside ``BATCH_LEVEL`` applies its per-row
    kernel through ``map_rows``: no other function in ``operators/``
    (nested functions count toward their top-level one) may call
    ``.mapInPandas(``."""
    callers = []
    for path in sorted(glob.glob(os.path.join(OPERATORS, "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    name = getattr(top, "name", "<module>")
                    callers.append(f"{os.path.basename(path)}:{name}")
    assert sorted(callers) == sorted(BATCH_LEVEL)


def test_map_rows_error_drops_rows_already_yielded(spark):
    """The ``errors`` fallback replaces everything ``fn`` yielded for
    that input row, which is why partial-output kernels catch inside
    ``fn``."""

    def kernel(doc_id):
        yield {"doc_id": doc_id, "k": 0}
        yield {"doc_id": doc_id, "k": 1}
        if doc_id == 1:
            raise ValueError("cut short")

    out = map_rows(
        spark.range(2).withColumnRenamed("id", "doc_id"),
        kernel,
        "doc_id long, k long, failed long",
        errors=(ValueError,),
    )
    assert _rows(out) == [(0, 0, 0), (0, 1, 0), (1, None, 1)]


@pytest.mark.parametrize("desc", [False, True])
def test_final_sort_runs_the_kernel_once(spark, monkeypatch, desc):
    """The range sort's sampling pass reads the barrier's saved
    partitions, so each input row goes through the kernel once; a plain
    ``orderBy`` runs the kernel twice per row."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(tables, "BARRIERS", True)
    calls = spark.sparkContext.accumulator(0)

    def kernel(i):
        calls.add(1)
        yield {"i": i, "v": i % 7}

    df = spark.range(0, 200, 1, 4).withColumnRenamed("id", "i")
    out = map_rows(df, kernel, "i long, v long")
    v = F.desc("v") if desc else "v"
    rows = [tuple(r) for r in out.transform(final_sort, v, "i").collect()]
    assert calls.value == 200
    expected = [(i, i % 7) for i in range(200)]
    expected.sort(key=lambda r: (-r[1] if desc else r[1], r[0]))
    assert rows == expected


def test_final_sort_without_barriers_is_a_plain_order_by(spark, monkeypatch):
    from pyspark.sql import functions as F

    monkeypatch.setattr(tables, "BARRIERS", False)
    df = spark.range(50).selectExpr("id AS i", "id % 7 AS v")

    def optimized(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    cols = (F.desc("v"), "i")
    assert optimized(final_sort(df, *cols)) == optimized(df.orderBy(*cols))


def _is_barrier(node):
    return (isinstance(node, ast.Name) and node.id == "barrier") or (
        isinstance(node, ast.Attribute) and node.attr == "barrier"
    )


def test_no_hand_built_barrier_sort():
    """``final_sort`` is the one place that puts a barrier before a
    sort: no other function in ``operators/`` or ``streaming/`` may
    call ``.orderBy(`` directly on ``barrier(...)`` or on
    ``.transform(barrier)``."""
    sites = []
    for sub in ("operators", "streaming"):
        for path in sorted(glob.glob(os.path.join(PACKAGE, sub, "*.py"))):
            with open(path) as f:
                tree = ast.parse(f.read())
            for top in tree.body:
                for node in ast.walk(top):
                    if not (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "orderBy"
                        and isinstance(node.func.value, ast.Call)
                    ):
                        continue
                    recv = node.func.value
                    if _is_barrier(recv.func) or (
                        isinstance(recv.func, ast.Attribute)
                        and recv.func.attr == "transform"
                        and recv.args
                        and _is_barrier(recv.args[0])
                    ):
                        name = getattr(top, "name", "<module>")
                        sites.append(f"{sub}/{os.path.basename(path)}:{name}")
    assert sites == ["operators/tables.py:final_sort"]
