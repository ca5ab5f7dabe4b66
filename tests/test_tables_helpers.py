"""The gate plumbing in ``operators/tables.py``: the per-row kernel
applier ``map_rows``, the ``docs`` input helper, the declared catalog
behind ``load``, the loop-partition ceiling of ``scan_partitions``, the
sized child session ``sized_session``, the gate-final sort
``final_sort``, and guards that keep operators on ``map_rows`` instead
of hand-rolled ``mapInPandas`` batch loops, on ``final_sort`` instead of
a hand-built barrier-then-sort, parquet reads on a declared schema, and
session conf unwritten."""

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
    sized_session,
)
from test_oracle_parity import SF_DIR

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


#: the directory holding the sf0.001 / sf0.01 / sf0.1 catalogs
TESTDATA = os.path.dirname(SF_DIR)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_schema_is_the_inferred_schema(spark, sf):
    """The declared catalog equals what Spark infers from the files,
    ``timestamp_ntz`` and ``array<float>`` included."""
    sf_dir = f"{TESTDATA}/{sf}"
    for name in tables.SCHEMAS:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert tables.load(spark, sf_dir, name).schema == inferred, name


def _jobs_started(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    fn()
    return [j for j in tracker.getJobIdsForGroup(None) if j > before]


def test_load_starts_no_job(spark):
    sf_dir = f"{TESTDATA}/sf0.001"
    assert _jobs_started(spark, lambda: tables.load(spark, sf_dir, "orders")) == []
    # the probe does see the inference job of a bare read
    path = f"{sf_dir}/orders.parquet"
    assert _jobs_started(spark, lambda: spark.read.parquet(path))


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


SHUFFLE = "spark.sql.shuffle.partitions"


def test_sized_session_keeps_the_runtime_conf(spark):
    """The child starts from the parent's runtime conf (a bare
    ``newSession()`` would fall back to the builder's time zone) and
    only its own shuffle partition count changes."""
    key = "spark.sql.session.timeZone"
    old, parts = spark.conf.get(key), spark.conf.get(SHUFFLE)
    spark.conf.set(key, "America/New_York")
    try:
        child = sized_session(spark, 3)
        assert child.conf.get(key) == "America/New_York"
    finally:
        spark.conf.set(key, old)
    assert child.conf.get(SHUFFLE) == "3"
    assert spark.conf.get(SHUFFLE) == parts


def test_graph_loop_leaves_the_session_conf_alone(spark, monkeypatch):
    """PageRank's loop jobs plan at the input-sized count in a child
    session; the caller's session keeps its own count all along."""
    from scrapelect_spark.operators import graph

    parts = spark.conf.get(SHUFFLE)
    seen = []
    frame = type(spark.range(1))
    count = frame.count

    def spy(df):
        seen.append((spark.conf.get(SHUFFLE), df.sparkSession.conf.get(SHUFFLE)))
        return count(df)

    monkeypatch.setattr(graph, "scan_partitions", lambda df: 3)
    monkeypatch.setattr(frame, "count", spy)
    out = graph.graph_pagerank(spark, SF_DIR)
    assert seen and set(seen) == {(parts, "3")}
    assert out.count() > 0


#: the only operators that call ``mapInPandas`` themselves, and why
BATCH_LEVEL = {
    "tables.py:map_rows": "the per-row kernel applier itself",
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


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("desc", [False, True])
@pytest.mark.parametrize("branch", ["small", "large"])
def test_final_sort_runs_the_kernel_once(spark, monkeypatch, branch, desc):
    """Each input row goes through the kernel once on both branches.  A
    small output is sorted in one task, with no range sort and no
    barrier; on a large one the range sort's sampling pass reads the
    barrier's saved partitions (a plain ``orderBy`` runs the kernel
    twice per row)."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(tables, "BARRIERS", True)
    if branch == "large":
        estimate = tables.size_estimate
        monkeypatch.setattr(
            tables, "size_estimate", lambda df: estimate(_SizedFrame(100 * 10**12))
        )
    calls = spark.sparkContext.accumulator(0)

    def kernel(i):
        calls.add(1)
        yield {"i": i, "v": i % 7}

    df = spark.range(0, 200, 1, 4).withColumnRenamed("id", "i")
    out = map_rows(df, kernel, "i long, v long")
    v = F.desc("v") if desc else "v"
    sorted_out = out.transform(final_sort, v, "i")
    rows = [tuple(r) for r in sorted_out.collect()]
    assert calls.value == 200
    expected = [(i, i % 7) for i in range(200)]
    expected.sort(key=lambda r: (-r[1] if desc else r[1], r[0]))
    assert rows == expected
    # the large branch keeps the barrier (a checkpoint scan) and the
    # range sort; the small one has neither
    plan = _executed(sorted_out).lower()
    large = branch == "large"
    assert ("rangepartitioning" in plan, "existingrdd" in plan) == (large, large)


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


def _chain(node):
    """The attribute names along a method chain, last call first."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def _definitions(tree):
    """(qualified name, node) for each top-level statement, with a
    class's methods named ``Class.method``."""
    for top in tree.body:
        if isinstance(top, ast.ClassDef):
            for member in top.body:
                yield f"{top.name}.{getattr(member, 'name', '<body>')}", member
        else:
            yield getattr(top, "name", "<module>"), top


def test_parquet_reads_declare_their_schema():
    """A parquet read in the package names its schema (``.schema(``
    earlier in the chain than ``.parquet(``), so no read starts a
    schema-inference job.  The one bare read is ``SnapshotTable.read``'s
    branch for manifests written before commits recorded the schema."""
    bare = []
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read())
        for name, top in _definitions(tree):
            for node in ast.walk(top):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                ):
                    continue
                chain = _chain(node.func.value)
                if "write" in chain or "writeStream" in chain:
                    continue
                if "schema" not in chain:
                    bare.append(f"{os.path.relpath(path, PACKAGE)}:{name}")
    assert bare == ["sources/checkpoint.py:SnapshotTable.read"]


def test_final_sort_of_a_one_partition_plan_adds_no_exchange(spark, monkeypatch):
    """A top-k already ends in one partition: the small branch sorts it
    in place, with no exchange and no extra job."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(tables, "BARRIERS", True)
    top = spark.range(0, 1000, 1, 4).orderBy(F.desc("id")).limit(10)
    out = final_sort(top, "id")
    assert [r.id for r in out.collect()] == list(range(990, 1000))
    assert "exchange" not in _executed(out).lower()


def test_no_session_conf_writes():
    """No code under ``operators/`` or ``streaming/`` writes a session's
    conf: a loop or a stream that needs its own partition count plans in
    ``sized_session``'s child, so a query that another thread plans on
    the caller's session meanwhile keeps the caller's count."""
    sites = []
    for sub in ("operators", "streaming"):
        for path in sorted(glob.glob(os.path.join(PACKAGE, sub, "*.py"))):
            with open(path) as f:
                tree = ast.parse(f.read())
            for name, top in _definitions(tree):
                for node in ast.walk(top):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "set"
                        and _chain(node.func.value)[:1] == ["conf"]
                    ):
                        sites.append(f"{sub}/{os.path.basename(path)}:{name}")
    assert sites == []
