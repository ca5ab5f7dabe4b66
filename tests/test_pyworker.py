"""The package's Python daemon (``scrapelect_spark.pyworker``) and the
session policy point that installs it: the patched
``zipimporter.invalidate_caches`` re-reads an archive only when it
changed, every ``get_spark`` worker runs under it (also from a cwd
outside the checkout with ``PYTHONPATH`` unset), and no code outside
``session.py`` builds a session by hand."""

import ast
import glob
import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from scrapelect_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_import_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is pyworker._stock_invalidate


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_mod_a": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        import pw_mod_a

        assert pw_mod_a.X == 1
        importlib.invalidate_caches()  # first read stamps the importer
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"pw_mod_a": "X = 1\n", "pw_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        import pw_mod_b

        assert pw_mod_b.Y == 2

        os.remove(archive)  # a missing archive always takes the stock path
        importlib.invalidate_caches()
        assert reads == [archive, archive]
    finally:
        sys.modules.pop("pw_mod_a", None)
        sys.modules.pop("pw_mod_b", None)
        sys.path_importer_cache.pop(archive, None)


def test_get_spark_worker_reads_no_archive_on_invalidate(spark):
    """Inside a worker of the shared ``get_spark`` session, an extra
    ``importlib.invalidate_caches()`` reads no archive directory, while
    zip importers (pyspark.zip, the spark-core jar) are on its path."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    rows = (
        spark.range(8)
        .repartition(2)
        .mapInPandas(probe, "reads long, zips long")
        .collect()
    )
    assert rows and all(r.reads == 0 for r in rows)
    assert all(r.zips > 0 for r in rows)


def test_daemon_starts_outside_checkout_without_pythonpath(tmp_path):
    """A driver run from a temp cwd, with ``PYTHONPATH`` unset, finds
    the package only through its own ``sys.path``; its workers still
    start under the package daemon and see the patched method."""
    script = tmp_path / "job.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from scrapelect_spark.session import get_spark

            def probe(batches):
                import os
                import zipimport
                import pandas as pd
                for _ in batches:
                    pass
                code = zipimport.zipimporter.invalidate_caches.__code__
                site = os.path.basename(code.co_filename) + ":" + code.co_name
                yield pd.DataFrame({{"fn": [site]}})

            spark = get_spark(app_name="pyworker-test", cpus=2)
            rows = spark.range(4).mapInPandas(probe, "fn string").collect()
            print("FN", sorted({{r.fn for r in rows}}))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "FN ['pyworker.py:_invalidate_if_changed']" in out.stdout


def _builder_sites(path):
    with open(path) as f:
        tree = ast.parse(f.read())
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and (
            (isinstance(node.value, ast.Name) and node.value.id == "SparkSession")
            or (
                isinstance(node.value, ast.Attribute)
                and node.value.attr == "SparkSession"
            )
        )
    ]


def test_sessions_are_built_only_in_session_py():
    """``session.get_spark`` is the one place a session is built, so every
    entry point gets the package daemon and the worker path."""
    paths = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "bench_extra.py")]
    for sub in ("scrapelect_spark", "scripts", "tests", "perfbench"):
        paths += glob.glob(os.path.join(REPO, sub, "**", "*.py"), recursive=True)
    sites = [
        f"{os.path.relpath(p, REPO)}:{line}"
        for p in sorted(paths)
        for line in _builder_sites(p)
    ]
    assert [s.split(":")[0] for s in sites] == ["scrapelect_spark/session.py"], sites
