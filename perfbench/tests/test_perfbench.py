"""The benchmark's own tests: deterministic inputs, metric names that
match BENCHMARK.json, a tiny-size smoke run of each workload, and a
traced run whose spans link to their parents.

Run from the repo root: ``python3 -m pytest perfbench/tests -q``.
The smoke runs start Spark in a subprocess each (about a minute in
all at local[4])."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_web_is_deterministic_per_seed():
    a, b, c = gen.web(7, 300, 10), gen.web(7, 300, 10), gen.web(8, 300, 10)
    assert a.corpus == b.corpus and a.seeds == b.seeds and a.never_seen == b.never_seen
    assert a.corpus != c.corpus
    assert not set(a.never_seen) & set(a.corpus)


def test_page_table_is_deterministic_per_seed():
    assert gen.page_table(3, 50) == gen.page_table(3, 50)
    assert gen.page_table(3, 50) != gen.page_table(4, 50)


def test_catalog_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    gen.catalog_tables(5, str(tmp_path / "a"), scale=0.05)
    gen.catalog_tables(5, str(tmp_path / "b"), scale=0.05)
    gen.catalog_tables(6, str(tmp_path / "c"), scale=0.05)
    for name in os.listdir(tmp_path / "a"):
        ta = pq.read_table(tmp_path / "a" / name)
        assert ta.equals(pq.read_table(tmp_path / "b" / name)), name
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet")
    )


def _run(workload: str, trace: int, seed: int = 1) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload", ["crawl", "extract", "curate"])
def test_tiny_smoke_prints_every_end_to_end_metric(workload):
    out, stdout = _run(workload, trace=0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = {m["name"]: m for m in SPEC["end_to_end"]}
    assert set(out["metrics"]) == set(spec)
    for name, m in out["metrics"].items():
        assert m["unit"] == spec[name]["unit"] and m["value"] > 0, name
    assert "cores=" in stdout


def test_traced_run_writes_linked_spans_and_every_layer_metric():
    out, _ = _run("crawl", trace=1, seed=2)
    assert out["correct"] is True
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert out["metrics"]["streaming.crawl.jobs_per_batch"]["value"] > 0
    with open(os.path.join(ROOT, ".perfbench", "traces", "crawl-seed2.json")) as f:
        spans = json.load(f)["spans"]
    ids = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    assert [s["name"] for s in roots] == ["run"]
    for s in spans:
        assert s["end"] is not None and s["end"] >= s["start"]
        if s["parent"] is not None:
            p = ids[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
    batches = {s["id"]: s for s in spans if s["name"] == "streaming.crawl.batch"}
    assert batches and all(isinstance(s["key"], int) for s in batches.values())
    commits = [s for s in spans if s["name"] == "sources.checkpoint.commit"]
    assert {s["key"] for s in commits} >= {"frontier", "seen", "pages", "records", "sketches", "crawl"}
    assert all(s["parent"] in batches for s in commits)
