"""The repo benchmark: one workload per invocation at ``local[nproc]``.

    python3 perfbench/run.py --workload {crawl,extract,curate} \\
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Generates its inputs from ``--seed``, sets up, measures for about
``--seconds`` seconds, checks every output against an independent
reference outside the timed region, and prints one JSON object as the
last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` reports its per-layer metrics and
writes the run's spans to ``.perfbench/traces/``.  A failed check
prints ``"correct": false`` and exits 1.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import scrapelect_spark  # noqa: E402,F401  (fails fast outside a full checkout)

from perfbench import gen, wl_crawl, wl_curate, wl_extract  # noqa: E402
from perfbench.common import (  # noqa: E402
    JobCounter,
    RssSampler,
    Tracer,
    fresh_dir,
    median,
    nproc,
    start_spark,
    stop_spark,
)
from perfbench.kernels import compile_ms  # noqa: E402

WORKLOADS = {"crawl": wl_crawl, "extract": wl_extract, "curate": wl_curate}


class Bench:
    """One run's state, handed to the workload's ``run(b, size)``."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = nproc()
        self.work = fresh_dir(os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}"))
        self.trace = Tracer(bool(args.trace))
        self.spark = None
        self.jobs = None
        self.state: dict = {}  # workload-private values between phases
        self.info: dict = {}  # printed on the summary line
        self.once_s: dict[str, float] = {}
        self.rep_s: list[float] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.details: list[str] = []

    @contextmanager
    def setup_once(self, name: str):
        with self.trace.span(f"setup.{name}"):
            t = time.perf_counter()
            yield
            self.once_s[name] = time.perf_counter() - t

    def setup_repeated(self, fn):
        """Run the repeatable part of set-up three times from scratch (once
        in a traced run, which does not report ``setup_s``); its median
        time counts toward ``setup_s``.  Returns the last result."""
        out = None
        for i in range(1 if self.trace.enabled else 3):
            with self.trace.span("setup.inputs", key=i):
                t = time.perf_counter()
                out = fn()
                self.rep_s.append(time.perf_counter() - t)
        return out

    def timed_loop(self, fn, min_iters: int, max_iters: int = 50) -> list[float]:
        """Call ``fn`` (which returns its own wall seconds) until
        ``--seconds`` have passed and it ran at least ``min_iters``
        times."""
        out: list[float] = []
        t0 = time.perf_counter()
        while len(out) < max_iters and (
            len(out) < min_iters or time.perf_counter() - t0 < self.seconds
        ):
            out.append(fn())
        return out

    def check(self, ok: bool, failed: int, detail=None) -> None:
        self.correct &= bool(ok)
        self.failed += int(failed)
        self.details.extend(detail or [])

    def e2e(self, **kw) -> None:
        self.metrics.update(kw)

    def layer(self, **kw) -> None:
        self.layers.update(kw)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload]
    b = Bench(args)
    if hasattr(wl, "prepare"):
        wl.prepare(b, args.size)

    rss = RssSampler().start()
    with b.trace.span("run", key=args.workload):
        with b.trace.span("session.get_spark"):
            t = time.perf_counter()
            b.spark = start_spark(b.work, b.cores)
            session_s = time.perf_counter() - t
        b.jobs = JobCounter(b.spark)
        try:
            wl.run(b, args.size)
        finally:
            rss.stop()
            stop_spark(b.spark)

    if args.trace:
        b.layer(**{
            "session.get_spark_s": session_s,
            "plans.parser.compile_ms": compile_ms(gen.PROGRAM),
            "jvm.peak_rss_mb": rss.jvm_kib / 1024,
            "python.workers_peak_mb": rss.py_kib / 1024,
            "python.workers_peak": rss.py_procs,
        })
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        b.trace.write(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"))
        if set(b.layers) != set(names):
            raise RuntimeError(f"per-layer metrics {sorted(set(b.layers) ^ set(names))} "
                               "measured but not in BENCHMARK.json, or the other way round")
        values = b.layers
    else:
        b.e2e(setup_s=session_s + sum(b.once_s.values()) + median(b.rep_s))
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if set(b.metrics) != set(names):
            raise RuntimeError(f"end-to-end metrics {sorted(b.metrics)} != BENCHMARK.json {names}")
        values = b.metrics
    shutil.rmtree(b.work, ignore_errors=True)

    print(
        f"# perfbench workload={args.workload} seed={args.seed} cores={b.cores} "
        f"master=local[{b.cores}] trace={args.trace} size={args.size} "
        f"setup_parts={json.dumps({'session': session_s, **b.once_s, 'inputs_median': median(b.rep_s)})} "
        f"info={json.dumps(b.info)}"
    )
    for d in b.details:
        print(f"# check failed: {d}")
    print(json.dumps({
        "correct": b.correct,
        "attempted": int(b.attempted),
        "failed": int(b.failed),
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in names},
    }), flush=True)
    return 0 if b.correct else 1


if __name__ == "__main__":
    sys.exit(main())
