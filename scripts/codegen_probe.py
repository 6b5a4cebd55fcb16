"""Generated Java classes compiled per run and per span of a perfbench workload.

    python scripts/codegen_probe.py --workload detection_eval --seed 1 --runs 5

Builds the same session, inputs and runs as ``perfbench/run.py`` (its
``Bench`` and workload classes, imported unchanged), and reads Spark's
``CodegenMetrics`` compile counter (one count per class Janino compiles
in the JVM) before and after every span and every run. Run 0 is the
cold run; a session whose codegen cache holds the workload's classes
compiles nothing on the warm runs that follow. Prints one JSON line:
compiles per run (``total``, including work between spans) and per span,
plus the ``check`` and ``setup`` phases, and the failed-operation count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import Bench  # noqa: E402
from perfbench.trace import Spans  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


class CompileSpans(Spans):
    """Untraced spans that also count compiles per run and per span."""

    def __init__(self, jvm):
        super().__init__()
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.compiles: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self._run_start = self._hist.getCount()

    def set_run(self, run: str) -> None:
        now = self._hist.getCount()
        self.compiles[self.run]["total"] += now - self._run_start
        self._run_start = now
        super().set_run(run)

    @contextmanager
    def span(self, name: str):
        c0 = self._hist.getCount()
        with super().span(name):
            yield
        self.compiles[self.run][name] += self._hist.getCount() - c0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="codegen-probe-")
    for sub in ("tmp", "spark-local", "input", "out"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    bench = Bench(work)
    try:
        bench.start(traced=False)
        spans = CompileSpans(bench.spark._jvm)
        input_dir = os.path.join(work, "input")
        wl = WORKLOADS[args.workload](bench.spark, spans, args.seed, 1.0, input_dir)
        wl.info = wl.generate(input_dir)
        wl.prepare()
        runs = [f"run{i}" for i in range(args.runs)]
        for run in runs:
            spans.set_run(run)
            bench.one_run(wl, os.path.join(work, "out", run))
        spans.set_run("end")
    finally:
        bench.stop(shutdown_jvm=True)
        shutil.rmtree(work, ignore_errors=True)
    for e in bench.errors[:5]:
        print(e, file=sys.stderr)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "failed": bench.failed,
        "compiles": {k: dict(spans.compiles[k]) for k in ("setup", *runs, "check")},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
