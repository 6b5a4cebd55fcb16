"""Benchmark driver: one workload, one seed, a closed loop of runs.

    python3 perfbench/run.py --workload detection_eval --seed 1 --seconds 5 --trace 0

One Python process is the only client. It starts a ``local[nproc]``
session, makes the seeded inputs, runs the workload once cold, then warm
back to back until ``--seconds`` have passed (at least two warm runs),
checks every run's outputs outside the timed region, and prints one JSON
line of run information followed by the result line
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace 1``
splits ``--seconds`` between untraced warm runs and, after restarting the
session with an event log and a job group per span, traced warm runs; it
reports the per-layer metrics plus the tracing overhead (traced minus
untraced ``run_s``).

All files live under ``.perfbench_work/`` in the working directory and
are removed on exit.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import platform
import resource
import statistics
import sys
import time
import traceback

import numpy
import pandas
import pyarrow
import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import Spans, per_layer_metrics, span_metrics  # noqa: E402
from perfbench.workloads import WORKLOADS, clear  # noqa: E402

SETUP_REPEATS = 3
MIN_WARM = 2


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _reset_peak_rss() -> None:
    """Start peak-RSS accounting afresh, after handing the set-up's freed
    heap back to the OS so the baseline does not depend on the seed."""
    gc.collect()
    try:
        trim = ctypes.CDLL("libc.so.6").malloc_trim
        trim.argtypes, trim.restype = [ctypes.c_size_t], ctypes.c_int
        trim(0)
    except (OSError, AttributeError):
        pass
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _peak_rss_mb() -> float:
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


class Bench:
    """The session, the run loop and the tally of attempted and failed
    operations for one process."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.written: list[int] = []  # bytes each run left in its output

    # ---------------------------------------------------------- session
    def conf(self, traced: bool) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            # Python workers import lours_spark from the checkout, not
            # from whatever the working directory happens to be
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self, traced: bool) -> float:
        from lours_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=_nproc(),
            shuffle_partitions=_nproc(),
            extra_conf=self.conf(traced),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self, shutdown_jvm: bool) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if shutdown_jvm and gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ------------------------------------------------------------- runs
    def one_run(self, wl, out: str) -> float | None:
        """One timed run plus its (untimed) checks; None if it raised."""
        clear(out)
        self.attempted += len(wl.ops)
        t0 = time.perf_counter()
        try:
            result = wl.run(out)
        except Exception:
            self.failed += len(wl.ops)
            self.errors.append(traceback.format_exc(limit=3))
            clear(out)
            return None
        elapsed = time.perf_counter() - t0
        self.written.append(gen.dir_bytes(out))
        try:
            wl.spans.set_run("check")  # checks' Spark jobs stay unattributed
            bad = wl.check(result, out)
        except Exception:
            bad = set(wl.ops)
            self.errors.append(traceback.format_exc(limit=3))
        if bad:
            self.errors.append(f"wrong output: {sorted(bad)}")
        self.failed += len(bad)
        clear(out)
        return elapsed

    def loop(self, wl, seconds: float, label: str, traced_runs: list | None = None):
        """Warm runs back to back until ``seconds`` have passed and at
        least MIN_WARM runs succeeded."""
        times = []
        t_end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < t_end or (len(times) < MIN_WARM and i < MIN_WARM + 3):
            run_id = f"{label}{i}"
            wl.spans.set_run(run_id)
            t = self.one_run(wl, os.path.join(self.work, "out", run_id))
            if t is not None:
                times.append(t)
                if traced_runs is not None:
                    traced_runs.append(run_id)
            i += 1
        return times


def _host(spark) -> dict:
    return {
        "nproc": _nproc(),
        "mem_total_mb": round(_mem_total_mb()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def measure(args, bench: Bench, work: str) -> tuple[dict, dict]:
    """Set up, run, and return (run information, metrics)."""
    # ------------------------------------------------------------ set-up
    t_start = time.perf_counter()
    session_s = bench.start(traced=False)
    wl = WORKLOADS[args.workload](bench.spark, Spans(), args.seed, args.scale, "")
    # setup_s takes the median of SETUP_REPEATS input generations; the
    # session start and the Spark-side preparation are too slow to repeat
    wl.input_dir = os.path.join(work, "input")
    gen_times = []
    for _ in range(SETUP_REPEATS):
        clear(wl.input_dir)
        t0 = time.perf_counter()
        wl.info = wl.generate(wl.input_dir)
        gen_times.append(time.perf_counter() - t0)
    digest = gen.digest_dir(wl.input_dir)  # selftest compares it across processes
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(gen_times) + prepare_s
    input_bytes, rows = wl.input_bytes(), wl.input_rows()

    # -------------------------------------------------------------- runs
    _reset_peak_rss()
    wl.spans.set_run("cold")
    t_cold = time.perf_counter()
    cold = bench.one_run(wl, os.path.join(work, "out", "cold"))
    t_warm = time.perf_counter()
    seconds = args.seconds / 2 if args.trace else args.seconds
    warm = bench.loop(wl, seconds, "warm")
    peak_rss = _peak_rss_mb()
    if cold is None or not warm:
        raise RuntimeError("no successful run to time")
    run_s = statistics.median(warm)
    info_line = {
        "workload": args.workload,
        "seed": args.seed,
        "input_digest": digest,
        "sizes": wl.info["sizes"],
        "input_rows": rows,
        "input_bytes": input_bytes,
        "samples": {"run_s": len(warm), "cold_run_s": 1, "generate_s": SETUP_REPEATS},
        "session_start_s": round(session_s, 3),
        "generate_s": [round(t, 3) for t in gen_times],
        "prepare_s": round(prepare_s, 3),
        "run_s_samples": [round(t, 3) for t in warm],
        # wall time of the phases of this process, checks included
        "phases_s": {
            "setup": round(t_cold - t_start, 2),
            "cold": round(t_warm - t_cold, 2),
            "warm": round(time.perf_counter() - t_warm, 2),
        },
        "host": _host(bench.spark),
    }
    if not args.trace:
        return info_line, {
            "run_s": (run_s, "s"),
            "rows_per_s": (rows / run_s, "1/s"),
            "cold_run_s": (cold, "s"),
            "setup_s": (setup_s, "s"),
            "driver_peak_rss_mb": (peak_rss, "MB"),
            "write_amp": (statistics.median(bench.written) / input_bytes, "ratio"),
        }

    # ---------------------------------------------------- traced session
    bench.stop(shutdown_jvm=False)
    bench.start(traced=True)
    wl.spark, wl.spans = bench.spark, Spans(bench.spark.sparkContext, traced=True)
    wl.spans.set_run("tcold")  # first run of the new session: not sampled
    bench.one_run(wl, os.path.join(work, "out", "tcold"))
    traced_runs: list[str] = []
    traced = bench.loop(wl, seconds, "traced", traced_runs)
    bench.stop(shutdown_jvm=False)
    if not traced:
        raise RuntimeError("no successful traced run")
    per_span = span_metrics(os.path.join(work, "eventlog"), wl.spans.records, traced_runs)
    info_line["samples"]["traced_run_s"] = len(traced)
    return info_line, per_layer_metrics(
        per_span, args.workload, session_s, input_bytes,
        statistics.median(traced) - run_s,
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every input size (the self-test uses a tiny one)")
    args = ap.parse_args(argv)

    # fails here, before anything is written, when the package is absent
    import lours_spark  # noqa: F401

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    work = os.path.join(
        os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    clear(work)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")

    bench = Bench(work)
    try:
        info_line, metrics = measure(args, bench, work)
    except Exception:
        traceback.print_exc()
        for e in bench.errors[:5]:
            print(e, file=sys.stderr)
        return 1
    finally:
        try:
            bench.stop(shutdown_jvm=True)
        finally:
            clear(work)

    for e in bench.errors[:5]:
        print(e, file=sys.stderr)
    print(json.dumps(info_line, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
