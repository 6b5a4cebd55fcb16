"""Spans around library calls, and per-span Spark work from the event log.

A span is named ``<layer>.<call>``. Every run times its spans with the
wall clock. In a traced run the span also sets a Spark job group, and the
session writes an event log; :func:`span_metrics` then attributes jobs,
stages and task metrics to the span whose group started them.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

#: every span a workload may open, in the order the workloads call them
SPANS = {
    "detection_eval": [
        "io.from_parquet",
        "dataset.check",
        "evaluation.compute_matches",
        "evaluation.compute_precision_recall",
        "evaluation.compute_confusion_matrix",
        "evaluation.compute_count_error",
        "evaluation.to_parquet",
    ],
    "corpus_increment": [
        "pipeline.curate_documents",
        "operators.minhash_lsh_pairs_incremental",
        "split.connected_components",
        "operators.pack_chunked",
        "pyspark.write_parquet",
    ],
}
SPAN_FIELDS = ("wall_s", "driver_s", "task_s", "jobs", "stages", "shuffle_mb")
#: spans whose work crosses into Python workers (Arrow batches)
PY_SPANS = (
    "evaluation.compute_matches",
    "evaluation.compute_precision_recall",
    "evaluation.compute_confusion_matrix",
)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def per_layer_names() -> list[str]:
    names = ["session.get_spark.wall_s"]
    for spans in SPANS.values():
        for span in spans:
            names += [f"{span}.{f}" for f in SPAN_FIELDS]
            if span in PY_SPANS:
                names.append(f"{span}.py_mb")
    names += [
        "evaluation.py_passes",
        "operators.minhash_lsh_pairs_incremental.shuffle_per_batch_byte",
        "trace_overhead_s",
    ]
    return names


def unit_of(name: str) -> str:
    field = name.rpartition(".")[2]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    return "count" if field in ("jobs", "stages") else "ratio"


def per_layer_metrics(
    per_span: dict, workload: str, session_s: float, batch_bytes: int, overhead_s: float
) -> dict[str, tuple[float, str]]:
    """Every per-layer metric name with its value for this workload; the
    spans of the other workloads read 0."""
    values = {"session.get_spark.wall_s": session_s, "trace_overhead_s": overhead_s}
    for span, m in per_span.items():
        for field, v in m.items():
            values[f"{span}.{field}"] = v
    if workload == "detection_eval":
        # greedy-kernel stages per run against the two matchings it needs
        # (by category, and category-agnostic for the confusion matrix)
        values["evaluation.py_passes"] = sum(
            m["py_stages"] for s, m in per_span.items() if s.startswith("evaluation.")
        ) / 2
    mh = per_span.get("operators.minhash_lsh_pairs_incremental")
    if mh:
        values["operators.minhash_lsh_pairs_incremental.shuffle_per_batch_byte"] = (
            mh["shuffle_mb"] * 1e6 / batch_bytes
        )
    return {n: (float(values.get(n, 0.0)), unit_of(n)) for n in per_layer_names()}


class Spans:
    """Wall-clock spans of one process; job groups when ``traced``."""

    def __init__(self, sc=None, traced: bool = False):
        self.sc = sc
        self.traced = traced
        self.run = "setup"
        self.records: list[tuple[str, str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if self.traced:
            self.sc.setJobGroup(f"{self.run}|{name}", name)
        t0 = time.time()
        try:
            yield
        finally:
            self.records.append((self.run, name, t0, time.time()))
            if self.traced:
                self.sc.setJobGroup(f"{self.run}|-", "unattributed")

    def set_run(self, run: str) -> None:
        self.run = run
        if self.traced:
            self.sc.setJobGroup(f"{run}|-", "unattributed")


def _read_events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                yield json.loads(line)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def span_metrics(log_dir: str, records, runs: list[str]) -> dict[str, dict]:
    """Median over ``runs`` of each span's metrics, keyed by span name.

    ``driver_s`` is the part of the span's wall time during which none of
    its tasks ran; ``task_s`` sums executor run time; ``shuffle_mb``
    sums shuffle bytes written; ``py_mb`` sums Arrow bytes sent to and
    returned from Python workers; ``py_stages`` counts the stages that
    sent any.
    """
    stage_group: dict[int, str] = {}
    job_count: dict[str, int] = defaultdict(int)
    acc: dict[str, dict] = defaultdict(
        lambda: {"task_ms": 0.0, "shuffle": 0.0, "py": 0.0, "intervals": [],
                 "stages": set(), "py_stages": set()}
    )
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                job_count[group] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            a = acc[group]
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            a["stages"].add(ev["Stage ID"])
            a["task_ms"] += tm.get("Executor Run Time", 0)
            a["shuffle"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["intervals"].append((info["Launch Time"], info["Finish Time"]))
            for u in info.get("Accumulables", []):
                if u.get("Name") in (PY_SENT, PY_RECEIVED):
                    a["py"] += float(u.get("Update") or 0)
                    if u["Name"] == PY_SENT and float(u.get("Update") or 0) > 0:
                        a["py_stages"].add(ev["Stage ID"])

    per_span: dict[str, list[dict]] = defaultdict(list)
    for run, name, t0, t1 in records:
        if run not in runs:
            continue
        a = acc.get(f"{run}|{name}") or acc.default_factory()
        lo, hi = t0 * 1000, t1 * 1000
        clipped = [(max(s, lo), min(e, hi)) for s, e in a["intervals"] if e > lo and s < hi]
        wall = t1 - t0
        per_span[name].append(
            {
                "wall_s": wall,
                "driver_s": max(0.0, wall - _union_ms(clipped) / 1000),
                "task_s": a["task_ms"] / 1000,
                "jobs": job_count.get(f"{run}|{name}", 0),
                "stages": len(a["stages"]),
                "shuffle_mb": a["shuffle"] / 1e6,
                "py_mb": a["py"] / 1e6,
                "py_stages": len(a["py_stages"]),
            }
        )
    return {
        name: {k: statistics.median(s[k] for s in samples) for k in samples[0]}
        for name, samples in per_span.items()
    }
