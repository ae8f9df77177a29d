"""Spans, Spark event-log counters and peak RSS for the benchmark.

Spans are recorded from the benchmark's side only: ``Tracer.wrap_layers``
replaces a package function with a timing wrapper in every package
module that holds it, so calls through ``module.fn`` and through
``from module import fn`` are both seen. The package itself carries no
instrumentation. Spans stay in memory until the run reports.

A span around a plan-building function covers building the plan plus
any eager action the function runs; execution time shows in the sink
spans (``query.<name>.exec``, ``io.writers.*``).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import time

PKG = "bcg_contacts_data_pipeline_spark"

#: span name -> (module, function) wrapped in a traced run
LAYER_FUNCTIONS = {
    "session.get_spark": ("session", "get_spark"),
    "pipeline.run_cli": ("pipeline", "run_cli"),
    "plans.contacts.run_pipeline": ("plans.contacts", "run_pipeline"),
    "plans.contacts.mailchimp_enrich": ("plans.contacts", "mailchimp_enrich"),
    "plans.contacts.fill_missing": ("plans.contacts", "fill_missing"),
    "plans.contacts.clean_fields": ("plans.contacts", "clean_fields"),
    "plans.contacts.dedup_contacts": ("plans.contacts", "dedup_contacts"),
    "plans.contacts.validate_contacts": ("plans.contacts", "validate_contacts"),
    "operators.enrich.kofn_enrich": ("operators.enrich", "kofn_enrich"),
    "operators.enrich.two_key_enrich": ("operators.enrich", "two_key_enrich"),
    "operators.dedup.most_complete_merge": ("operators.dedup", "most_complete_merge"),
    "operators.dedup.renumber": ("operators.dedup", "renumber"),
    "io.readers.read_tsv": ("io.readers", "read_tsv"),
    "io.readers.read_sources": ("io.readers", "read_sources"),
    "io.writers.write_tsv_single": ("io.writers", "write_tsv_single"),
    "io.writers.write_json_log": ("io.writers", "write_json_log"),
    "io.schemas.read_table": ("io.schemas", "read_table"),
    "operators.similarity.ngram_jaccard_pairs": (
        "operators.similarity",
        "ngram_jaccard_pairs",
    ),
    "operators.similarity.ngram_contamination": (
        "operators.similarity",
        "ngram_contamination",
    ),
    "operators.similarity.prefix_filter_pairs": (
        "operators.similarity",
        "prefix_filter_pairs",
    ),
    "operators.graph.incremental_components": (
        "operators.graph",
        "incremental_components",
    ),
    "streaming.runner.run_available_now": ("streaming.runner", "run_available_now"),
}


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` and
    ``wrap_layers`` no-ops, which is how the untraced runs use it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        # [name, start, end, parent index, seconds spent in bookkeeping]
        self.spans: list[list] = []
        self._stack: list[int] = []

    def _open(self, name: str) -> int:
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, 0.0, 0.0, parent, 0.0])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        t0 = time.perf_counter()
        self.spans[idx][1] = t0
        self.spans[idx][4] = t0 - b0
        return idx

    def _close(self, idx: int) -> None:
        t1 = time.perf_counter()
        self._stack.pop()
        span = self.spans[idx]
        span[2] = t1
        span[4] += time.perf_counter() - t1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap_layers(self) -> None:
        """Wrap every function of LAYER_FUNCTIONS (no-op when disabled)."""
        if not self.enabled:
            return
        for name, (mod, fn) in LAYER_FUNCTIONS.items():
            self._wrap(f"{PKG}.{mod}", fn, name)

    def _wrap(self, module: str, fn: str, name: str) -> None:
        orig = getattr(importlib.import_module(module), fn)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = tracer._open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._close(idx)

        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG):
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, traced)

    def totals(self, t0: float, t1: float) -> dict[str, float]:
        """Seconds per span name over spans that start in [t0, t1]; a
        span nested in a span of the same name is not counted twice.
        ``<name>_self`` is the span's time minus its direct children;
        ``trace.overhead`` is the time the tracer spent on bookkeeping."""
        out: dict[str, float] = {"trace.overhead": 0.0}
        child: dict[int, float] = {}
        for name, s0, s1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] = child.get(parent, 0.0) + (s1 - s0)
        for i, (name, s0, s1, parent, cost) in enumerate(self.spans):
            if not t0 <= s0 <= t1:
                continue
            out["trace.overhead"] += cost
            if self._nested_in_same(i):
                continue
            out[name] = out.get(name, 0.0) + (s1 - s0)
            key = f"{name}_self"
            out[key] = out.get(key, 0.0) + (s1 - s0) - child.get(i, 0.0)
        return out

    def _nested_in_same(self, i: int) -> bool:
        name, parent = self.spans[i][0], self.spans[i][3]
        while parent >= 0:
            if self.spans[parent][0] == name:
                return True
            parent = self.spans[parent][3]
        return False


def spark_counters(event_log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Job, stage and task counters of the jobs submitted in
    [t0_ms, t1_ms] (epoch ms), read from the Spark event log of a
    stopped session. Streaming micro-batch jobs run in their own job
    groups, so jobs are selected by submission time, not by group."""
    files = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    jobs = stages_seen = 0
    window_stages: set[int] = set()
    c = dict.fromkeys(
        (
            "tasks",
            "failed_tasks",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
            "executor_run_s",
            "executor_cpu_s",
            "gc_s",
        ),
        0.0,
    )
    wanted = (
        '{"Event":"SparkListenerJobStart"',
        '{"Event":"SparkListenerStageCompleted"',
        '{"Event":"SparkListenerTaskEnd"',
    )
    with open(files[0]) as f:
        for line in f:
            if not line.startswith(wanted):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if t0_ms <= ev["Submission Time"] <= t1_ms:
                    jobs += 1
                    window_stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in window_stages:
                    stages_seen += 1
            elif ev["Stage ID"] in window_stages:
                c["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return {"jobs": jobs, "stages": stages_seen, **c}


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water RSS of this Python process and of the Spark JVM,
    whichever is larger, in MiB."""
    peaks = []
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks.append(int(line.split()[1]) / 1024)
        except OSError:
            pass
    return max(peaks)
