"""Repository benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload contacts_cli --seed 7 --seconds 5 --trace 0

Run from the checkout root. One process, one local Spark session with
``SPARK_GRAFT_CPUS`` = the CPUs this process may use. Metric names and
units come from BENCHMARK.json: ``--trace 0`` prints its ``end_to_end``
metrics, ``--trace 1`` its ``per_layer`` metrics from a run whose layer
functions are wrapped in spans and whose Spark session writes an event
log. Everything the run writes (inputs, Spark local dirs, warehouse,
Derby log, event log, outputs) goes under ``.perfbench_work/<pid>`` in
the checkout and is removed at exit. Per-pass detail goes to stderr;
the last stdout line is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "bcg_contacts_data_pipeline_spark"


def _isolate(work: str) -> None:
    """Point every scratch location at ``work`` before Spark starts."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM, spark-submit's launcher included: temp files under work
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData"
    )
    os.chdir(work)  # derby.log and metastore_db land in the cwd


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM (it exits when its stdin
    closes) and wait for it and every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    workers = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _median_of(dicts: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}


def _layer_values(run, tracer, event_log: str, neardup: list[str]) -> dict[str, float]:
    """Per-layer numbers of each timed pass, median over passes."""
    from perfbench.tracing import LAYER_FUNCTIONS, spark_counters

    setup = tracer.totals(0.0, float("inf"))
    per_pass = []
    for p in run.passes:
        spans = tracer.totals(p.t0, p.t1)
        v = {f"{name}_s": spans.get(name, 0.0) for name in LAYER_FUNCTIONS}
        v["session.get_spark_s"] = setup.get("session.get_spark", 0.0)
        v["pipeline.run_cli_self_s"] = spans.get("pipeline.run_cli_self", 0.0)
        for phase in ("build", "exec"):
            v[f"query.{phase}_s"] = sum(
                t
                for k, t in spans.items()
                if k.startswith("query.") and k.endswith(f".{phase}")
            )
            for q in neardup:
                v[f"query.{q}.{phase}_s"] = spans.get(f"query.{q}.{phase}", 0.0)
        v.update(
            {
                f"spark.{k}": c
                for k, c in spark_counters(event_log, p.e0_ms, p.e1_ms).items()
            }
        )
        v["host.busy_s"] = p.busy_s
        v["host.steal_s"] = p.steal_s
        v["trace.wall_s"] = p.wall_s
        v["trace.overhead_s"] = spans["trace.overhead"]
        per_pass.append(v)
    return _median_of(per_pass)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT]
    from perfbench import workloads as W
    from perfbench.tracing import Tracer, peak_rss_mb

    if args.workload not in W.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    spark = None
    try:
        _isolate(work)
        t0 = time.perf_counter()
        tracer = Tracer(trace)
        tracer.wrap_layers()
        from bcg_contacts_data_pipeline_spark import session

        spark = session.get_spark("perfbench", extra_conf=_spark_conf(work, trace))
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        setup_s = time.perf_counter() - t0
        ctx = W.Ctx(spark, tracer, ROOT, work, args.seed, args.seconds)
        run = W.WORKLOADS[args.workload](ctx)
        from pyspark import SparkContext

        rss = peak_rss_mb(SparkContext._gateway.proc.pid)
        _stop_spark(spark)
        spark = None
        if trace:
            logdir = os.path.join(work, "eventlog")
            values = _layer_values(run, tracer, logdir, W.NEARDUP)
            wanted = spec["per_layer"]
        else:
            values = {
                "setup_s": setup_s,
                "wall_s": statistics.median(p.wall_s for p in run.passes),
                "query_p50_s": statistics.median(t for p in run.passes for t in p.op_s),
                "peak_rss_mb": rss,
            }
            wanted = spec["end_to_end"]
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch dir is still there
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "correct": run.correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
