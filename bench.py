"""Per-round benchmark: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Queries are forced through the noop sink so projections actually evaluate
(a count() would let Catalyst prune all computed columns away).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bcg_contacts_data_pipeline_spark.operators.pins import PinScope  # noqa: E402
from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES  # noqa: E402
from bcg_contacts_data_pipeline_spark.session import get_spark  # noqa: E402


#: slowest queries always present in the driver-recorded stdout line —
#: they dominate the board total and are what plan audits look at first
_CORE_SLOWEST = 16


def rotating_report_order(
    timings: dict[str, float], start: int
) -> tuple[list[str], set[str]]:
    """Candidate order for the size-bounded stdout line: the CORE
    slowest queries first (every round), then the remaining queries in
    alphabetical order rotated to begin at ``start`` — the cursor
    persisted in bench_full.json — so successive rounds walk the whole
    registry and every query gets a driver-recorded time at least once
    every ~3 rounds. Returns (order, set-of-rotating-names)."""
    by_cost = sorted(timings, key=timings.get, reverse=True)
    core = by_cost[:_CORE_SLOWEST]
    rest = sorted(n for n in timings if n not in set(core))
    if rest:
        k = start % len(rest)
        rest = rest[k:] + rest[:k]
    return core + rest, set(rest)


def proc_stat_seconds() -> dict[str, float] | None:
    """Cumulative host CPU seconds from the /proc/stat ``cpu`` line
    (user+nice+system as ``busy``, plus ``steal`` and ``idle``), or None
    off-Linux. Recorded as DELTAS around the board and around each
    query so PERF adjudication can read hypervisor contention from the
    artifact instead of prose: the r14 post-mortem found whole boards
    inflated 1.5-10x by steal bursts the min-of-5 calibrations dodge
    (cumulative steal ≈ cumulative user on this VM class). Additions
    only — nothing existing in the stdout contract moves."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts[0] != "cpu":
            return None
        tick = float(os.sysconf("SC_CLK_TCK"))
        v = [int(x) / tick for x in parts[1:]]
        # fields: user nice system idle iowait irq softirq steal ...
        return {
            "busy": v[0] + v[1] + v[2],
            "idle": v[3],
            "steal": v[7] if len(v) > 7 else 0.0,
        }
    except Exception:
        return None


def calibrate(spark, runs: int = 5) -> tuple[float, list[float]]:
    """Host-speed yardstick: a FIXED pure-JVM workload (bit_xor of
    xxhash64 over ``spark.range(8e9)`` by default, whole-stage codegen,
    no IO, no Python workers), timed min-of-``runs``. The same code on this host class
    has measured ±30% per-query and ±9-17% total drift round-to-round
    (PERF.md r4/r8/r9 audits) — two rounds running, separating host
    drift from code regression needed hand-built pinned-worktree A/Bs.
    This number moves with the host, never with engine code, so
    cross-round totals compare as ``total / calibration_s`` and the
    pinned-worktree A/B becomes the exception, not the routine.

    ``bit_xor`` (not sum) aggregates the hashes: the session runs ANSI
    mode, where a long sum of hash values overflows. 8e9 rows measured
    ~1.5-2 s on the reference host — large enough that the min sits
    well above timer noise, small next to the ~160 s board.

    Returns ``(min_of_runs, all_draws)``. The yardstick itself is
    noisy: two same-day r10 draws differed 24% (0.98 vs 1.217 s) while
    the raw board totals differed 1.5%, swinging value_per_calib 130.6
    -> 164.6 on identical code. Five draws instead of three tighten
    the min, and the full draw list lands in bench_full.json so
    cross-round per-calib comparisons can quote a BAND
    (total/max_draw .. total/min_draw) instead of a point — treat any
    two boards whose bands overlap as host drift, not code movement
    (VERDICT r10 ask #3)."""
    rows = int(os.environ.get("SPARK_GRAFT_CALIB_ROWS", 8_000_000_000))
    draws: list[float] = []
    for _ in range(runs):
        start = time.perf_counter()
        spark.range(rows).selectExpr(
            "bit_xor(xxhash64(id)) as h"
        ).write.format("noop").mode("overwrite").save()
        draws.append(round(time.perf_counter() - start, 3))
    return min(draws), draws


def calibrate_parallel(spark, runs: int = 5) -> tuple[float, list[float]]:
    """SECOND host-speed yardstick: a fixed ALL-CORE memory-touching
    workload — 32-task ``spark.range`` hashed into a 2M-key hash
    aggregate and shuffled (map-side 2M-entry aggregation maps per task,
    shuffle write/read, final merge) — timed min-of-``runs``.

    Why a second yardstick (r12 post-mortem): the scalar probe above is
    pure-ALU whole-stage codegen with near-zero memory traffic, and the
    r12 driver board proved it blind to the contention mode that
    actually hit — the board ran ~1.8x slower per-calib under multi-core
    host contention while the scalar calibration drew 1.276 s vs r11's
    1.262 s. The queries that moved (iterative CC, stateful streaming)
    are bound by JVM memory allocation, hashing, and shuffle — exactly
    what this probe exercises across all cores. Adjudication policy
    (PERF.md): compare a mover against the band of WHICHEVER yardstick
    matches the resource it is bound by — scalar for codegen-bound
    scans/projections, parallel for shuffle/agg/state-heavy families.

    3e7 rows / 2,097,152 keys measured ~1.9-2.5 s steady-state on the
    reference host (32 cores) — the same order as the scalar probe, so
    five draws stay cheap next to the board."""
    rows = int(os.environ.get("SPARK_GRAFT_CALIB_PAR_ROWS", 30_000_000))
    tasks = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    draws: list[float] = []
    for _ in range(runs):
        start = time.perf_counter()
        spark.range(0, rows, 1, tasks).selectExpr(
            "xxhash64(id) % 2097152 as k"
        ).groupBy("k").count().write.format("noop").mode(
            "overwrite"
        ).save()
        draws.append(round(time.perf_counter() - start, 3))
    return min(draws), draws


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # argv names = scratch run (never writes the artifact);
    # SPARK_GRAFT_BENCH_QUERIES = dev/test knob that RUNS a subset but
    # otherwise behaves like a full run (writes the artifact pointed at
    # by SPARK_GRAFT_BENCH_FULL — point it away from the committed file)
    only = sys.argv[1:]
    env_only = [
        s
        for s in os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "").split(",")
        if s
    ]
    selected = only or env_only

    # Prior round's full per-query map (committed bench_full.json) — read
    # BEFORE this run overwrites it. Used by the isolation pass below to
    # separate real regressions from host noise.
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL", os.path.join(here, "bench_full.json")
    )
    prior: dict[str, float] = {}
    prior_rotation = 0
    try:
        with open(full_path) as f:
            _prior_payload = json.load(f)
        prior = _prior_payload.get("queries", {})
        prior_rotation = int(_prior_payload.get("rotation_next", 0))
    except (OSError, ValueError):
        pass

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up (untimed): first-query JVM/codegen + Python-worker startup is
    # ~4-5 s of one-time cost that would otherwise be attributed to whichever
    # query happens to run first. Exercise a scan+shuffle and a pandas-UDF
    # boundary once so per-query timings measure the queries.
    import pandas as _pd  # noqa: F401
    from pyspark.sql import functions as _F

    warm = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    warm.groupBy("l_returnflag").count().write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(1000).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    calibration_s, calibration_draws = calibrate(spark)
    print(
        f"# calibration: {calibration_s:.3f}s (draws: {calibration_draws})",
        file=sys.stderr,
    )
    calibration_par_s, calibration_par_draws = calibrate_parallel(spark)
    print(
        f"# calibration_parallel: {calibration_par_s:.3f}s "
        f"(draws: {calibration_par_draws})",
        file=sys.stderr,
    )

    # Each query runs twice and reports the MIN: single-shot numbers on this
    # class of host mix one-time Janino codegen compile (seconds for the
    # wide signature plans) and co-tenant noise into the measurement; the
    # min approximates steady-state per-query latency, which is the number
    # that scales with data volume.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    steal_per_query: dict[str, float] = {}
    board_stat0 = proc_stat_seconds()
    for name, fn in QUERIES.items():
        if selected and name not in selected:
            continue
        best = None
        stat0 = proc_stat_seconds()
        for _ in range(runs):
            # Isolate queries from each other: the scope releases every
            # frame the query persisted or checkpointed, and clearCache
            # drops anything cached outside it, so later timings don't
            # pay another query's storage/GC pressure.
            with PinScope():
                start = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - start
            best = elapsed if best is None or elapsed < best else best
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        stat1 = proc_stat_seconds()
        if stat0 and stat1:
            # host steal seconds burned across this query's timed runs —
            # the contention signal the calibrations' min-of-5 dodges
            steal_per_query[name] = round(stat1["steal"] - stat0["steal"], 2)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # host-speed yardstick + drift-normalized total: cross-round
        # comparisons use value/calibration_s (dimensionless) so a slow
        # host draw reads as drift, not regression (PERF.md r10). The
        # yardstick is itself noisy (r10: two same-day draws 24% apart),
        # so the full draw list + the derived per-calib BAND are
        # recorded; compare bands across rounds, not points.
        "calibration_s": calibration_s,
        "calibration_draws": calibration_draws,
        "value_per_calib": round(total / calibration_s, 2)
        if calibration_s
        else None,
        "value_per_calib_band": [
            round(total / max(calibration_draws), 2),
            round(total / min(calibration_draws), 2),
        ]
        if calibration_draws
        else None,
        # second (all-core, memory-touching) yardstick — see
        # calibrate_parallel. The r12 driver board ran 1.8x slower
        # per-SCALAR-calib purely from multi-core contention the scalar
        # probe could not see; shuffle/agg/state-bound movers adjudicate
        # against THIS band instead (two-yardstick policy, PERF.md r13).
        "calibration_parallel_s": calibration_par_s,
        "calibration_parallel_draws": calibration_par_draws,
        "value_per_calib_parallel": round(total / calibration_par_s, 2)
        if calibration_par_s
        else None,
        "value_per_calib_parallel_band": [
            round(total / max(calibration_par_draws), 2),
            round(total / min(calibration_par_draws), 2),
        ]
        if calibration_par_draws
        else None,
        # carry the rotation cursor forward unconditionally: a round
        # whose stdout line happens to FIT must not reset the persisted
        # cursor to 0 and restart the registry walk (the overflow branch
        # below overwrites this with the advanced cursor when it runs)
        "rotation_next": prior_rotation,
    }
    # Machine-readable host-contention record (VERDICT r14 ask #6,
    # additions-only): board-level /proc/stat deltas on the stdout line
    # (3 compact numbers), the per-query steal map in bench_full.json
    # next to the timings — a query whose raw seconds inflated while its
    # steal_s entry is large is host contention, not code.
    board_stat1 = proc_stat_seconds()
    if board_stat0 and board_stat1:
        payload["host_busy_s"] = round(
            board_stat1["busy"] - board_stat0["busy"], 1
        )
        payload["host_steal_s"] = round(
            board_stat1["steal"] - board_stat0["steal"], 1
        )
        payload["host_idle_s"] = round(
            board_stat1["idle"] - board_stat0["idle"], 1
        )
    if steal_per_query:
        payload["steal_s"] = steal_per_query

    # Isolation pass: this host swings per-query wall times ±30% (one 9×
    # outlier on record), so a full-run delta alone can't distinguish a
    # regression from co-tenant noise. Any query whose full-run number
    # moved >30% vs the prior round's bench_full.json is re-measured
    # cold-ish: min of 3 back-to-back runs after a cache clear. The
    # artifact records full-run, isolated, and prior side by side, so a
    # round-over-round delta is adjudicated machine-readably instead of
    # in triage prose. Bounded: at most the 10 largest movers re-run.
    if prior:
        movers = [
            n
            for n, t in timings.items()
            if n in prior
            and prior[n] > 0
            and abs(t - prior[n]) / prior[n] > 0.30
        ]
        movers.sort(key=lambda n: timings[n], reverse=True)
        isolated: dict[str, dict[str, float]] = {}
        for name in movers[:10]:
            best = None
            for _ in range(3):
                spark.catalog.clearCache()
                with PinScope():
                    start = time.perf_counter()
                    QUERIES[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    elapsed = time.perf_counter() - start
                best = elapsed if best is None or elapsed < best else best
            isolated[name] = {
                "full_run": timings[name],
                "isolated_min3": round(best, 3),
                "prior": prior[name],
            }
            print(
                f"# isolated {name}: full={timings[name]:.3f}s "
                f"min3={best:.3f}s prior={prior[name]:.3f}s",
                file=sys.stderr,
            )
        if isolated:
            payload["isolated"] = isolated

    # The driver keeps only the LAST 2000 chars of stdout and parses the
    # tail line — with 70+ queries the full per-query map outgrew that
    # window and `parsed` came back null (round-5 flag). The full map
    # always lands in bench_full.json next to this script; the stdout
    # line self-bounds: all queries when they fit, else a CORE of the
    # slowest plus a ROTATING slice of the rest (cursor persisted in
    # bench_full.json as rotation_next), so every query gets a
    # driver-recorded time at least once every ~3 rounds instead of the
    # same slowest ~64 forever.
    stdout_payload = dict(payload)
    # per-query steal map lives in bench_full.json only; the stdout line
    # keeps the 3 board-level host_* numbers
    stdout_payload.pop("steal_s", None)
    line = json.dumps(stdout_payload, separators=(",", ":"))
    budget = 1900
    if len(line) > budget and "isolated" in stdout_payload:
        # the full isolation triage lives in bench_full.json; the stdout
        # line keeps a count so the driver sees the pass ran
        stdout_payload["isolated_n"] = len(stdout_payload.pop("isolated"))
        line = json.dumps(stdout_payload, separators=(",", ":"))
    if len(line) > budget:
        order, rest_names = rotating_report_order(timings, prior_rotation)
        kept: dict[str, float] = {}
        for name in order:
            trial = dict(stdout_payload)
            trial["queries"] = {**kept, name: timings[name]}
            trial["queries_omitted"] = len(timings) - len(trial["queries"])
            trial["detail"] = "bench_full.json"
            if len(json.dumps(trial, separators=(",", ":"))) > budget:
                break
            kept[name] = timings[name]
        stdout_payload["queries"] = kept
        stdout_payload["queries_omitted"] = len(timings) - len(kept)
        stdout_payload["detail"] = "bench_full.json"
        # advance the cursor past the rotating names reported this run
        taken = sum(1 for n in kept if n in rest_names)
        payload["rotation_next"] = (
            (prior_rotation + taken) % len(rest_names) if rest_names else 0
        )
        line = json.dumps(stdout_payload, separators=(",", ":"))

    # a filtered run (bench.py <query...>) must not clobber the full-map
    # artifact the stdout line's detail pointer references — the file
    # keeps the FULL queries + isolated maps plus the rotation cursor.
    # The same guard covers env-based selection: SPARK_GRAFT_BENCH_QUERIES
    # with SPARK_GRAFT_BENCH_FULL left at its default would replace the
    # committed full board (which next round's isolation pass and
    # rotation cursor read) with a partial map — a subset run writes
    # only when the caller EXPLICITLY pointed the artifact elsewhere.
    env_selected_default_path = bool(env_only) and not os.environ.get(
        "SPARK_GRAFT_BENCH_FULL"
    )
    if env_selected_default_path:
        print(
            "# subset run (SPARK_GRAFT_BENCH_QUERIES): not writing "
            f"{full_path} — set SPARK_GRAFT_BENCH_FULL to an explicit "
            "path to persist a partial board",
            file=sys.stderr,
        )
    if not only and not env_selected_default_path:
        with open(full_path, "w") as f:
            json.dump(payload, f)
    print(line)


if __name__ == "__main__":
    main()
