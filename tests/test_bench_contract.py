"""The driver-contract smoke for bench.py: it must EXIT 0 and print one
valid JSON line with the agreed keys, whatever else happens. Round 3's
board loss surfaced as exactly this (bench rc=1, no round numbers), so
the contract is tested in-suite, not just exercised by the driver.

Runs a real subprocess (fresh JVM) over two cheap queries at sf0.001 —
~1 min, and the only test that exercises bench.py's own code path
(warm-up, min-of-N, cache isolation, JSON emission).
"""

import json
import os
import subprocess
import sys

from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_contract_json():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_CALIB_ROWS="50000000",  # keep the yardstick quick on 4 cpus
        SPARK_GRAFT_CALIB_PAR_ROWS="2000000",  # ditto for the all-core probe
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"),
         "hash_split", "error_histogram"],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, f"bench.py rc={proc.returncode}\n{proc.stderr[-2000:]}"
    json_lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert len(json_lines) == 1, f"expected ONE JSON line on stdout:\n{proc.stdout}"
    payload = json.loads(json_lines[0])
    assert payload["metric"] == "total_query_wall_seconds"
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert set(payload["queries"]) == {"hash_split", "error_histogram"}
    assert payload["value"] > 0
    assert abs(sum(payload["queries"].values()) - payload["value"]) < 0.01
    # host-speed yardstick: present, positive, and consistent with the
    # drift-normalized total (PERF.md r10 calibration apparatus)
    assert payload["calibration_s"] > 0
    assert payload["value_per_calib"] == round(
        payload["value"] / payload["calibration_s"], 2
    )
    # the yardstick is noisy (r10: same-day draws 24% apart), so the
    # artifact carries every draw + the derived per-calib BAND; the
    # min IS calibration_s, and the band brackets the point estimate
    draws = payload["calibration_draws"]
    assert len(draws) == 5 and min(draws) == payload["calibration_s"]
    lo, hi = payload["value_per_calib_band"]
    assert lo <= payload["value_per_calib"] <= hi
    # SECOND yardstick (r12 post-mortem): the all-core memory-touching
    # probe that sees the multi-core contention the scalar one is blind
    # to. Same contract shape: 5 draws, min is the point estimate, the
    # per-calib band brackets it. Shuffle/agg/state-bound movers
    # adjudicate against THIS band (two-yardstick policy, PERF.md r13).
    assert payload["calibration_parallel_s"] > 0
    pdraws = payload["calibration_parallel_draws"]
    assert len(pdraws) == 5
    assert min(pdraws) == payload["calibration_parallel_s"]
    assert payload["value_per_calib_parallel"] == round(
        payload["value"] / payload["calibration_parallel_s"], 2
    )
    plo, phi = payload["value_per_calib_parallel_band"]
    assert plo <= payload["value_per_calib_parallel"] <= phi


def test_certification_rotation_ignores_failed_rows(tmp_path):
    """A CORRECTNESS row with err set or rows_match false must NOT count
    as certified — the query has to stay at the head of the rotation so
    the driver re-verifies it next round (r01/r03 on disk contain real
    err rows; counting them would rotate a regression out of the
    50-entry window exactly when it needs re-checking)."""
    import json

    from __spark_entry__ import _certification_rounds

    (tmp_path / "CORRECTNESS_r07.json").write_text(
        json.dumps(
            {
                "good": {"rows_match": True, "hash_match": True, "err": None},
                "errored": {"rows_match": None, "err": "boom"},
                "mismatched": {"rows_match": False, "err": None},
                # equal cardinality, mismatched CONTENT: must not certify
                "hash_mismatched": {
                    "rows_match": True, "hash_match": False, "err": None,
                },
                # rows-only weaker check (no hash recorded): certifies —
                # rows-only is the strongest check that query can get
                "rows_only": {"rows_match": True, "hash_match": None, "err": None},
                "not_a_row": "garbage",
            }
        )
    )
    last = _certification_rounds(root=str(tmp_path))
    assert last == {"good": 7, "rows_only": 7}


def test_every_query_has_oracle_and_unique_columns(spark):
    """Driver-contract structure: every queries() entry carries an
    oracle_sql() twin (none of the current board is rows-only), and no
    batch query emits duplicate column names — the driver's compare
    sorts columns by name before hashing, so a duplicate silently
    corrupts the comparison rather than failing it."""
    import __spark_entry__ as entry

    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert set(qs) == set(os_), set(qs) ^ set(os_)
    for name, fn in qs.items():
        if name.startswith("stream_"):
            continue  # building a streaming query executes it
        # the scope releases what building materialized (persists and
        # checkpoints alike; clearCache never freed the checkpoints)
        with PinScope():
            cols = fn(spark, SF_SMALL).columns
        assert len(cols) == len(set(cols)), (name, cols)


def test_bench_isolation_pass_adjudicates_big_deltas(tmp_path):
    """Round-6 verdict: a +66% full-run delta was triaged in prose
    because the bench artifact records only noisy full-run numbers. Now
    any query whose wall time moved >40% vs the prior round's
    bench_full.json is re-measured (min of 3) in the same run and both
    numbers land in the artifact. Simulated here with a prior file
    claiming hash_split used to take 1000x longer."""
    prior = {
        "metric": "total_query_wall_seconds",
        "queries": {"hash_split": 500.0, "error_histogram": 0.001},
    }
    full = tmp_path / "bench_full.json"
    full.write_text(json.dumps(prior))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_CALIB_ROWS="50000000",
        # the all-core probe's default 30M rows is sized for 32 cores;
        # at the test's 4 cpus the 5 draws alone cost ~50 s of the
        # subprocess timeout (measured r14: this test ran 247 s quiet
        # and tipped past 300 s under suite co-tenancy)
        SPARK_GRAFT_CALIB_PAR_ROWS="2000000",
        SPARK_GRAFT_BENCH_FULL=str(full),
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"),
         "hash_split", "error_histogram"],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][0]
    )
    iso = payload["isolated"]
    # both queries moved >40% vs the fake prior -> both adjudicated
    assert set(iso) == {"hash_split", "error_histogram"}
    for name, row in iso.items():
        assert set(row) == {"full_run", "isolated_min3", "prior"}
        assert row["prior"] == prior["queries"][name]
        assert row["isolated_min3"] > 0
    # a filtered (argv) run must NOT overwrite the full-map artifact
    assert json.loads(full.read_text()) == prior


def test_rotation_cursor_survives_fitting_rounds(tmp_path):
    """ADVICE r9: rotation_next was persisted only when the stdout line
    overflowed the 1900-char budget — a round whose payload happened to
    FIT silently reset the cursor to 0, restarting the registry walk.
    A 2-query run (whose line trivially fits) must carry the prior
    cursor forward into the written artifact."""
    prior = {
        "metric": "total_query_wall_seconds",
        "queries": {"hash_split": 0.5, "error_histogram": 0.5},
        "rotation_next": 42,
    }
    full = tmp_path / "bench_full.json"
    full.write_text(json.dumps(prior))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_CALIB_ROWS="50000000",
        SPARK_GRAFT_CALIB_PAR_ROWS="2000000",  # sized for 4 cpus, see above
        SPARK_GRAFT_BENCH_FULL=str(full),
        # env selection (not argv): runs a subset but writes the artifact
        SPARK_GRAFT_BENCH_QUERIES="hash_split,error_histogram",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    written = json.loads(full.read_text())
    assert written["rotation_next"] == 42
    assert set(written["queries"]) == {"hash_split", "error_histogram"}
    assert written["calibration_s"] > 0


def test_env_subset_refuses_default_artifact_path():
    """ADVICE r10: SPARK_GRAFT_BENCH_QUERIES with SPARK_GRAFT_BENCH_FULL
    left at its default used to overwrite the COMMITTED bench_full.json
    with a partial map — destroying the full board the next round's
    isolation pass and rotation cursor read. A subset run now refuses
    to write the default artifact path (explicit SPARK_GRAFT_BENCH_FULL
    required, as the test above uses)."""
    committed_path = os.path.join(REPO, "bench_full.json")
    with open(committed_path) as f:
        committed = f.read()
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_CALIB_ROWS="50000000",
        SPARK_GRAFT_CALIB_PAR_ROWS="2000000",  # sized for 4 cpus, see above
        SPARK_GRAFT_BENCH_QUERIES="hash_split",
    )
    env.pop("SPARK_GRAFT_BENCH_FULL", None)
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, timeout=300, env=env, cwd=REPO,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "not writing" in proc.stderr
        with open(committed_path) as f:
            assert f.read() == committed, (
                "subset run clobbered the committed bench_full.json"
            )
    finally:
        with open(committed_path, "w") as f:
            f.write(committed)


def test_force_head_overrides_recent_certification(tmp_path, monkeypatch):
    """A query listed in _FORCE_HEAD (semantics/oracle changed this
    round) must sort ahead of everything merely stale, even when it has
    the NEWEST certification row — otherwise a changed query certified
    last round sits outside the driver's 50-row window exactly when its
    new form needs re-checking."""
    import __spark_entry__ as entry

    # inject a synthetic forced name so the test holds even in rounds
    # where the curated _FORCE_HEAD list is legitimately empty
    forced = "dedup_merge"
    monkeypatch.setattr(entry, "_FORCE_HEAD", {forced})
    monkeypatch.setattr(
        entry,
        "_certification_rounds",
        lambda root=None: {forced: 7, "q1_pricing_summary": 7},
    )
    order = list(entry.queries())
    assert order.index(forced) < order.index("q1_pricing_summary")


def test_rotating_report_covers_registry_within_three_rounds():
    """The driver-recorded stdout line fits only ~60-70 of the registry's
    queries. The rotation (core slowest every round + a cursor-advanced
    alphabetical slice of the rest) must walk the whole registry so every
    query gets a driver-recorded time at least once every ~3 rounds."""
    import bench

    # synthetic registry shaped like the real one: 155 names, long-ish
    timings = {f"query_name_number_{i:03d}": 0.1 + (i % 40) for i in range(155)}
    slots_per_round = 64  # what the 1900-char budget empirically fits

    seen: set[str] = set()
    cursor = 0
    rounds = 0
    while len(seen) < len(timings) and rounds < 10:
        order, rest = bench.rotating_report_order(timings, cursor)
        kept = order[:slots_per_round]
        seen.update(kept)
        cursor = (cursor + sum(1 for n in kept if n in rest)) % len(rest)
        rounds += 1
    assert len(seen) == len(timings), f"never covered: {sorted(set(timings)-seen)[:5]}"
    assert rounds <= 3, f"coverage took {rounds} rounds"

    # the core slowest stay pinned in every round's report
    by_cost = sorted(timings, key=timings.get, reverse=True)
    order, _ = bench.rotating_report_order(timings, 77)
    assert order[: bench._CORE_SLOWEST] == by_cost[: bench._CORE_SLOWEST]


def test_rotation_cursor_roundtrips_through_bench_full(tmp_path):
    """End-to-end: a real (filtered-to-nothing... rather, small) bench run
    persists rotation_next into bench_full.json only on unfiltered runs;
    a filtered run must not clobber the artifact."""
    import bench

    # pure-logic check of the cursor arithmetic used in main():
    timings = {f"q{i:02d}": float(i) for i in range(30)}
    order, rest = bench.rotating_report_order(timings, 5)
    rest_sorted = sorted(set(timings) - set(order[: bench._CORE_SLOWEST]))
    assert order[bench._CORE_SLOWEST] == rest_sorted[5 % len(rest_sorted)]
    # wrap-around
    order2, _ = bench.rotating_report_order(timings, 5 + len(rest_sorted))
    assert order2 == order


def test_layer_functions_resolve():
    """Every (module, function) the tracer wraps exists: a renamed or
    deleted layer would crash a ``--trace 1`` benchmark run."""
    import importlib

    from perfbench.tracing import LAYER_FUNCTIONS, PKG

    missing = [
        name
        for name, (mod, fn) in LAYER_FUNCTIONS.items()
        if not callable(getattr(importlib.import_module(f"{PKG}.{mod}"), fn, None))
    ]
    assert not missing, missing
