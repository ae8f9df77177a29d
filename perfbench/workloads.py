"""The benchmark's workloads. Each takes a ``Ctx`` and returns a ``Run``.

An op is one CLI invocation (``contacts_cli``) or one query
(``query_board``); a pass runs each of a workload's ops once, always in
the same order: in a cold session an op's time depends on what ran
before it (the first op pays for starting Python workers, later ops
reuse code the JIT already compiled), so a seeded order would move
per-op times from run to run. A run measures whole passes until
``--seconds`` have gone by; one pass of either workload is longer than
BENCHMARK.json's ``run_seconds``, so a run measures one pass, in a
session that has run nothing else: the cost every fresh CLI process
pays. Each op's output is checked after the pass, outside the timed
region. Every pass records its wall time, its op times and the host's
busy and steal CPU seconds from /proc/stat, so a slow pass can be told
apart from a contended host.
"""

from __future__ import annotations

import dataclasses
import json
import os
import random
import shutil
import sys
import tempfile
import time

from perfbench import datagen
from perfbench.tracing import Tracer

#: the board's scale factor: 60k lineitem rows, 500 documents
BOARD_SF = 0.01

#: queries on the shingle and prefix-filter similarity stack and the
#: incremental connected-components loop
NEARDUP = ["incremental_components", "contamination_score", "ngram_jaccard"]

#: short fixed-cost-bound queries: TPC-H scan, join and aggregate over
#: the static-schema parquet reads, contacts-family registry queries and
#: a streaming drain. The cheap TPC-H ones are most of the board's ops,
#: so the median op time falls among queries of similar cost and reads
#: the per-query fixed cost rather than one query's noise.
ANALYTICS = [
    "q1_pricing_summary",
    "q2_min_price_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q11_part_value_threshold",
    "q12_priority_shipping",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q19_disjunctive_revenue",
    "q22_dormant_balance",
    "dedup_merge",
    "enrich_2of3",
    "stream_hourly_counts",
]


@dataclasses.dataclass
class Ctx:
    spark: object
    tracer: Tracer
    root: str  # checkout root
    work: str  # scratch dir inside the checkout, removed at exit
    seed: int
    seconds: float


@dataclasses.dataclass
class Pass:
    t0: float  # perf_counter at start
    t1: float
    e0_ms: float  # epoch ms at start, for the Spark event log
    e1_ms: float
    op_s: list[float]
    busy_s: float
    steal_s: float

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


@dataclasses.dataclass
class Run:
    passes: list[Pass]
    attempted: int
    failed: int
    correct: bool


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _measure(ctx: Ctx, ops: dict, check) -> Run:
    """Run passes over ``ops`` (name -> callable) until ``ctx.seconds``
    have gone by. ``check(name, result)`` judges each result after the
    pass; an op that raises or fails its check is a failed op. Logs each
    pass to stderr."""
    from bench import proc_stat_seconds

    passes, failed, wrong = [], 0, []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < ctx.seconds:
        s0 = proc_stat_seconds() or {"busy": 0.0, "steal": 0.0}
        t0, e0 = time.perf_counter(), time.time() * 1e3
        op_s, results = [], {}
        for name in ops:
            t = time.perf_counter()
            try:
                results[name] = ops[name]()
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                _log(f"# {name} failed: {e!r}")
                failed += 1
            op_s.append(time.perf_counter() - t)
        t1, e1 = time.perf_counter(), time.time() * 1e3
        s1 = proc_stat_seconds() or {"busy": 0.0, "steal": 0.0}
        p = Pass(t0, t1, e0, e1, op_s, s1["busy"] - s0["busy"], s1["steal"] - s0["steal"])
        passes.append(p)
        wrong += [name for name, result in results.items() if not check(name, result)]
        detail = {
            "wall_s": p.wall_s,
            "host_busy_s": p.busy_s,
            "host_steal_s": p.steal_s,
            "op_s": dict(zip(ops, op_s)),
        }
        _log(f"# pass {json.dumps(detail)}")
    for name in wrong:
        _log(f"# {name}: wrong output")
    failed += len(wrong)
    return Run(passes, len(ops) * len(passes), failed, not failed)


# ---------------------------------------------------------------------------
# contacts_cli: the paper's own job through pipeline.run_cli
# ---------------------------------------------------------------------------


def _permute_rows(path: str, rng: random.Random) -> None:
    with open(path) as f:
        header, *rows = f.read().split("\n")
    rows = [r for r in rows if r]
    rng.shuffle(rows)
    with open(path, "w") as f:
        f.write("\n".join([header, *rows]) + "\n")


def contacts_cli(ctx: Ctx) -> Run:
    """``pipeline.run_cli`` over the reference-shaped golden fixture
    (10k x 88 master, mailchimp-family and CRM sources, the two
    headerless lists the CLI skips, a mailchimpclean stage-0 input),
    data rows of the four headed files permuted by the seed. Each
    invocation writes to a fresh directory, must exit 0 and must
    reproduce all eight fields of tests/goldens/cli_golden.json."""
    sys.path.insert(0, os.path.join(ctx.root, "tests"))
    import golden_fixture as G
    import test_golden_cli as TG

    from bcg_contacts_data_pipeline_spark import pipeline

    with open(TG.GOLDEN_PATH) as f:
        golden = json.load(f)
    rng = random.Random(ctx.seed)
    paths = G.write_all(tempfile.mkdtemp(prefix="fixture_"))
    for key in ("master", "mailchimp_src", "crm", "mailchimpclean"):
        _permute_rows(paths[key], rng)
    argv = [
        "--sources",
        paths["mailchimp_src"],
        paths["crm"],
        paths["adhoc5"],
        paths["adhoc6"],
        "--mailchimp",
        paths["mailchimpclean"],
        "--single-file",
    ]

    def invocation():
        out = tempfile.mkdtemp(prefix="cli_out_")
        return pipeline.run_cli([paths["master"], out, *argv], spark=ctx.spark), out

    def check(_, result) -> bool:
        rc, out = result
        try:
            return rc == 0 and TG._actual(out) == golden
        finally:
            shutil.rmtree(out, ignore_errors=True)

    return _measure(ctx, {"run_cli": invocation}, check)


# ---------------------------------------------------------------------------
# query_board: near-dup and analytics queries
# ---------------------------------------------------------------------------


def query_board(ctx: Ctx) -> Run:
    """ANALYTICS then NEARDUP at BOARD_SF over tables generated from the
    seed. Each op builds the query and collects its result; the check
    compares it with the query's DuckDB oracle, canonicalized as
    tools/check.py does. The cache is cleared after every query."""
    import duckdb

    from bcg_contacts_data_pipeline_spark.plans.queries import ORACLE, QUERIES
    from bcg_contacts_data_pipeline_spark.streaming import runner
    from tools.check import canon

    # streaming drains checkpoint under the scratch dir, not /dev/shm,
    # so the benchmark writes only inside its checkout
    runner._ephemeral_checkpoint_dir = lambda: tempfile.mkdtemp(prefix="stream_ckpt_")

    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = datagen.write(os.path.join(ctx.work, "board"), BOARD_SF, ctx.seed)

    def query_op(name: str):
        def op():
            try:
                with tracer.span(f"query.{name}.build"):
                    df = QUERIES[name](spark, sf_dir)
                with tracer.span(f"query.{name}.exec"):
                    return df.toPandas()
            finally:
                spark.catalog.clearCache()

        return op

    with duckdb.connect() as con:
        for name in os.listdir(sf_dir):
            table = name.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{name}'")

        def check(name: str, got) -> bool:
            return canon(got) == canon(con.execute(ORACLE[name]).df())

        return _measure(ctx, {n: query_op(n) for n in ANALYTICS + NEARDUP}, check)


WORKLOADS = {"contacts_cli": contacts_cli, "query_board": query_board}
