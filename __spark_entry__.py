"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``bcg_contacts_data_pipeline_spark.plans.queries`` — the
registry of every implemented operator from SURVEY.md §2 plus the
LLM-data-pipeline extensions, each paired with a DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bcg_contacts_data_pipeline_spark.plans.queries import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the complete contact-unification pipeline (k-of-n
    enrichment fill -> field cleaning -> most-complete-record dedup ->
    validation) end-to-end at sf0.001. Building it runs the eager
    stage-boundary checkpoint (plans/contacts.py) and the SEQNO offset
    pass; the returned frame plans from those."""
    return QUERIES["contacts_pipeline_e2e"](spark, "/root/testdata/sf0.001")


def _certification_rounds(root: str | None = None) -> dict[str, int]:
    """Latest driver round that oracle-certified each query name.

    The driver's correctness check only covers the first 50 ``queries()``
    entries, so we rotate the registry: queries whose last driver
    certification is oldest (or that have never been certified) are served
    first. Reads the driver-written ``CORRECTNESS_r*.json`` files beside
    this module; missing/unreadable files simply contribute nothing.
    """
    import glob
    import json
    import re

    here = root or os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for name, row in data.items():
                # only a PASSING row certifies: a failed or errored check
                # must keep the query at the head of the queue so the
                # driver re-verifies it next round (r01/r03 on disk show
                # err rows — counting those as certified would rotate a
                # regression out of the window exactly when it needs
                # re-checking). hash_match=False blocks too: equal
                # cardinality with mismatched content is still a failure.
                # An absent/None hash_match (a rows-only weaker check)
                # certifies — rows-only is the strongest check that query
                # can get, so re-queueing it forever would just burn
                # window slots.
                if not isinstance(row, dict):
                    continue
                if row.get("err") or not row.get("rows_match"):
                    continue
                if row.get("hash_match") is False:
                    continue
                last[name] = max(last.get(name, 0), rnd)
    return last


#: Queries whose SEMANTICS or ORACLE changed this round despite having
#: a recent certification row: rotation sorts by staleness, which would
#: leave a freshly-changed-but-recently-certified query outside the
#: driver's 50-row window exactly when its new form needs re-checking.
#: Names here sort as if never certified. Curate per round; stale names
#: are harmless (they just re-verify).
_FORCE_HEAD: set[str] = {
    # r14: substring_spans dropped its consumer's global orderBy, staged
    # the df-cap two-stage, and grew the occ_cap dial; trim and
    # gopher_repetition now exclude NULL-text rows (oracle-spine
    # alignment, ADVICE r13) — re-verify all three r13 queries in their
    # new form.
    "substring_dedup",
    "substring_dedup_trim",
    "gopher_repetition",
    # r14: _non_null_vectors now also excludes NaN-carrying vectors
    # (ADVICE r13) — no fixture carries one, so answers are unchanged,
    # but the eligibility filter in front of every numpy kernel changed:
    # re-verify one representative per kernel family, same as the r13
    # zero-norm precedent.
    "semantic_dedup",
    "embedding_topk",
    "embedding_neardup",
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    last = _certification_rounds()
    order = list(QUERIES)
    idx = {name: i for i, name in enumerate(order)}
    order.sort(
        key=lambda n: (
            -1 if n in _FORCE_HEAD else last.get(n, -1),
            idx[n],
        )
    )
    return {name: QUERIES[name] for name in order}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
