"""Query registry: the leaf every query-family module builds on.

Each registered entry pairs a Spark implementation (callable ``(spark,
sf_dir) -> DataFrame``) with an equivalent ANSI-SQL oracle string for
DuckDB. This module imports nothing from ``plans``; the family modules
(``plans/q_*.py``) import only this module, so any of them can be
imported first. Determinism rules used throughout so value-hashes
match bit-for-bit:

- Money/metric aggregates go through ``DECIMAL(18,4)`` (exact, associative
  — immune to float summation order differing between engines), then cast
  to DOUBLE at the end.
- Averages are ``CAST(exact_decimal_sum AS DOUBLE) / COUNT`` — one IEEE
  division of identical operands.
- Every ``max_by``/``arg_max`` ordering is made *total* with a unique id
  tiebreak, so no unspecified tie choices.
- Column names are aliased identically on both sides.

Definitions more than one family states live here, once per side: the
near-dup edge (3-gram Jaccard >= 0.2 over shingles in at most 100
documents) as ``neardup_pairs`` and ``capped_edges_sql``, and the
min-label closure oracle as ``reach_sql``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.io.events import read_events
from bcg_contacts_data_pipeline_spark.operators.similarity import (
    ngram_jaccard_pairs,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # static-schema catalog read: skips the per-call footer-inference
    # job (~100-160 ms each at sf0.1; guide §7.3 driver cost) for the 9
    # stable tables; events and unknown names keep inference
    from bcg_contacts_data_pipeline_spark.io.schemas import read_table

    return read_table(spark, sf_dir, name)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with `ts` normalized; all encoding knowledge lives in
    io.events.read_events (shared with the streaming source and tests)."""
    return read_events(spark, sf_dir)


def _dec(c, scale: int = 4):
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal(18,{scale})")


_TOKS_SQL = "string_split_regex(trim(text), '\\s+')"

#: The near-dup edge: word n-gram Jaccard >= threshold, with
#: every shingle that appears in more than max_df documents dropped
#: before the inverted-index self-join, so no stop-shingle can make it
#: quadratic. ``neardup_pairs`` is the Spark side, ``capped_edges_sql``
#: the oracle side; both read these three constants.
NEARDUP_N = 3
NEARDUP_THRESHOLD = 0.2
NEARDUP_MAX_DF = 100


def neardup_pairs(docs: DataFrame) -> DataFrame:
    """Capped near-dup pairs ``(id_a, id_b, ...)`` over ``doc_id``/``text``."""
    return ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=NEARDUP_N,
        threshold=NEARDUP_THRESHOLD,
        max_df=NEARDUP_MAX_DF,
    )


def capped_edges_sql(source: str) -> str:
    """Oracle twin of ``neardup_pairs`` over relation ``source``: the
    ``sh_all -> hot -> sh -> sizes -> shared -> edges`` CTE chain, without
    the leading ``WITH``; ``edges(id_a, id_b)`` holds the pairs."""
    # n = 3: lower(t[i]) || ' ' || lower(t[i+1]) || ' ' || lower(t[i+2])
    gram = " || ' ' || ".join(
        f"lower(t[i+{k}])" if k else "lower(t[i])" for k in range(NEARDUP_N)
    )
    return f"""
    sh_all AS (
      SELECT doc_id,
             unnest(list_distinct([{gram}
                    for i in range(1, greatest(len(t)-{NEARDUP_N - 2}, 1))])) AS s
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM {source} WHERE length(trim(text)) > 0)),
    hot AS (SELECT s FROM sh_all GROUP BY s HAVING COUNT(*) > {NEARDUP_MAX_DF}),
    sh AS (SELECT * FROM sh_all WHERE s NOT IN (SELECT s FROM hot)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    edges AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {NEARDUP_THRESHOLD})"""


def reach_sql(nodes: str, edges: str = "edges", node: str = "doc_id") -> str:
    """Oracle twin of ``operators.graph.connected_components``: the
    ``sym`` and ``reach`` CTEs closing ``edges(id_a, id_b)`` over the
    ``node`` column of ``nodes`` by recursive min-label propagation;
    ``reach(node, comp)`` labels each node with its component's min id."""
    return f"""
    sym AS (SELECT id_a AS u, id_b AS v FROM {edges}
            UNION SELECT id_b, id_a FROM {edges}),
    reach AS (
      WITH RECURSIVE r(node, lab) AS (
        SELECT {node}, {node} FROM {nodes}
        UNION
        SELECT s.v, r.lab FROM r JOIN sym s ON s.u = r.node)
      SELECT node, MIN(lab) AS comp FROM r GROUP BY node)"""


#: Shared exact-Jaccard edge definition (3-gram shingles over whitespace
#: tokens): the CTE chain every jaccard-pairs oracle builds on. ONE text
#: so the edge definition cannot drift between the pair queries and the
#: component queries that cluster the same edges.
_JACCARD_BASE_CTES = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)"""
