"""Enrichment joins (SURVEY.md §2.3 J1/J2/J3): fill-only-if-missing
cross-source entity matching.

Reference semantics (cites into /root/reference):
- J1 two-key enrichment: cleaning/merge_contacts_kindaworks.py:77-96 —
  match on two normalized keys, take the FIRST match, fill only missing
  target fields, log every fill.
- J2 k-of-n match: cleaning/fill_missing_contacts.py:47-138 — three hash
  indexes (name/email/phone); a candidate is accepted iff >= 2 of the 3
  keys agree; first accepted match fills all still-missing fields.
- J3 (fill_missing_contacts_large.py:115-225) is the same logical op
  staged through SQLite; it collapses into J2 here.

Spark-first design (not a port): ">= k of n keys agree" is equivalent to
"agrees on at least one size-k key *combination*", which turns the
disjunctive predicate into a UNION of plain equi-joins — hash-joinable,
broadcastable, no theta join, no per-row probing. "First match" becomes a
``groupBy(target).min(source_order)`` (partial-aggregatable — cheaper
than a window) and the in-place cell updates become ``coalesce`` after a
left join. The change log the reference writes row-by-row
(fill_missing_contacts.py:124-131) rides the enriched frame as a
``changes`` array column; ``change_log`` explodes it, so the log and the
fills come from one match.

Scale notes: each pairwise join shuffles on a composite key; when the
source is dimension-sized pass ``broadcast_source=True`` and every branch
becomes a broadcast-hash join with zero shuffle of the target. NULL keys
never match (SQL equi-join semantics), mirroring the reference's skip of
falsy keys (fill_missing_contacts.py:61-78).
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class MatchKey:
    """One normalized match key: a name plus expressions over each side."""

    name: str
    target_expr: Column
    source_expr: Column


def kofn_enrich(
    target: DataFrame,
    source: DataFrame,
    keys: list[MatchKey],
    fill: dict[str, str],
    target_id: str,
    source_order: str,
    min_matches: int = 2,
    broadcast_source: bool = False,
) -> DataFrame:
    """J2 — fill missing target fields from the first source row agreeing on
    >= ``min_matches`` of ``len(keys)`` normalized keys.

    Returns ONE narrow frame, one row per target row: (target_id, the
    fill columns coalesced target-first, matched_source_id, matched_on,
    changes). Non-fill target columns are NOT carried, so callers splice
    the fills back into the full-width target by ``target_id`` (see
    plans.contacts.fill_missing — the narrow shape is what keeps the
    splice join's build side small). ``changes`` is the row's fill
    journal, ``array<struct<field, old_value, new_value>>`` with one
    entry per actually-filled cell; :func:`change_log` explodes it into
    the reference's change log. A caller that selects only the fill
    columns never computes it (Catalyst prunes the column), and a caller
    that needs both the fills and the log checkpoints this frame once
    and derives both from the checkpoint, so the match runs once.
    """
    t_keyed = target.select(
        F.col(target_id).alias("__tid"),
        *[k.target_expr.alias(f"__tk_{k.name}") for k in keys],
        *[F.col(c).alias(f"__tf_{c}") for c in fill],
    )
    s_keyed = source.select(
        F.col(source_order).alias("__sid"),
        *[k.source_expr.alias(f"__sk_{k.name}") for k in keys],
        # dict.fromkeys, not set: a set's string order changes with the
        # process's hash seed, and with it the plan text
        *[F.col(c).alias(f"__sf_{c}") for c in dict.fromkeys(fill.values())],
    )
    # With content-hash source ordering (io.registries.with_source_order),
    # byte-identical duplicate source rows share a __sid — and are
    # identical in every carried key/fill column, so one representative
    # suffices. Deduping HERE keeps the left join onto s_keyed 1:1 per
    # __sid: without it, duplicate source rows fan out `enriched` and
    # with it the change log (duplicate fill entries for the same
    # (target_id, field)). Unique-sid callers pay a no-op aggregate.
    s_keyed = s_keyed.dropDuplicates(["__sid"])
    if broadcast_source:
        s_keyed = F.broadcast(s_keyed)

    # Only rows missing at least one fill field probe the source
    # (fill_missing_contacts.py:52-53 pre-filter; prunes the probe side).
    missing_any = None
    for c in fill:
        cond = F.col(f"__tf_{c}").isNull()
        missing_any = cond if missing_any is None else (missing_any | cond)
    needy = t_keyed.filter(missing_any).select(
        "__tid", *[f"__tk_{k.name}" for k in keys]
    )

    # >= k-of-n  ==  equality on at least one size-k key combination.
    # ONE join over banded rows, not one join per combination (r14,
    # guide §2.4 — the LSH-banding shape): each side explodes every
    # size-k combination into a (combo_id, key values...) row and a
    # single equi-join on those columns replaces the per-combo
    # join-then-union, which executed the corpus-sized probe side once
    # per combination (3 full passes at the default 2-of-3). The row
    # multiset of (target, source) candidates is identical: a pair
    # matching on m combinations contributes m rows in both forms, and
    # standard (non-null-safe) column equality keeps the NULL-never-
    # matches contract. Rows carrying a NULL key value in a combo are
    # dropped before the join — they cannot match and would only pad
    # the exchange.
    combos = list(combinations(keys, min_matches))
    kf = [f"__k{j}" for j in range(min_matches)]

    def banded(frame, prefix, id_alias):
        rows = frame.select(
            F.col(id_alias),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("__combo"),
                            *[
                                F.col(f"{prefix}{k.name}").alias(kf[j])
                                for j, k in enumerate(combo)
                            ],
                        )
                        for i, combo in enumerate(combos)
                    ]
                )
            ).alias("__b"),
        ).select(id_alias, "__b.*")
        cond = None
        for j in range(min_matches):
            c = F.col(kf[j]).isNotNull()
            cond = c if cond is None else (cond & c)
        return rows.filter(cond)

    s_banded = banded(s_keyed, "__sk_", "__sid")
    if broadcast_source:
        s_banded = F.broadcast(s_banded)
    candidates = (
        banded(needy, "__tk_", "__tid")
        .join(s_banded, on=["__combo", *kf])
        .select("__tid", "__sid")
    )

    # First accepted match == minimum source_order per target. A partial-
    # aggregatable min, not a window: map-side combine absorbs the skew of
    # targets matching many source rows.
    best = candidates.groupBy("__tid").agg(F.min("__sid").alias("__sid"))

    enriched_keys = (
        t_keyed.join(best, on="__tid", how="left")
        .join(s_keyed, on="__sid", how="left")
    )

    matched_on = F.array_compact(
        F.array(
            *[
                F.when(
                    F.col(f"__tk_{k.name}").isNotNull()
                    & (F.col(f"__tk_{k.name}") == F.col(f"__sk_{k.name}")),
                    F.lit(k.name),
                )
                for k in keys
            ]
        )
    )

    fill_exprs = {
        c: F.coalesce(F.col(f"__tf_{c}"), F.col(f"__sf_{src}"))
        for c, src in fill.items()
    }
    # Each row's filled cells as one struct array (r14, guide §2.4: one
    # pass for every fill field, not a per-field filtered-select union
    # that re-ran the whole match once per fill column).
    changes = F.array_compact(
        F.array(
            *[
                F.when(
                    F.col(f"__tf_{c}").isNull()
                    & F.col(f"__sf_{src}").isNotNull(),
                    F.struct(
                        F.lit(c).alias("field"),
                        F.col(f"__tf_{c}").cast("string").alias("old_value"),
                        F.col(f"__sf_{src}").cast("string").alias("new_value"),
                    ),
                )
                for c, src in fill.items()
            ]
        )
    )
    return enriched_keys.select(
        F.col("__tid").alias(target_id),
        *[fill_exprs[c].alias(c) for c in fill],
        F.col("__sid").alias("matched_source_id"),
        F.when(F.col("__sid").isNotNull(), matched_on).alias("matched_on"),
        changes.alias("changes"),
    )


def change_log(enriched: DataFrame, target_id: str) -> DataFrame:
    """The fill change log (fill_missing_contacts.py:124-131) of a
    :func:`kofn_enrich` result, as a pure projection of it: one row per
    actually-filled cell, (target_id, field, old_value, new_value,
    source_id, matched_on) with ``matched_on`` comma-joined. Over a
    checkpointed ``enriched`` it reads the checkpoint only — no source
    scan, no exchange."""
    return (
        enriched.filter(F.col("matched_source_id").isNotNull())
        .select(
            target_id,
            F.explode("changes").alias("__e"),
            F.col("matched_source_id").alias("source_id"),
            F.array_join("matched_on", ",").alias("matched_on"),
        )
        .select(
            target_id,
            F.col("__e.field").alias("field"),
            F.col("__e.old_value").alias("old_value"),
            F.col("__e.new_value").alias("new_value"),
            "source_id",
            "matched_on",
        )
    )


def two_key_enrich(
    target: DataFrame,
    source: DataFrame,
    keys: list[MatchKey],
    fill: dict[str, str],
    target_id: str,
    source_order: str,
) -> DataFrame:
    """J1 — the Mailchimp-style strict variant: ALL listed keys must match
    (merge_contacts_kindaworks.py:77-96). Same machinery with
    min_matches == len(keys); the source is always broadcast because the
    reference's enrichment sources are dimension-sized."""
    return kofn_enrich(
        target,
        source,
        keys,
        fill,
        target_id,
        source_order,
        min_matches=len(keys),
        broadcast_source=True,
    )
