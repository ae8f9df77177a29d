"""Dedup-merge operators (SURVEY.md §2.4 A1/A2/A6, §2.6 O2/O3).

Reference semantics (cites into /root/reference):
- A1 derived dedup key: cleaning/clean_contacts.py:164-177 —
  key = normalized email, else ``lower(fullname) + '-' + mobile``.
- A2 most-complete-record merge: cleaning/clean_contacts.py:194-223 —
  per column within a duplicate group take the longest valid value,
  ties broken toward most-recent (input pre-sorted LAST_UPDATED desc).
- O2 SEQNO renumbering: cleaning/clean_contacts.py:57-86.

Scale design: the merge is a single ``groupBy(key).agg(max_by(...))`` —
one shuffle, map-side partial aggregation, no window pre-pass and no
Python in the group loop. Ordering is made *total* (length, then recency,
then a unique row id) so distributed aggregation is deterministic without
any global sort. Empty/NULL keys pass through unmerged (the reference
merges all keyless rows into one Frankenstein record — SURVEY §4 flags
this as a bug; ``merge_empty_keys=True`` restores bug-compat).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.functions.normalize import norm_email
from bcg_contacts_data_pipeline_spark.functions.normalize_sql import (
    longest_valid_agg_sql,
    q as quote_ident,
)
from bcg_contacts_data_pipeline_spark.functions.text import ngram_hashes
from bcg_contacts_data_pipeline_spark.operators.pins import pin
from bcg_contacts_data_pipeline_spark.operators.skew import cap_keys


def dedup_key(
    email: Column | str,
    fullname: Column | str,
    mobile: Column | str,
) -> Column:
    """A1 — normalized email if present, else the reference's pandas
    string concat ``lower(fullname) + '-' + mobile`` with NULL -> ''
    (clean_contacts.py:167-177): the dash is ALWAYS present, so a
    blank-name row with a mobile keys as ``-<mobile>`` and merges on
    mobile alone, and ``name`` / ``name-`` style collisions cannot occur
    — exactly the reference's grouping. NULL only when both sides are
    blank (the keyless passthrough case). Values are trimmed first (the
    pipeline feeds already-trimmed cleaned fields; raw callers get the
    sane reading of the same key)."""
    email_c = F.col(email) if isinstance(email, str) else email
    fullname_c = F.col(fullname) if isinstance(fullname, str) else fullname
    mobile_c = F.col(mobile) if isinstance(mobile, str) else mobile
    fallback = F.concat(
        F.coalesce(F.lower(F.trim(fullname_c)), F.lit("")),
        F.lit("-"),
        F.coalesce(F.trim(mobile_c.cast("string")), F.lit("")),
    )
    # a lone dash means both sides were blank -> keyless
    fallback = F.when(F.length(fallback) > 1, fallback)
    return F.coalesce(norm_email(email_c), fallback)


def most_complete_merge(
    df: DataFrame,
    key: Column | str,
    value_cols: list[str],
    order_by: Column | str | None = None,
    merge_empty_keys: bool = False,
    key_name: str = "dedup_key",
) -> DataFrame:
    """A2 — collapse duplicate groups into one most-complete record.

    Per column: the longest valid (non-null, non-sentinel) value wins;
    ties break toward the row ranked highest by ``order_by`` (descending —
    the reference's recency bias), then toward a stable synthetic row id so
    the result is fully deterministic.

    One shuffle total: the ordering rank is computed *inside* the
    aggregation as ``max_by(value, struct(len, order))`` rather than via a
    window pre-pass, so partial (map-side) aggregation stays enabled —
    essential when one key is hot (the empty-key skew hazard).
    """
    key_col = F.col(key) if isinstance(key, str) else key
    order_col = (
        (F.col(order_by) if isinstance(order_by, str) else order_by)
        if order_by is not None
        else F.lit(0)
    )

    # One select, not two chained withColumns: every DataFrame op
    # re-analyzes the whole upstream tree, which is seconds of driver
    # time when the input is a deep wide pipeline plan (see
    # plans/contacts.py dedup_contacts).
    work = df.select("*", key_col.alias(key_name), order_col.alias("__ord"))

    keyed = work if merge_empty_keys else work.filter(
        F.col(key_name).isNotNull() & (F.length(F.trim(F.col(key_name))) > 0)
    )
    keyless = None if merge_empty_keys else work.filter(
        F.col(key_name).isNull() | (F.length(F.trim(F.col(key_name))) == 0)
    )

    # One F.expr per column (alias parsed inside the string) instead of a
    # ~25-round-trip Column tree: py4j latency dominates 88-wide agg
    # builds (see functions/normalize_sql.py). Twin-equivalence with the
    # Column form is pinned by tests/test_normalize_sql.py.
    aggs = [
        F.expr(longest_valid_agg_sql(c, "`__ord`")) for c in value_cols
    ]
    aggs.append(F.count(F.lit(1)).alias("group_size"))

    merged = keyed.groupBy(key_name).agg(*aggs)

    if keyless is not None:
        passthrough = keyless.selectExpr(
            quote_ident(key_name),
            *[quote_ident(c) for c in value_cols],
            "CAST(1 AS BIGINT) AS group_size",
        )
        merged = merged.unionByName(passthrough)
    return merged


def first_row_per_group(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """A6 — keep the first row per group under an explicit total order
    (fill_missing_contacts_large.py:239-245's MIN(rowid) dedup)."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def content_hash(text: Column | str, normalize: bool = True) -> Column:
    """The exact-dedup content key: md5 over (optionally
    whitespace-normalized, lowercased) text — ONE definition shared by
    every consumer (exact_dedup, incremental_dedup) so two dedup passes
    can never disagree about what "identical content" means.

    Collision disclosure (the `paragraph_dedup` ADVICE applies here
    too): md5 collisions are constructible, so adversarial input can
    make two distinct documents share a key and silently merge. This
    key stays md5 deliberately — it is the PERSISTED state key of the
    incremental pipelines (the day-to-day hash index), so changing it
    invalidates carried state; a deployment that needs the stronger
    guarantee should set the key to ``F.sha2(t, 256)`` at index
    creation (the `paragraph_dedup` choice) and accept 32 more bytes
    per shuffle row."""
    t = F.col(text) if isinstance(text, str) else text
    if normalize:
        t = F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))
    return F.md5(t)


def exact_dedup(
    df: DataFrame,
    text: Column | str,
    id_col: str,
    normalize: bool = True,
) -> DataFrame:
    """Exact content dedup: hash-groupBy on (normalized) content.

    Returns one row per distinct content hash with the canonical (minimum)
    id and the duplicate count. Scale: single shuffle on a 32-hex-char key;
    at 100 TB the md5 key keeps shuffle rows tiny vs shuffling full text.
    """
    return (
        df.select(content_hash(text, normalize).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def renumber(
    df: DataFrame,
    order_by: list[Column | str],
    seq_name: str = "seqno",
    with_total: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """O2 — assign a global contiguous 1..N sequence under a total order.

    Two-pass partition-offset pattern instead of a single-partition
    window: range-repartition on the sort keys (so partition i holds
    globally-ordered slice i), count rows per partition (tiny aggregate
    collected to the driver), then add the broadcast offset to a
    partition-local row_number. No stage ever sees more than one
    partition's rows — this is the distributed replacement for the
    reference's in-memory ``SEQNO = 1..N`` (clean_contacts.py:57-86).

    Cost note: the offset collect makes this operator EAGER, and the
    persist materializes ``df`` at full width (a pruning barrier). Use it
    where the output contract genuinely demands contiguous numbering; for
    mere row identity use a lazy hash/rank id instead (see
    plans.contacts._with_row_id).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    # persist() is load-bearing: repartitionByRange samples range boundaries
    # with an rdd-id-derived seed, so RE-computation (e.g. both branches of
    # a later self-join) could assign rows to different partitions than the
    # ones the offsets below were computed from. Materializing once freezes
    # the assignment (and the offset collect pays for the materialization).
    parted = pin(
        df.repartitionByRange(*cols).select(
            "*", F.spark_partition_id().alias("__pid")
        )
    )
    # Small driver-side collect: one row per partition (#partitions rows).
    counts = (
        parted.groupBy("__pid").count().collect()
    )
    offsets = {}
    running = 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = running
        running += row["count"]
    # Zero-row input leaves `offsets` empty and create_map() with no args
    # is map<void,void> — unresolvable under a long lookup key. The offset
    # is 0 for every (nonexistent) row, so a literal keeps the plan valid.
    offset_expr = (
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
            F.col("__pid")
        ]
        if offsets
        else F.lit(0)
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    # Single select (not withColumn+withColumn+drop): each op re-analyzes
    # the full upstream tree — significant driver time on deep plans.
    out = parted.select(
        *[c for c in df.columns],
        (offset_expr + F.row_number().over(w)).cast("long").alias(seq_name),
    )
    # `running` is the total row count the offset pass already paid for;
    # with_total hands it to callers (quantile binning needs N) so they
    # don't launch a second count job over the pinned frame.
    return (out, running) if with_total else out


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words_per_para: int = 32,
    max_df: int | None = None,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the CCNet/RefinedWeb
    step between URL/document dedup and near-dup): split every document
    into fixed-budget paragraphs of ``words_per_para`` whitespace
    tokens, keep each distinct paragraph ONCE corpus-wide (first
    occurrence in ``(id, para_idx)`` order — deterministic under any
    partitioning), and rebuild each document from its surviving
    paragraphs. Documents whose every paragraph already appeared
    elsewhere survive with empty text — downstream length/quality
    filters drop them, which is exactly the CCNet pipeline shape.

    ``max_df``: additionally drop paragraphs occurring in MORE than
    ``max_df`` distinct documents *everywhere* (including the first
    occurrence; ``skew.cap_keys`` on the paragraph hash) — the
    boilerplate-removal variant (navigation chrome, cookie banners
    repeat corpus-wide; keeping even one copy per paragraph still leaves
    one doc full of chrome).

    Output: ``(id, n_paras, paras_kept, text_dedup)`` for EVERY input
    document (NULL/blank text -> ``n_paras = 0``, ``text_dedup = ''``).

    Scale design: paragraphs are grouped by their ``sha2-256`` digest
    (not the text) so the dedup shuffle carries hash + one winner
    struct per distinct paragraph, never the full corpus text twice.
    SHA-256 rather than md5 because the grouping key IS the equality
    decision: md5 collisions are constructible (chosen-prefix attacks),
    so adversarial crawl input could make two DISTINCT paragraphs
    silently merge; no collision is known for SHA-256, which closes
    that hole for 32 more bytes of shuffle key (the hex forms are 64
    vs 32 chars; ADVICE r11). The winner is
    ``min(struct(id, para_idx, para))`` — a map-side-combinable
    aggregate, no window over the corpus. Rebuild is one groupBy(id)
    over only the SURVIVING paragraphs; the doc spine comes straight
    from the tokenized narrow projection, so the whole operator is two
    aggregate shuffles plus the broadcast-or-shuffle join back. With
    ``max_df`` the cap runs in front of the same winner aggregate: the
    paragraphs are checkpointed, their (hash, doc) count runs in the
    cap's own jobs, and the winner aggregate shuffles the surviving
    paragraphs only. Each shuffle keys on high-cardinality uniform
    values; the known degenerate key is the boilerplate paragraph
    repeated corpus-wide, which the winner aggregate and both stages of
    the cap's count partial-combine map-side (one row per task, same
    shape the empty-dedup-key skew probe in PERF.md measured flat)."""
    if words_per_para <= 0:
        raise ValueError("words_per_para must be positive")
    from bcg_contacts_data_pipeline_spark.functions.text import tokens

    k = words_per_para
    toked = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks")
    )
    n_paras = F.ceil(F.size("__toks") / F.lit(k)).cast("long")
    paras = toked.select(
        "__id",
        F.posexplode(
            F.transform(
                # the greatest(...,1) floor keeps sequence() ascending on
                # blank docs (sequence(1,0) DESCENDS in Spark); the blank
                # doc's single empty paragraph is dropped by the length
                # filter below, and the spine still carries the doc
                F.sequence(F.lit(1), F.greatest(n_paras, F.lit(1))),
                lambda i: F.array_join(
                    F.slice(F.col("__toks"), (i - F.lit(1)) * k + F.lit(1), k),
                    " ",
                ),
            )
        ).alias("para_idx", "para"),
    )
    real = paras.where(F.length("para") > 0).withColumn(
        "__h", F.sha2("para", 256)
    )
    if max_df is not None:
        real = cap_keys(real, ["__h"], "__id", max_df)
    winners = real.groupBy("__h").agg(
        F.min(F.struct("__id", "para_idx", "para")).alias("w")
    )
    rebuilt = (
        winners.select("w.__id", "w.para_idx", "w.para")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("paras_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("para_idx", "para"))),
                    lambda s: s["para"],
                ),
                " ",
            ).alias("text_dedup"),
        )
    )
    # the spine comes straight from the tokenized frame (one row per doc
    # already) — re-aggregating the exploded paragraphs for it would be
    # a third shuffle over corpus-sized data for information the narrow
    # projection has for free
    spine = toked.select("__id", n_paras.alias("n_paras"))
    return (
        spine.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("n_paras"),
            F.coalesce("paras_kept", F.lit(0)).cast("long").alias("paras_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_len: int = 15,
    max_df: int = 64,
    occ_cap: int | None = None,
) -> DataFrame:
    """Exact substring (span) dedup — the suffix-array rung of the dedup
    ladder (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): find maximal duplicated token spans of at least
    ``min_len`` tokens shared across documents, so a curation pass can
    trim repeated boilerplate/licence/quote blocks that document- and
    paragraph-level dedup both miss (the span can sit ANYWHERE inside
    two otherwise-different documents).

    A literal suffix array is a sequential build over the concatenated
    corpus — the one shape that does not distribute. The Spark-shaped
    equivalent is k-gram fingerprint postings + per-diagonal run merge,
    exact for every span >= k tokens:

    1. postings: one row per (doc, position) holding a 64-bit
       fingerprint of the k-token window starting there (tokens =
       whitespace split). The fingerprint is ``xxhash64`` over the
       window's per-token ``xxhash64`` values
       (``functions.text.ngram_hashes``): each token's characters are
       hashed once per document (not k times via string concat), no
       per-position string allocation happens, and the posting/join
       key is 8 bytes instead of the 32-char md5 hex string (r14:
       measured ~25% off the standalone query; shuffle bytes of every
       postings exchange drop ~3x). Collision risk is the key-equality
       trade every 64-bit join key in ``operators/similarity.py``
       accepts; here a single cross-document collision yields a
       1-gram run of ``k < min_len`` tokens that the length filter
       drops — fabricating a span takes ``min_len - k + 1``
       CONSECUTIVE same-diagonal collisions. The gram ARRAY is built
       with ``transform`` + ``posexplode`` so the token-hash array is
       never duplicated per posting row;
    2. df-cap: grams present in fewer than 2 or more than ``max_df``
       DISTINCT documents are dropped (``skew.cap_keys`` with
       ``min_df=2``) — singletons can't pair, and corpus-wide
       stop-grams (chrome, licence headers past the cap) would
       otherwise fan the pair join out quadratically: the same
       frequency cap every pair generator in
       ``operators/similarity.py`` applies;
    3. pair join on the gram key: (doc_a < doc_b) position pairs over
       the cap's checkpointed postings, so the postings pipeline runs
       once (inside the cap's checkpoint job); the in-range gram set
       broadcasts into a semi-join, so the pair join ships only capped
       rows, never the FULL postings frame;
    4. maximal-run merge: two matched positions extend the same span
       iff both advance by one token, i.e. they sit on the same
       DIAGONAL (ia - ib) at consecutive ia — group by (pair, diag),
       split runs where ia gaps (``ia - row_number()`` island trick),
       and a run of length r is a shared span of r + k - 1 tokens.

    Output: ``(doc_a, doc_b, a_start, b_start, len_tokens)`` — one row
    per maximal duplicated span >= ``min_len`` tokens (1-based token
    offsets). Overlapping spans on DIFFERENT diagonals (periodic text)
    are reported separately; each is maximal on its own diagonal, which
    is the well-defined distributed statement of "maximal match".

    Scale design: postings are O(total corpus tokens) rows of
    (8-byte hash, int, long) — the text itself never shuffles.
    ``max_df`` counts DISTINCT documents per gram, so the honest
    per-gram pair-join bound is (sum of per-doc occurrence counts on
    each side), i.e. max_df^2 only when every doc carries the gram
    once: a degenerate document repeating one gram m times contributes
    m postings and fans out m_a * m_b position pairs per doc pair
    despite the cap. ``occ_cap`` closes that hole for production runs:
    keep only the FIRST ``occ_cap`` positions of each gram within each
    document (row_number over position, a (doc, gram)-keyed window
    whose groups the cap itself then bounds), giving a hard
    (max_df * occ_cap)^2 per-gram fan-out. The trade, disclosed: a
    span whose grams recur within one document beyond the cap can be
    reported truncated or split — exact for every corpus where no
    (doc, gram) multiplicity exceeds the cap, which is every
    non-pathological one (within-doc repetition past the cap is
    exactly what ``profile.gopher_repetition`` flags). ``occ_cap=None``
    (default) keeps the exact Lee et al. semantics. The run-merge
    window keys on (doc_a, doc_b, diag) whose group size is bounded by
    the shorter document's length, so no degenerate window partition
    exists. Every stage is a Catalyst expression — no UDF, no driver
    collect; the materializations are the cap's checkpoints of the
    postings and of the in-range gram set.
    """
    if k < 2:
        raise ValueError("substring_spans: k must be >= 2")
    toks = F.split(F.trim(F.col(text_col)), " ")
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__doc"),
            F.transform(toks, lambda x: F.xxhash64(x)).alias("__th"),
        )
        .filter(F.size("__th") >= k)
    )
    grams = base.select(
        "__doc", F.posexplode(ngram_hashes(F.col("__th"), k)).alias("__p", "__g")
    ).select("__doc", (F.col("__p") + 1).alias("__i"), "__g")
    if occ_cap is not None:
        if occ_cap < 1:
            raise ValueError("substring_spans: occ_cap must be >= 1")
        # production dial (see docstring): first occ_cap positions per
        # (doc, gram), keep-lowest-position so the result is
        # deterministic under any partitioning
        occ_w = Window.partitionBy("__doc", "__g").orderBy("__i")
        grams = (
            grams.withColumn("__o", F.row_number().over(occ_w))
            .filter(F.col("__o") <= occ_cap)
            .drop("__o")
        )

    capped = cap_keys(grams, ["__g"], "__doc", max_df, min_df=2)
    b = capped.select(
        F.col("__g").alias("__g"),
        F.col("__doc").alias("__doc_b"),
        F.col("__i").alias("__ib"),
    )
    # shuffle_hash: the capped frame is corpus-derived, so it must not
    # be statically broadcast (the similarity.py _no_static_broadcast
    # rule — plan-time stats underestimate it and at 100x it is
    # hundreds of MB); a shuffled hash join of the small materialized
    # frame is the every-scale-safe strategy.
    pairs = capped.join(b.hint("shuffle_hash"), "__g").filter(
        F.col("__doc") < F.col("__doc_b")
    )

    # the diagonal is projected as an ATTRIBUTE before the window so
    # the run-merge aggregation's grouping keys are a superset of the
    # window's partitioning attributes — EnsureRequirements then reuses
    # the window exchange for the groupBy instead of re-shuffling the
    # position-pair frame (r14: was one extra Exchange of exactly the
    # frame that grows quadratically with duplication)
    proj = pairs.select(
        F.col("__doc").alias("doc_a"),
        F.col("__doc_b").alias("doc_b"),
        F.col("__i").alias("ia"),
        F.col("__ib").alias("ib"),
        (F.col("__i") - F.col("__ib")).alias("__diag"),
    )
    run_w = Window.partitionBy("doc_a", "doc_b", "__diag").orderBy("ia")
    runs = proj.withColumn(
        "__run", F.col("ia") - F.row_number().over(run_w)
    )
    return (
        runs.groupBy("doc_a", "doc_b", "__diag", "__run")
        .agg(
            F.min("ia").alias("a_start"),
            F.min("ib").alias("b_start"),
            (F.max("ia") - F.min("ia") + k).alias("len_tokens"),
        )
        .filter(F.col("len_tokens") >= min_len)
        .select("doc_a", "doc_b", "a_start", "b_start", "len_tokens")
    )


def substring_trim(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_len: int = 15,
    max_df: int = 64,
    occ_cap: int | None = None,
) -> DataFrame:
    """The TRIM half of exact substring dedup (Lee et al. 2022 drop all
    but one occurrence of every duplicated span): rebuild each document
    with the tokens of its cross-document duplicated spans REMOVED,
    keeping the span's first occurrence corpus-wide (lowest doc id — a
    span row from :func:`substring_spans` always trims the HIGHER-id
    ``doc_b`` side, so the ``doc_a`` occurrence survives; deterministic
    under any partitioning, the same keep-first convention as
    ``paragraph_dedup``).

    Output: ``(id, n_tokens, dup_tokens, text_trimmed)`` for every
    input document WITH NON-NULL TEXT — ``dup_tokens`` counts the
    distinct token positions covered by at least one qualifying span;
    documents with no spans (or fewer than k tokens) pass through
    untrimmed with ``dup_tokens = 0``. NULL-text rows are excluded
    from the output entirely (r13 advice: the whole substring family
    scopes itself to text-bearing documents — the span finder already
    does, and emitting NULL rows here with dup_tokens=0 made the
    operator's spine silently wider than its certified oracle's).
    ``occ_cap`` is forwarded to :func:`substring_spans` (production
    fan-out dial, disclosed there).

    Scale design (r14): the span rows expand to covered positions with
    ``sequence`` (bounded by total duplicated tokens) and fold straight
    into one ``collect_set`` per trimmed doc — a set of INT positions,
    bounded by the doc's own length. That per-doc set joins the corpus
    ONCE on the doc key and the rebuild is a per-row array expression
    (``array_except`` of the position range, then ``element_at``): the
    corpus text is never exploded, never anti-joined per token, and
    never re-collected — the pre-r14 shape paid a (doc, pos, token)
    explode, a (doc, pos)-keyed LEFT ANTI, a collect_list rebuild
    shuffle of every corpus token, and a fourth execution of ``df`` for
    the spine join-back; all four are gone (guide §2.3/§2.4: the only
    thing that shuffles besides the span finder is the tiny position
    set, and the heavy rows move once). The join carries a
    ``shuffle_hash`` hint on the cov side (corpus-derived, so the
    ``_no_static_broadcast`` house rule applies). All Catalyst.
    """
    spans = substring_spans(
        df, id_col, text_col, k=k, min_len=min_len, max_df=max_df,
        occ_cap=occ_cap,
    )
    # collect_set dedups overlapping spans' positions, so no separate
    # DISTINCT pass is needed; group size is bounded by the doc length
    cov = (
        spans.select(
            F.col("doc_b").alias("__doc"),
            F.explode(
                F.sequence(
                    F.col("b_start"),
                    F.col("b_start") + F.col("len_tokens") - 1,
                )
            ).alias("__p"),
        )
        .groupBy("__doc")
        .agg(F.collect_set("__p").alias("__cov"))
    )
    toks = F.split(F.trim(F.col(text_col)), " ")
    # NULL-text rows are out of scope (matches the oracle's
    # `WHERE text IS NOT NULL` spine — see docstring)
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__doc"), toks.alias("__t")
    )
    cov0 = F.coalesce(F.col("__cov"), F.expr("CAST(array() AS array<int>)"))
    # ascending kept positions: array_except preserves the first
    # array's order and sequence(1, n) is ascending (split() always
    # yields >= 1 element, so the sequence bounds are valid)
    kept_pos = F.array_except(F.sequence(F.lit(1), F.size("__t")), cov0)
    return base.join(cov.hint("shuffle_hash"), "__doc", "left").select(
        F.col("__doc").alias(id_col),
        F.size("__t").cast("long").alias("n_tokens"),
        (F.size("__t") - F.size(kept_pos)).cast("long").alias("dup_tokens"),
        F.array_join(
            F.transform(kept_pos, lambda p: F.element_at(F.col("__t"), p)),
            " ",
        ).alias("text_trimmed"),
    )


def c4_span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span: int = 3,
) -> DataFrame:
    """C4's corpus-level dedup rule (Raffel et al. 2020, section 2.2:
    "we discarded all but one of any three-sentence span occurring more
    than once in the data set"): find every window of ``span``
    consecutive sentences that occurs more than once CORPUS-WIDE
    (within-document repeats count — unlike the substring family's
    cross-document df, C4 dedups on total occurrences), keep the first
    occurrence in ``(id, start)`` order, and rebuild every document
    with the sentences of all other occurrences removed.

    Sentence = non-blank trimmed segment between terminal punctuation
    marks (split on ``[.!?]+`` — stated in the certified oracle so both
    engines share the definition); the rebuilt text re-joins surviving
    sentences with '. ' (the original punctuation variant is not
    recoverable after splitting; the normalization is part of the
    operator contract). Documents with fewer than ``span`` sentences
    pass through untouched; NULL-text rows are excluded entirely (the
    family scope rule, same as ``substring_trim``). The span key joins
    its sentences with a \\x01 separator so differing sentence
    boundaries can never collide into one key.

    Output: ``(id, n_sentences, n_spans, dup_sentences, text_dedup)``
    with ``dup_sentences`` the count of sentence positions removed.

    Scale design: span occurrences shuffle as ``(sha2-256, doc, start)``
    — the text never leaves the map side (SHA-256 because the hash IS
    the equality decision, the ``paragraph_dedup`` rule). One
    groupBy(hash) with ``min(struct)`` + ``count(*)`` — BOTH map-side
    combinable, so the degenerate corpus-wide boilerplate span
    partial-aggregates to one row per task (count(*) does not need the
    two-stage COUNT DISTINCT staging: there is no distinct). Then one
    hash-keyed join back (loser occurrences only), the loser spans fold
    into one ``collect_set`` of INT sentence positions per doc (bounded
    by the doc's own sentence count), and that set joins the corpus
    ONCE on the doc key; the rebuild is a per-row array expression
    (``array_except`` over the position range + ``element_at``) — the
    corpus sentences are never exploded, anti-joined, or re-collected
    (r14, same single-pass shape as ``substring_trim``; the pre-r14
    form paid a (doc, pos, sentence) explode, a (doc, pos) LEFT ANTI, a
    collect_list rebuild shuffle and a spine join-back). All Catalyst,
    no UDF, no collect, every shuffle keyed on doc or hash.
    """
    if span <= 0:
        raise ValueError("span must be positive")
    sep = "\x01"  # unambiguous sentence boundary inside the span key
    sents = F.filter(
        F.transform(
            F.split(F.col(text_col), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: F.length(s) > 0,
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__doc"), sents.alias("__s")
    )
    n = F.size("__s")
    spans = (
        base.filter(n >= span)
        .select(
            "__doc",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), n - span + 1),
                    lambda i: F.sha2(
                        F.array_join(F.slice("__s", i, span), sep), 256
                    ),
                )
            ).alias("__p0", "__h"),
        )
        .select("__doc", (F.col("__p0") + 1).alias("__start"), "__h")
    )
    agg = (
        spans.groupBy("__h")
        .agg(
            F.min(F.struct("__doc", "__start")).alias("w"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .where(F.col("cnt") >= 2)
    )
    losers = spans.join(agg, "__h").where(
        ~(
            (F.col("__doc") == F.col("w.__doc"))
            & (F.col("__start") == F.col("w.__start"))
        )
    )
    cov = (
        losers.select(
            "__doc",
            F.explode(
                F.sequence(F.col("__start"), F.col("__start") + span - 1)
            ).alias("__p"),
        )
        .groupBy("__doc")
        .agg(F.collect_set("__p").alias("__cov"))
    )
    cov0 = F.coalesce(F.col("__cov"), F.expr("CAST(array() AS array<int>)"))
    # sequence(1, 0) would generate a DESCENDING [1, 0], so the
    # zero-sentence case (all-punctuation / whitespace text) is guarded
    # to an empty position range explicitly
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.expr("CAST(array() AS array<int>)")
    )
    kept_pos = F.array_except(seq, cov0)
    return base.join(cov.hint("shuffle_hash"), "__doc", "left").select(
        F.col("__doc").alias(id_col),
        n.cast("long").alias("n_sentences"),
        F.greatest(n - span + 1, F.lit(0)).cast("long").alias("n_spans"),
        (n - F.size(kept_pos)).cast("long").alias("dup_sentences"),
        F.array_join(
            F.transform(kept_pos, lambda p: F.element_at(F.col("__s"), p)),
            ". ",
        ).alias("text_dedup"),
    )
