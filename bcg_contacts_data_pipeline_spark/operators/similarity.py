"""Near-duplicate detection + similarity search operators
(LLM-training-data extensions; BASELINE.json north star).

Every operator here is built for the 100 TB shape of the problem:

- ``ngram_jaccard_pairs``: exact set-similarity via shingle inverted
  index (explode -> self-join on shingle -> count agreement). The join
  key is a 64-bit shingle hash, never the text.
- ``minhash_signatures`` / ``minhash_lsh_pairs``: MinHash + banded LSH.
  Candidate generation touches only (band_id, band_hash) buckets, so the
  self-join is linear in bucket occupancy instead of quadratic in corpus
  size. Signatures use xxhash64 (JVM, vectorized).
- ``simhash64`` / ``simhash_pairs``: 64-bit SimHash via explode + 64
  bit-count aggregates; 8-bit banding (complete for hamming <= 7 by
  pigeonhole) for candidate pairs, exact hamming verify after.
- ``embedding_topk``: brute-force cosine top-k (the exact baseline) and
  ``embedding_pairs`` / ``embedding_neardup`` (thresholded cosine pairs,
  greedy lowest-id dedup) score the upper triangle of ONE hash-block
  grid (``_block_cells``: cogrouped applyInPandas, no driver collect).
- ``embedding_ann_lsh`` / ``embedding_pairs_lsh``: random-hyperplane
  LSH as one scale path: ONE sign bucketer (``_sign_buckets``), cosine
  evaluated only within a bucket.
- ``embedding_ann_ivf``: IVF coarse quantizer as the other scale path:
  one distributed Lloyd refinement, cell-cogroup candidate generation.
- ``semantic_dedup``: SemDeDup-style cluster-then-prune dedup.

Every top-k site emits through ``_emit_topk`` (local top-k per query)
and, where several candidate sets meet, ranks once via ``_global_topk``.

Text/signature operators are pure Catalyst expressions (tokenize,
xxhash64, bit-votes, hamming — whole-stage-codegen'd, no Python). The
embedding family uses Arrow-batched mapInPandas with DIMENSION-SEQUENTIAL
accumulation, which reproduces the exact IEEE add order of the
``aggregate(zip_with(...))`` fold (functions/vectors.py) — scores stay
bit-identical to the SQL oracle while vectorizing across rows.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import pin
from bcg_contacts_data_pipeline_spark.operators.skew import cap_keys

from bcg_contacts_data_pipeline_spark.functions.text import ngram_hashes, tokens
from bcg_contacts_data_pipeline_spark.functions.vectors import dot

#: 31-bit Mersenne prime for the minhash permutation family: with a, b, h
#: all < 2^31, ``a*h + b`` stays under 2^62 — no int64 overflow under ANSI
#: mode (Spark 4 default).
MERSENNE_31 = (1 << 31) - 1


def _token_hashes(
    df: DataFrame,
    id_col: str,
    text: Column | str,
    min_tokens: int = 0,
    parallelism: int = 64,
) -> DataFrame:
    """(id, __th) — each document's lowercased token hashes
    (``xxhash64(lower(token))``, in token order): the one per-document
    input of every text-similarity operator here.

    The hashes are bound after the spreading ``repartition``: document
    tables often arrive as few fat partitions (one per parquet
    row-group), and hashing is the expensive step — spread it before it
    runs. ``__th`` is an attribute, so the n-gram lambdas that reference
    it n + 2 times read it instead of re-tokenizing.

    With ``min_tokens`` > 0, documents with fewer tokens are dropped
    first, on the token count alone: any later filter would be pushed
    below the repartition with the hash expression inlined. The
    signature families need the drop (an empty gram array has no
    signature). The shingle path does not (a short document's gram
    array explodes to no rows), and skips it: the count filter runs on
    the unspread scan split, which at sf0.1 is ONE split, once per
    consumer pass — measured 0.4-1.8 s slower per pair-generator query
    at sf0.1 (4-core host, one draw each)."""
    t = F.col(text) if isinstance(text, str) else text
    if min_tokens > 0:
        df = df.filter(F.size(tokens(t)) >= min_tokens)
    return df.repartition(parallelism).select(
        F.col(id_col),
        F.transform(tokens(t), lambda x: F.xxhash64(F.lower(x))).alias("__th"),
    )


def shingle_hash_frame(
    df: DataFrame, id_col: str, text: Column | str, n: int = 3, parallelism: int = 64
) -> DataFrame:
    """(id, sh) pairs — 64-bit hashes of each document's DISTINCT word
    n-grams (:func:`ngram_hashes` over the lowercased token hashes).
    Documents with < n tokens yield no rows.

    The explode takes the gram expression inline, never a bound array
    attribute: Catalyst's InferFiltersFromGenerate adds ``size(arr) > 0``
    only when the exploded input is an attribute, and that filter is
    pushed below the spreading exchange with the whole tokenize + hash +
    n-gram pipeline inlined into it (r15: five consumers 3-16x slower).
    ``tests/test_plans.py`` guards the shape."""
    grams = ngram_hashes(F.col("__th"), n)
    return _token_hashes(df, id_col, text, parallelism=parallelism).select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("sh")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text: Column | str,
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1 shingle.

    Inverted-index self-join: |pairs| is bounded by shingle co-occurrence,
    not corpus². Jaccard = shared / (|A| + |B| - shared) — integer counts,
    one IEEE division, engine-exact.

    ``max_df`` is the posting-list frequency cap (``skew.cap_keys``):
    shingles held by more than K documents are dropped BEFORE the join
    and before the size counts, so the semantics become Jaccard over the
    sub-K shingle universe (well-defined and mirrorable in an oracle)
    and no posting list contributes more than K² pairs. ``max_df=None``
    keeps the exact uncapped baseline (the documented contract of the
    standalone ``ngram_jaccard`` query).

    Physical shape:
    - the join key is xxhash64(shingle), 8 bytes instead of a string
      (collisions would need two shingles of one corpus to share a 64-bit
      hash — negligible next to the corpus sizes this verifies);
    - uncapped, the shingle frame feeds three consumer subtrees (sizes,
      both join sides) with no exchange reuse between them, so the
      per-row tokenize + hash + n-gram work runs once per consumer. It
      stays unmaterialized: r6 measured recompute beating a persist of
      the exploded frame, and r15's eager checkpoint of the per-doc
      hash arrays left the uncapped sf0.1 time flat (3.48 s with it,
      3.49 s without, medians of 3 and 4 runs);
    - capped, the shingles are exploded once, inside the cap's
      checkpoint job, and the sizes and both join sides read the
      checkpointed frame through a broadcast anti-join against the
      (checkpointed) set of shingles past the cap.
    What must not happen is a hash expression in a filter below the
    spreading exchange: ``shingle_hash_frame`` explodes its gram
    expression inline so Catalyst infers no ``size(arr) > 0`` filter
    there.
    """
    shingles = shingle_hash_frame(df, id_col, text, n)
    if max_df is not None:
        shingles = cap_keys(shingles, ["sh"], id_col, max_df)
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))

    a = shingles.select(F.col(id_col).alias("id_a"), "sh")
    b = _no_static_broadcast(shingles.select(F.col(id_col).alias("id_b"), "sh"))
    shared = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = _no_static_broadcast(
        sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("size_a"))
    )
    sb = _no_static_broadcast(
        sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("size_b"))
    )
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "size_a", "size_b", "jaccard")
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text: Column | str,
    n: int = 3,
) -> DataFrame:
    """Per-eval-document n-gram contamination score against a train
    corpus: the fraction of the doc's DISTINCT word n-grams that occur
    anywhere in train. The standard eval-set decontamination metric
    (e.g. GPT-3 appendix C / PaLM-style 'clean' splits) — complementary
    to ``minhash_lsh_join``, which FINDS near-matching pairs; this
    QUANTIFIES overlap per eval doc, including diffuse contamination
    spread across many train docs that no single pair would flag.

    Physical shape, sized for a 100 TB train corpus:
    - both corpora shingle via ``shingle_hash_frame`` (8-byte hashed
      n-grams, distinct per doc, narrow);
    - train collapses to a DISTINCT shingle set — one shuffle on the
      8-byte key, output bounded by the shingle vocabulary, not the
      corpus size;
    - one shuffle hash join (eval shingles x train set) marks hits; the
      eval side is the small side by construction (eval sets are
      thousands of docs, train is the 100 TB one), so AQE picks the
      right build side; no broadcast assumption on train;
    - one aggregation per eval doc: hits / total, one IEEE division.

    Eval docs with < n tokens have no shingles and are absent from the
    output (mirror the exclusion in the oracle).

    Returns (id_col, n_shingles, n_hit, contamination).
    """
    ev = shingle_hash_frame(eval_df, id_col, text, n)
    train_set = (
        shingle_hash_frame(train, id_col, text, n).select("sh").distinct()
    )
    hits = ev.join(
        train_set.withColumn("__hit", F.lit(1)), "sh", "left"
    )
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_hit"),
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("contamination"),
    )


def _minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_hashes)
    ]


def _no_static_broadcast(df: DataFrame) -> DataFrame:
    """Mark a CORPUS-DERIVED join side so it is never statically
    broadcast: plan-time width stats for computed array columns
    (minhash signatures, shingle arrays) wildly underestimate real row
    size — the estimator prices an array column like a scalar — so a
    frame that is actually hundreds of MB passes the 10 MB
    autoBroadcastJoinThreshold and OOMs the driver building the
    broadcast (found by SCALE.md's r10 100x tier-2 probe: the pinned
    1M-row sigs frame, ~550 MB deserialized, chosen as build side of
    three joins). A SHUFFLE_HASH hint keeps these joins shuffled hash
    joins — build sides are per-partition, memory bounded by the
    partition count — the right strategy for corpus×corpus joins at
    EVERY scale; at small SF the extra exchanges are sub-MB and cost
    nothing measurable. Bounded-by-construction sides (k-row stats
    frames) keep their broadcasts."""
    return df.hint("shuffle_hash")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text: Column | str,
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document: sig_i = min over shingles of
    (a_i * h + b_i) mod M31, with h = pmod(gram hash, M31), the 64-bit
    :func:`ngram_hashes` value folded to 31 bits where the min takes it.
    Documents with < n tokens are dropped (the explode+groupBy
    formulation produced no row for them).

    ROW-LOCAL: a signature is a pure function of one document, so it is
    computed as `array_min(transform(grams, ...))` over the per-doc gram
    array — a narrow projection with NO explode, NO shuffle, and no
    64-buffer aggregation. The earlier explode+groupBy formulation
    shuffled ~|grams-per-doc|× the corpus; this shape is embarrassingly
    parallel at any scale (min is order-independent, so values are
    identical). Built as SQL text: 64 near-identical expressions via the
    Column API would cost thousands of py4j round-trips.

    Returns (id, sigs array<long>[num_hashes]). The whole signature is
    ONE let-bound expression (`element_at(transform(array(__gh), gh ->
    ...), 1)`): projection collapse inlines column expressions into every
    consumer, so 64 separate sig_i columns would re-run the tokenize/
    n-gram pipeline 64 times per row (measured 4x slower than the
    exploded form it replaced); binding the gram array as a lambda
    variable makes it one evaluation regardless of how the optimizer
    rearranges projections.

    a_i*h + b_i stays < 2^62 (a, b, h all < 2^31) — no int64 overflow
    under ANSI mode."""
    params = _minhash_params(num_hashes, seed)
    grams = _token_hashes(df, id_col, text, n).select(
        F.col(id_col),
        F.array_distinct(ngram_hashes(F.col("__th"), n)).alias("__gh"),
    )
    a_arr = "array(" + ", ".join(f"{a}L" for a, _ in params) + ")"
    b_arr = "array(" + ", ".join(f"{b}L" for _, b in params) + ")"
    m = f"{MERSENNE_31}L"
    sig = (
        "element_at(transform(array(`__gh`), gh -> "
        f"zip_with({a_arr}, {b_arr}, (a, b) -> "
        f"array_min(transform(gh, h -> pmod(a * pmod(h, {m}) + b, {m})))"
        ")), 1) AS sigs"
    )
    return grams.selectExpr(f"`{id_col}`", sig)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text: Column | str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    verify_threshold: float | None = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs + estimated Jaccard.

    Signatures are split into ``bands`` bands of ``num_hashes/bands``
    rows; documents colliding on any full band become candidates.
    Candidate generation joins only on (band, band_hash) — the 100 TB
    path. ``verify_threshold`` filters on the signature-estimated
    Jaccard (fraction of agreeing hash positions).

    ``max_bucket`` caps band-bucket membership (``skew.cap_keys``): a
    near-identical cluster of f docs collides
    in EVERY band, contributing bands·f² candidate rows — AQE skew-join
    splits that work across tasks but cannot shrink the output volume.
    With the cap, no bucket contributes more than cap² rows. ``None``
    keeps the complete-candidate baseline the oracle-mirrored queries
    pin.
    """
    return minhash_lsh_pairs_from_sigs(
        minhash_signatures(df, id_col, text, n, num_hashes, seed),
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=verify_threshold,
        max_bucket=max_bucket,
    )


def minhash_lsh_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float | None = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """``minhash_lsh_pairs`` over a PRECOMPUTED ``(id, sigs)`` frame —
    the output of ``minhash_signatures`` with the same ``num_hashes``.

    Entry point for callers that derive several corpus views from ONE
    signature computation (r14 continuation, guide §2.3 — do the heavy
    per-row work once, then multiply rows): the recall corpora build
    corpus+copy by exploding ids at the SIGNATURE level, so each text
    is tokenized/shingled/hashed once instead of once per copy. The
    result is bit-identical because a signature is a pure per-row
    function of the text.

    ``sigs`` is pinned here (band-bucketing and the verify stage both
    scan it) — the caching contract documented on ``minhash_lsh_join``
    applies."""
    assert num_hashes % bands == 0
    sigs = pin(sigs)
    buckets = _band_buckets(sigs, id_col, num_hashes, bands)
    if max_bucket is not None:
        buckets = cap_keys(buckets, ["band", "bh"], id_col, max_bucket)

    l = buckets.select(F.col(id_col).alias("id_a"), "band", "bh")
    r = _no_static_broadcast(
        buckets.select(F.col(id_col).alias("id_b"), "band", "bh")
    )
    cand = (
        l.join(r, on=["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _estimate_and_filter(
        cand, sigs, id_col, sigs, id_col, num_hashes, verify_threshold
    )


def _band_buckets(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, band_hash) — one row per band per document. ``sigs``
    carries the signature as one array column (callers cache it, so the
    repeated slice references below read a materialized attribute)."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.slice("sigs", b * rows_per_band + 1, rows_per_band)
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def _estimate_and_filter(
    cand: DataFrame,
    sigs_a: DataFrame,
    id_a_col: str,
    sigs_b: DataFrame,
    id_b_col: str,
    num_hashes: int,
    verify_threshold: float | None,
) -> DataFrame:
    """Attach the signature-estimated Jaccard (fraction of agreeing hash
    positions) to candidate (id_a, id_b) pairs and filter by threshold."""
    sa = _no_static_broadcast(
        sigs_a.select(F.col(id_a_col).alias("id_a"), F.col("sigs").alias("sig_a"))
    )
    sb = _no_static_broadcast(
        sigs_b.select(F.col(id_b_col).alias("id_b"), F.col("sigs").alias("sig_b"))
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard", agree.cast("double") / F.lit(float(num_hashes))
        )
        .select("id_a", "id_b", "est_jaccard")
    )
    if verify_threshold is not None:
        out = out.filter(F.col("est_jaccard") >= verify_threshold)
    return out


def minhash_lsh_join(
    left: DataFrame,
    left_id: str,
    left_text: Column | str,
    right: DataFrame,
    right_id: str,
    right_text: Column | str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Cross-corpus banded-LSH similarity JOIN: (id_a from left, id_b
    from right, est_jaccard) for pairs colliding on any full band.

    The decontamination primitive: ``left`` = training corpus, ``right``
    = benchmark/eval set; every training document near-matching an eval
    document is flagged without an all-pairs comparison — candidates are
    generated only inside equal (band, band_hash) buckets, so cost is
    bucket-occupancy-bound exactly like the self-join variant. Both
    sides use the SAME permutation family (seed), which is what makes
    signatures comparable across frames.

    Caching contract (also applies to minhash_lsh_pairs/simhash_pairs):
    the signature frames are persisted because band-bucketing and the
    verify stage both scan them (``operators.pins.pin``: released with
    the open ``PinScope``).
    """
    return minhash_lsh_join_from_sigs(
        minhash_signatures(left, left_id, left_text, n, num_hashes, seed),
        left_id,
        minhash_signatures(right, right_id, right_text, n, num_hashes, seed),
        right_id,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=verify_threshold,
    )


def minhash_lsh_join_from_sigs(
    sigs_a: DataFrame,
    left_id: str,
    sigs_b: DataFrame,
    right_id: str,
    num_hashes: int = 64,
    bands: int = 16,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """``minhash_lsh_join`` over PRECOMPUTED signature frames. The
    caller guarantees both frames come from the same permutation
    family (one ``minhash_signatures`` n/num_hashes/seed) — that is
    what makes signatures comparable across frames.

    Lets a caller whose right corpus is a FILTER of the left reuse one
    signature computation (r14 continuation, guide §2.3): filtering the
    signature frame commutes with the per-row signature projection, so
    ``sigs_b = sigs_a.filter(...)`` is bit-identical to re-signing the
    filtered text — and scans the pinned left signatures instead of
    re-shingling the eval corpus (decontaminate's shape)."""
    assert num_hashes % bands == 0
    sl = pin(sigs_a)
    sr = pin(sigs_b)
    bl = _band_buckets(sl, left_id, num_hashes, bands).select(
        F.col(left_id).alias("id_a"), "band", "bh"
    )
    br = _band_buckets(sr, right_id, num_hashes, bands).select(
        F.col(right_id).alias("id_b"), "band", "bh"
    )
    cand = (
        bl.join(_no_static_broadcast(br), on=["band", "bh"])
        .select("id_a", "id_b")
        .distinct()
    )
    return _estimate_and_filter(
        cand, sl, left_id, sr, right_id, num_hashes, verify_threshold
    )


def simhash64(
    df: DataFrame, id_col: str, text: Column | str
) -> DataFrame:
    """64-bit SimHash per document: per bit, sum +1/-1 token votes; bit
    set iff the vote is positive. Returns (id, simhash long).

    ROW-LOCAL like minhash_signatures: the hash is a pure function of
    one document's token multiset, so it folds over the per-doc
    token-hash array (`aggregate(sequence(0,63), ...)` with a nested
    `filter` counting set bits) — narrow projection, NO explode, NO
    shuffle, no 64-buffer aggregation. `vote_i > 0` ⟺
    `2*count_set_i > n_tokens`, which is what the fold tests; duplicate
    tokens keep their weight exactly as in the exploded formulation.
    Documents with no tokens are dropped (the groupBy form produced no
    row for them)."""
    sim = (
        "aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) -> acc + "
        "IF(2 * size(filter(`__th`, h -> (h >> i) & 1 = 1)) > size(`__th`), "
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))) AS simhash"
    )
    return _token_hashes(df, id_col, text, 1).selectExpr(f"`{id_col}`", sim)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text: Column | str,
    max_hamming: int = 7,
    bands: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into ``bands``
    equal slices, self-join on (band, band_bits), verify exact hamming.

    Recall guarantee (pigeonhole): a pair within hamming distance
    ``bands - 1`` MUST share an untouched band, so candidate generation
    is COMPLETE for ``max_hamming <= bands - 1`` and the output is then
    exactly the set of pairs with hamming <= max_hamming. The defaults
    (8 bands, max_hamming 7) keep that guarantee; asking for a larger
    max_hamming than ``bands - 1`` is allowed but recall above the
    guarantee line degrades (standard LSH tradeoff).

    ``max_bucket`` caps band-bucket membership before the self-join
    (``skew.cap_keys`` — the anti-quadratic guard for
    near-identical clusters, which collide in every band). Capping
    trades the pigeonhole completeness guarantee inside dropped
    buckets for bounded pair volume; ``None`` keeps the complete
    baseline the oracle-mirrored queries pin."""
    return simhash_pairs_from_sigs(
        simhash64(df, id_col, text),
        id_col,
        max_hamming=max_hamming,
        bands=bands,
        max_bucket=max_bucket,
    )


def simhash_pairs_from_sigs(
    sims: DataFrame,
    id_col: str,
    max_hamming: int = 7,
    bands: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """``simhash_pairs`` over a PRECOMPUTED ``(id, simhash)`` frame —
    the output of ``simhash64``. Same rationale as
    ``minhash_lsh_pairs_from_sigs`` (r14 continuation, guide §2.3): a
    SimHash is a pure per-row function of the text, so corpus views
    that repeat texts (the recall corpora's corpus+copy) explode ids
    after ONE signature pass instead of hashing each text per copy."""
    assert 64 % bands == 0, "bands must divide 64"
    width = 64 // bands
    mask = (1 << width) - 1
    # cache: both sides of the candidate self-join scan the signatures;
    # without it the token-hash/bit-aggregation pipeline runs twice.
    sims = pin(sims)
    slices = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright(F.col("simhash"), q * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("qh"),
                    )
                    for q in range(bands)
                ]
            )
        ).alias("qq"),
    ).select(id_col, "simhash", F.col("qq.q").alias("q"), F.col("qq.qh").alias("qh"))
    if max_bucket is not None:
        slices = cap_keys(slices, ["q", "qh"], id_col, max_bucket)

    l = slices.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "q", "qh"
    )
    r = slices.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "q", "qh"
    )
    # Hamming-verify BEFORE the distinct: the verify is a pure projection
    # (bit_count of an xor), so running it on the raw band-join output and
    # deduping only the survivors shuffles the surviving pairs instead of
    # every (pair x shared-band) candidate row — the candidate set is the
    # 10x-larger side whenever bands are narrow.
    return (
        l.join(_no_static_broadcast(r), on=["q", "qh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _non_null_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Exclude rows whose vector is NULL — or all-zeros — before any
    numpy kernel sees the batch.

    NULL: ``np.stack`` over a column with None cells raises (ragged
    shapes), and a row with no embedding cannot participate in similarity
    anyway — the same eligibility rule the text operators apply to docs
    with no tokens. Dirty corpora at scale DO carry null vectors (a failed
    embed job writes the row with the column missing).

    Zero-norm (r12 advice): cosine against a zero vector is 0/0 = NaN;
    NaN rows poison ``np.argmax``/comparison-based keep decisions with
    an order the SQL fold does not share, so the batch answer would
    silently diverge from the oracle the moment a corpus carried one.
    A zero embedding carries no direction — it cannot be "similar" to
    anything — so the defined semantics is INELIGIBLE, same as NULL
    (an embed job that emits all-zeros failed, just less honestly).

    NaN (r13 advice): ``x != 0.0`` is TRUE for NaN in Spark SQL, so a
    vector like [NaN, 0, ...] passed the zero-norm probe yet still
    poisons the numpy kernels with NaN cosines — the exact argmax/keep
    hazard the zero-norm rule exists to prevent. A NaN-carrying vector
    is a failed embed job the same way an all-zeros one is, so the
    eligibility predicate also requires every element finite-by-isnan
    (``forall(c, !isnan(x))``; Infinity stays eligible — it yields
    defined, if extreme, cosines on both engines).
    The filter is a pure Catalyst exists/forall probe, no UDF."""
    c = F.col(vec_col)
    return df.filter(
        c.isNotNull()
        & F.exists(c, lambda x: x != F.lit(0.0))
        & F.forall(c, lambda x: ~F.isnan(x))
    )


def _seq_norms(arr: np.ndarray) -> np.ndarray:
    """L2 norms via dimension-sequential accumulation — the exact IEEE add
    order of the ``aggregate(zip_with(...))`` SQL fold (functions/vectors.py),
    so downstream scores stay bit-identical to the DuckDB oracle."""
    n = np.zeros(len(arr))
    for d in range(arr.shape[1]):
        n += arr[:, d] * arr[:, d]
    return np.sqrt(n)


def _seq_scores(left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """Cosine score matrix (len(left) x len(right)) with dimension-sequential
    accumulation. Per pair this is sum_d l[d]*r[d] / (|l|*|r|) with the same
    IEEE op sequence as the SQL fold; multiplication is commutative in IEEE
    754, so either matrix orientation yields bit-identical per-pair scores.

    One preallocated product buffer reused across the dim loop (multiply
    into ``tmp``, add in place) instead of a fresh ``np.outer`` per
    dimension: identical multiply-then-add op sequence, but dims x
    len(left) x len(right) x 8 bytes of transient allocations collapse
    to two stable buffers — on 100x-replica clusters (50k x 1024 x 64
    dims = 64 fresh 400 MB temporaries per task, 8 tasks concurrent)
    the allocator churn, not the FLOPs, was the measured wall (a 49 s
    vs 176 s swing between probe runs; PERF.md r12)."""
    acc = np.zeros((len(left), len(right)))
    tmp = np.empty_like(acc)
    for d in range(left.shape[1]):
        np.multiply(left[:, d, None], right[None, :, d], out=tmp)
        acc += tmp
    return acc / np.outer(_seq_norms(left), _seq_norms(right))


def _blas_scores(left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """Cosine score matrix (len(left) x len(right)) from one BLAS matmul:
    the algebra of ``_seq_scores`` at a fraction of its cost, equal
    within float ulps but not bit-identical to the SQL fold."""
    return (left @ right.T) / np.outer(
        np.sqrt((left * left).sum(axis=1)), np.sqrt((right * right).sum(axis=1))
    )


def _sq_l2(vecs: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Squared L2 distance of every vector to every centroid
    (len(vecs) x len(cent)): ``|v|^2 - 2 v.c + |c|^2``."""
    return (
        (vecs * vecs).sum(axis=1)[:, None]
        - 2.0 * vecs @ cent.T
        + (cent * cent).sum(axis=1)[None, :]
    )


_PANDAS_TYPES = {"long": "int64", "int": "int32", "double": "float64"}

_TOPK_SCHEMA = "query_id long, neighbor_id long, rank int, score double"


def _no_rows(schema: str) -> pd.DataFrame:
    """An empty pandas frame typed for a ``"name type, ..."`` UDF schema."""
    types = dict(field.split() for field in schema.split(","))
    return pd.DataFrame({c: [] for c in types}).astype(
        {c: _PANDAS_TYPES[t] for c, t in types.items()}
    )


def _local_topk(
    score_col: np.ndarray, cids: np.ndarray, self_id, k: int
) -> np.ndarray:
    """Indices of the top-k candidates for one query under the final total
    order (score desc, neighbor_id asc), excluding the query itself."""
    idx = np.nonzero(cids != self_id)[0]
    if not len(idx):
        return idx
    order = np.lexsort((cids[idx], -score_col[idx]))[:k]
    return idx[order]


def _emit_topk(
    score: np.ndarray, cand_ids: np.ndarray, query_ids: np.ndarray, k: int
) -> pd.DataFrame:
    """``_TOPK_SCHEMA`` rows: the top-k candidates of every query, where
    column j of ``score`` (candidates x queries) scores query
    ``query_ids[j]``. ``rank`` counts within this candidate set; an
    operator that unions several sets re-ranks with ``_global_topk``."""
    picks = [
        _local_topk(score[:, j], cand_ids, q, k) for j, q in enumerate(query_ids)
    ]
    sizes = np.array([len(p) for p in picks], dtype=np.int64)
    rows = np.concatenate([np.empty(0, np.int64), *picks])
    cols = np.repeat(np.arange(len(picks)), sizes)
    first = np.repeat(np.cumsum(sizes) - sizes, sizes)
    return pd.DataFrame(
        {
            "query_id": query_ids[cols],
            "neighbor_id": cand_ids[rows],
            "rank": (np.arange(len(rows)) - first + 1).astype("int32"),
            "score": score[rows, cols],
        }
    )


def _global_topk(local: DataFrame, k: int) -> DataFrame:
    """The final rank over a union of local top-ks: exact, because a
    query's global top-k is a subset of that union, so the rank shuffle
    carries O(candidate sets * k) rows per query."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def _block_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    corpus_blocks: int,
    emit,
    schema: str,
) -> DataFrame:
    """All-pairs cosine over the upper triangle of a hash-block grid.

    The eligible rows hash into ``corpus_blocks`` blocks on the id, and
    every cell (bi, bj) with bi <= bj is one cogrouped ``applyInPandas``
    group: its lo side holds block bi, its hi side block bj. The cell
    scores lo x hi as one ``_seq_scores`` matrix (bit-identical to the
    SQL fold, and to the transposed orientation) and
    ``emit(diagonal, lo_ids, hi_ids, score)`` turns it into ``schema``
    rows; on a diagonal cell (bi == bj) both sides hold the same rows.

    Scale shape: NO driver collect. Group memory is O((N/B)*D) per side
    and the replication shuffle carries N*(B+1) rows: a row of block b
    visits B - b cells as lo and b + 1 as hi. Every unordered pair is
    scored in exactly one cell, twice only on the diagonal, so the grid
    does (B+1)/2B of the full B x B grid's scoring. All-pairs work is
    inherently O(N^2/2) on any engine; the blocking bounds *memory*, and
    the LSH/IVF operators are the sub-quadratic path."""
    B = corpus_blocks
    base = _non_null_vectors(df, vec_col).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    own = F.pmod(F.xxhash64(F.col("__id")), F.lit(B)).cast("int")
    tagged = base.select("__id", "__v", own.alias("__b"))
    lo = tagged.select(
        "__id",
        "__v",
        F.col("__b").alias("bi"),
        F.explode(F.sequence(F.col("__b"), F.lit(B - 1))).alias("bj"),
    )
    # The hi side gets freshly-aliased column names: both sides descend
    # from the same `tagged` frame, and a self-cogroup whose children share
    # attribute ids can lose the hi side's non-key columns to analyzer
    # deduplication depending on what sits downstream (observed on 4.1:
    # bare consumption of the cogroup output handed the UDF a right pdf
    # with only the grouping keys). Distinct names -> distinct attributes,
    # no conflict to deduplicate, plan-shape independent.
    hi = tagged.select(
        F.col("__id").alias("__id2"),
        F.col("__v").alias("__v2"),
        F.explode(F.sequence(F.lit(0), F.col("__b"))).alias("bi"),
        F.col("__b").alias("bj"),
    )

    def cell(key, lpdf, hpdf):
        if not len(lpdf) or not len(hpdf):
            return _no_rows(schema)
        larr = np.stack(lpdf["__v"].to_numpy()).astype(np.float64)
        harr = np.stack(hpdf["__v2"].to_numpy()).astype(np.float64)
        return emit(
            key[0] == key[1],
            lpdf["__id"].to_numpy(),
            hpdf["__id2"].to_numpy(),
            _seq_scores(larr, harr),
        )

    return (
        lo.groupBy("bi", "bj")
        .cogroup(hi.groupBy("bi", "bj"))
        .applyInPandas(cell, schema)
    )


def embedding_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    corpus_blocks: int = 8,
) -> DataFrame:
    """Exact brute-force cosine top-k neighbors of every corpus row.

    Scored on ``_block_cells``' upper-triangle grid (no driver collect):
    a cell emits the local top-k of its lo rows over its hi rows and,
    off the diagonal, of its hi rows over its lo rows — one score
    matrix serves both directions because per-pair scores are
    bit-symmetric. A query thus sees every block exactly once, and one
    window (``_global_topk``) ranks the union of its local top-ks.
    Scores accumulate dimension-sequentially (``_seq_scores``), so they
    are bit-identical to the SQL oracle while vectorizing across rows.
    """

    def cell_topk(diagonal, lo_ids, hi_ids, score):
        lo_side = _emit_topk(score.T, hi_ids, lo_ids, k)
        if diagonal:
            return lo_side
        return pd.concat(
            [lo_side, _emit_topk(score, lo_ids, hi_ids, k)], ignore_index=True
        )

    return _global_topk(
        _block_cells(df, id_col, vec_col, corpus_blocks, cell_topk, _TOPK_SCHEMA),
        k,
    )


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


#: Expected sign-LSH bucket occupancy that ``lsh_num_planes`` sizes for.
LSH_BUCKET_ROWS = 4096


def lsh_num_planes(n_rows: int) -> int:
    """Plane count sized from the corpus: ``ceil(log2(n / LSH_BUCKET_ROWS))``
    clamped to [1, 30], so expected bucket occupancy stays at or below
    ``LSH_BUCKET_ROWS`` under the uniform-sign approximation. The
    recall/cost dial in one line: each extra plane halves the expected
    bucket (≈ halves candidate cost) and lowers recall for non-identical
    neighbors; identical vectors always share every sign bit, so
    exact-duplicate recall is 1.0 at any plane count. At 10^9 rows this
    picks 18 planes (~256k buckets)."""
    return max(1, min(30, math.ceil(math.log2(max(2.0, n_rows / LSH_BUCKET_ROWS)))))


def _sign_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    num_planes: int | str,
    seed: int,
) -> DataFrame:
    """(__id, __v, __bucket) for the eligible rows: the bucket is the
    sign bit-vector of ``num_planes`` seeded hyperplane dot products
    (bit i set when the i-th dot is >= 0). ``"auto"`` derives the plane
    count from a corpus ``count()`` via ``lsh_num_planes`` — one extra
    cheap count job, and the bucket size stays bounded as the corpus
    grows instead of silently degrading to quadratic in-bucket cost at
    a fixed toy plane count. The dots are the SQL fold, so the oracles
    reproduce every bucket with the planes as SQL literals."""
    df = _non_null_vectors(df, vec_col)
    if num_planes == "auto":
        num_planes = lsh_num_planes(df.count())
    v = F.col(vec_col)
    bucket = None
    for i, plane in enumerate(_hyperplanes(dim, num_planes, seed)):
        d = dot(v, F.array(*[F.lit(x) for x in plane]))
        bit = F.when(d >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        bucket = term if bucket is None else bucket.bitwiseOR(term)
    return df.select(
        F.col(id_col).alias("__id"), v.alias("__v"), bucket.alias("__bucket")
    )


def embedding_ann_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    num_planes: int | str = "auto",
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k via random-hyperplane (sign) LSH: cosine is
    evaluated only within a ``_sign_buckets`` bucket.

    ``max_bucket`` caps IN-BUCKET scoring cost: a bucket with more than
    ``max_bucket`` members scores every member against only the
    ``max_bucket`` smallest-id members (deterministic representatives)
    instead of against the whole bucket — per-bucket work drops from
    |bucket|² to |bucket|·cap. This is the plane-count dial's blind
    spot: EXACT-duplicate vectors share every sign bit, so a clone
    cluster of f copies is indivisible by hyperplanes and lands in one
    bucket at any plane count, going locally quadratic (SCALE.md's
    100x replica measured 46.9x wall uncapped). For clones the
    representative answer is exact — every rep of the clone family
    scores 1.0 — and a training-data corpus's oversized buckets ARE
    clone families (dedup is this engine's premise); heterogeneous
    members of a capped bucket get top-k over the reps only, the
    standard quality/cost trade of every IVF/LSH production index.
    ``None`` keeps complete in-bucket scoring (the oracle-mirrored
    baseline). When the cap does not trigger the computation — and its
    IEEE op order — is bit-identical to uncapped, so a cap sized above
    the shipped-SF bucket maximum shares the uncapped oracle
    (`plans/q_similarity.py:minhash_recall_capped` recipe).

    Physical shape (the 100 TB path): the ONLY shuffle is the
    groupBy(bucket) exchange, whose rows carry (id, vector, bucket).
    Because a query's candidate set is exactly its own bucket, scoring
    and per-query top-k (``_emit_topk``, whose in-bucket rank is final)
    both happen inside one ``applyInPandas`` group — one numpy matrix
    product per bucket, dimension-sequential accumulation
    (``_seq_scores``) so scores stay bit-identical to the SQL fold
    oracle. No candidate pair ever carries two vectors through a
    shuffle (a bucket-vs-bucket join would ship ~N^2/buckets pair rows
    with both 64-float vectors attached — the shape the IVF cogroup
    comment measured at ~6 s). Hot buckets
    are the standard sign-LSH skew risk: ``lsh_num_planes`` bounds the
    EXPECTED occupancy; a pathologically aligned corpus still
    concentrates, which AQE cannot split (single group key) — the dial
    is more planes, fewer per-bucket rows.
    """

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        ids = pdf["__id"].to_numpy()
        cand = slice(None)
        if max_bucket is not None and len(ids) > max_bucket:
            cand = np.argsort(ids)[:max_bucket]
        return _emit_topk(_seq_scores(arr[cand], arr), ids[cand], ids, k)

    return (
        _sign_buckets(df, id_col, vec_col, dim, num_planes, seed)
        .groupBy("__bucket")
        .applyInPandas(bucket_topk, _TOPK_SCHEMA)
    )


def embedding_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    corpus_blocks: int = 8,
) -> DataFrame:
    """All id-ordered pairs with cosine similarity >= ``threshold``.

    Scored on ``_block_cells``' upper-triangle grid (dimension-sequential
    accumulation, so the threshold compare agrees bitwise with the SQL
    oracle); only above-threshold hits leave the Python worker — the
    shuffle after scoring is the hit set, not the pair product. At real
    corpus sizes the sub-quadratic route is a blocking stage
    (``embedding_pairs_lsh`` / ``minhash_lsh_pairs``) followed by exact
    verification of the candidate set.

    Diagonal cells score each unordered pair twice, so the output may
    contain duplicate rows — downstream consumers either aggregate them
    away for free (``embedding_neardup``'s min-agg) or tolerate duplicate
    edges (``connected_components``' min-label propagation); a
    ``.distinct()`` here would be a pure extra shuffle on the hit set.

    Output: (id_a, id_b) with id_a < id_b, possibly with duplicates.
    """

    def cell_hits(diagonal, lo_ids, hi_ids, score):
        hit = score >= threshold
        # orient every hit as (smaller id = canonical a, larger id = dup b);
        # self-pairs fail both strict compares.
        lt_i, lt_j = np.nonzero(hit & (lo_ids[:, None] < hi_ids[None, :]))
        gt_i, gt_j = np.nonzero(hit & (lo_ids[:, None] > hi_ids[None, :]))
        return pd.DataFrame(
            {
                "id_a": np.concatenate([lo_ids[lt_i], hi_ids[gt_j]]),
                "id_b": np.concatenate([hi_ids[lt_j], lo_ids[gt_i]]),
            }
        )

    return _block_cells(
        df, id_col, vec_col, corpus_blocks, cell_hits, "id_a long, id_b long"
    )


def embedding_neardup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    corpus_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection (greedy lowest-id-wins).

    A row is a duplicate iff some row with a smaller id has cosine
    similarity >= ``threshold``; its canonical id is the smallest such
    neighbor. One-hop canonicalization (not transitive closure) — the
    standard greedy policy for training-data dedup, and fully
    SQL-expressible for the oracle. Pair generation (and its scale
    story) lives in ``embedding_pairs``; the min-agg here also absorbs
    the duplicate rows diagonal cells emit.

    Output: (doc_id, canonical_id, is_duplicate), one row per input row.
    """
    pairs = embedding_pairs(df, id_col, vec_col, threshold, corpus_blocks)
    mins = pairs.groupBy("id_b").agg(F.min("id_a").alias("__min_aid"))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(mins, F.col("doc_id") == F.col("id_b"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__min_aid"), F.col("doc_id")).alias("canonical_id"),
            F.col("__min_aid").isNotNull().alias("is_duplicate"),
        )
    )


def embedding_ann_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    max_cell: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors — the classic
    coarse-quantizer index, distributed:

    1. Train a small centroid codebook: deterministic seed (the
       ``n_centroids`` lowest-id vectors) + one k-means (Lloyd)
       refinement. The refinement is fully distributed — assignment is a
       vectorized mapInPandas over the corpus, the new codebook is an
       elementwise mean via posexplode + groupBy(cell, dim) — only the
       (n_centroids x dim) codebook ever reaches the driver.
    2. Assign every vector to its nearest centroid cell (one corpus pass).
    3. Each query probes its ``n_probe`` nearest cells; candidates are the
       cell members (a cogroup on cell id — the inverted file), scored
       exactly and ranked top-k (``_emit_topk`` per cell, ``_global_topk``
       over the probed cells).

    Recall/cost dial: n_probe/n_centroids is the fraction of the corpus
    scored per query (default 4/16 = 25%). The cell cogroup partitions by
    cell id; at 100 TB the codebook stays a broadcast (KB-scale) and no
    stage ever holds the full pair product. Rows-only check (seeded
    iterative training is not SQL-expressible).

    ``max_cell`` caps the MEMBER side of per-cell scoring (the same
    clone-cluster degeneracy ``embedding_ann_lsh``'s ``max_bucket``
    documents: exact-duplicate vectors all assign to the same nearest
    centroid, so a clone family concentrates in one cell no matter how
    the codebook trains): an over-full cell scores its queries against
    only the ``max_cell`` smallest-id members — cost |queries|·cap
    instead of |queries|·|cell|, exact for clones (any rep scores 1.0),
    rep-approximate for heterogeneous members, bit-identical to
    uncapped whenever the cap does not trigger.
    """
    spark = df.sparkSession
    df = _non_null_vectors(df, vec_col)
    vecs = df.select(id_col, vec_col)

    def assigned(cent: np.ndarray) -> DataFrame:
        # vec passes through the UDF output so no downstream join is needed
        # to recover it (each join here would be a full shuffle).
        def assign(it):
            for pdf in it:
                if not len(pdf):
                    continue
                varr = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        "cell": _sq_l2(varr, cent).argmin(axis=1).astype("int32"),
                        vec_col: pdf[vec_col],
                    }
                )

        return vecs.mapInPandas(
            assign, f"{id_col} long, cell int, {vec_col} array<float>"
        )

    init = df.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    cent = np.asarray([list(r[0]) for r in init], dtype=np.float64)
    means = (
        assigned(cent)
        .select("cell", F.posexplode(vec_col).alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg(F.avg("val").alias("mu"))
        .collect()
    )
    for r in means:
        cent[r["cell"], r["dim"]] = r["mu"]

    members = assigned(cent).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__nv"),
        "cell",
    )

    bc_cent = spark.sparkContext.broadcast(cent)

    def probe(it):
        c_arr = bc_cent.value
        for pdf in it:
            if not len(pdf):
                continue
            varr = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = np.argsort(_sq_l2(varr, c_arr), axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[id_col].to_numpy(), n_probe),
                    "__qv": [
                        v for v in pdf[vec_col] for _ in range(n_probe)
                    ],
                    "cell": cells.astype("int32").ravel(),
                }
            )

    probes = vecs.mapInPandas(
        probe, "query_id long, __qv array<float>, cell int"
    )

    # Score per cell via COGROUP, not a probe-x-member join: a join would
    # materialize every candidate pair WITH both vectors attached (at 16
    # cells / probe 4 that is ~N^2/4 rows x ~0.5 KB — measured ~6 s just
    # shipping pairs through Arrow at sf0.1). Cogrouping delivers each
    # cell's query block and member block to Python once; one matrix
    # product per cell, and only the per-cell top-k rows come back.
    def cell_score(key, qpdf, mpdf):
        if not len(qpdf) or not len(mpdf):
            return _no_rows(_TOPK_SCHEMA)
        if max_cell is not None and len(mpdf) > max_cell:
            rep = np.argsort(mpdf["neighbor_id"].to_numpy())[:max_cell]
            mpdf = mpdf.iloc[rep]
        qa = np.stack(qpdf["__qv"].to_numpy()).astype(np.float64)
        ma = np.stack(mpdf["__nv"].to_numpy()).astype(np.float64)
        return _emit_topk(
            _blas_scores(qa, ma).T,
            mpdf["neighbor_id"].to_numpy(),
            qpdf["query_id"].to_numpy(),
            k,
        )

    return _global_topk(
        probes.groupBy("cell")
        .cogroup(members.groupBy("cell"))
        .applyInPandas(cell_score, _TOPK_SCHEMA),
        k,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    threshold: float = 0.8,
    max_cluster: int | None = None,
    exact_fold: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): the
    dedup rung ABOVE near-dup — two documents with no shared n-grams
    but the same meaning have near-identical embeddings, so cluster
    the embedding space coarsely and prune within clusters by cosine:

    1. Coarse clustering: a ``n_clusters``-entry codebook seeded from
       the ``n_clusters`` lowest-id vectors, one assignment pass by
       cosine (ties to the lowest centroid id). The DETERMINISTIC seed
       with no Lloyd refinement is what makes the full pipeline
       SQL-expressible for certification; a production run would train
       the codebook with ``embedding_ann_ivf``'s distributed Lloyd
       refinement and size ``n_clusters ~ N / target_cluster`` — every
       claim below is per-cluster, so the clustering quality dial
       never changes the plan shape.
    2. Within-cluster prune: a vector is a semantic duplicate if its
       max cosine to any LOWER-ID cluster member reaches ``threshold``
       — the parallel variant of SemDeDup's keep-one-per-similar-pair
       (drop-against-all-priors, not drop-against-surviving-priors:
       independent per row, so it needs no sequential scan and states
       cleanly in SQL; it can only drop MORE than the sequential
       greedy, never less).

    Output: one row per input vector —
    ``(id, cluster, max_prior, keep)`` where ``cluster`` is the
    winning centroid's id, ``max_prior`` the max cosine to lower-id
    cluster members (-1.0 when none — engine-exact, no NULL-vs-NaN
    ambiguity), ``keep = max_prior < threshold``.

    Scale design: cluster = bucket, the same recipe as every pair
    generator here. Assignment is one broadcast-codebook corpus pass
    (mapInPandas); the only shuffle groups by cluster id; per-cluster
    scoring is |cluster| x min(|cluster|, ``max_cluster``) —
    ``max_cluster`` is the rep-cap dial (`embedding_ann_lsh`'s
    ``max_bucket``): an over-full cluster scores members against only
    the cap SMALLEST-ID members, exact for clone families (any clone's
    original sorts earliest and scores 1.0), rep-approximate for
    heterogeneous tails, bit-identical to uncapped when idle.
    Measured cluster maxima on the shipped corpora (8 seeds, doubled
    corpus — the registered query's shape): 140 at sf0.01, 584 at
    sf0.1 — a 1024 cap never triggers at any shipped SF.

    ``exact_fold``: True (default, the certified path) scores with
    dimension-sequential accumulation (`_seq_scores`) so values stay
    bit-identical to the SQL fold the DuckDB oracle computes; False
    swaps in the BLAS matmul kernel (`_blas_scores`) — same algebra,
    ~3-5x faster at 100x where per-cluster scoring is the stage
    (PERF.md), values identical within float ulps (pinned by test).
    Production runs that do not need oracle bit-parity should pass
    False.
    """
    spark = df.sparkSession
    scores = _seq_scores if exact_fold else _blas_scores
    df = _non_null_vectors(df, vec_col)
    init = (
        df.orderBy(id_col).limit(n_clusters).select(id_col, vec_col).collect()
    )
    cent_ids = np.asarray([r[0] for r in init], dtype=np.int64)
    cent = np.asarray([list(r[1]) for r in init], dtype=np.float64)
    bc = spark.sparkContext.broadcast((cent_ids, cent))

    def assign(it):
        cids, carr = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            varr = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # argmax returns the FIRST max: centroids are in ascending
            # id order, so ties break to the lowest centroid id — the
            # same total order as the oracle's (cos DESC, cid ASC)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cluster": cids[scores(varr, carr).argmax(axis=1)],
                    vec_col: pdf[vec_col],
                }
            )

    assigned = df.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, cluster long, {vec_col} array<float>"
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        varr = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = len(pdf)
        m = n if max_cluster is None else min(n, max_cluster)
        # Row-chunked scoring: per-pair values are independent, so
        # chunking changes nothing bit-wise but bounds the task's
        # transient score matrix to chunk x cap instead of
        # |cluster| x cap — on 100x-replica clusters the full matrix
        # (50k x 1024 doubles) was pure allocator pressure.
        chunk = 4096
        mp = np.empty(n)
        col = np.arange(m)[None, :]
        for i0 in range(0, n, chunk):
            i1 = min(i0 + chunk, n)
            # row i may see base columns j < min(i, m): strictly-lower
            # ids only, capped at the base width (the rep-cap)
            visible = col < np.minimum(np.arange(i0, i1), m)[:, None]
            mp[i0:i1] = np.where(
                visible, scores(varr[i0:i1], varr[:m]), -np.inf
            ).max(axis=1, initial=-np.inf)
        mp = np.where(np.isfinite(mp), mp, -1.0)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cluster": pdf["cluster"].to_numpy(),
                "max_prior": mp,
                "keep": mp < threshold,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        lambda _key, pdf: prune(pdf),
        f"{id_col} long, cluster long, max_prior double, keep boolean",
    )


def embedding_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    num_planes: int | str = "auto",
    seed: int = 42,
) -> DataFrame:
    """Cosine-threshold pairs restricted to same-LSH-bucket candidates —
    the sub-quadratic twin of ``embedding_pairs``.

    Buckets come from ``_sign_buckets``, the bucketer of
    ``embedding_ann_lsh`` too, so the whole pipeline — signs, candidate
    set, exact in-bucket cosine verify — is SQL-mirrorable for the
    oracle. Only pairs sharing the full sign vector are scored: compute
    drops from O(N²) to sum-of-bucket² while exact duplicates (identical
    vectors share every sign bit) keep recall 1.0; near-duplicates below
    cosine 1 trade recall per plane, the standard sign-LSH dial.

    Physical shape: ONE shuffle (groupBy bucket), one numpy matrix per
    bucket inside ``applyInPandas``, only above-threshold (a < b) hits
    leave Python. Single-frame grouping — no self-cogroup, so the
    attribute-dedup hazard ``_block_cells`` documents does not apply.
    Per-bucket score memory is O(rows²); ``lsh_num_planes`` bounds
    EXPECTED occupancy at ``LSH_BUCKET_ROWS`` (128 MB of doubles — pass
    more planes for wide corpora).

    Output: (id_a, id_b) with id_a < id_b, no duplicates.
    """

    def bucket_hits(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        ids = pdf["__id"].to_numpy()
        score = _seq_scores(arr, arr)
        i, j = np.nonzero((score >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"id_a": ids[i], "id_b": ids[j]})

    return (
        _sign_buckets(df, id_col, vec_col, dim, num_planes, seed)
        .groupBy("__bucket")
        .applyInPandas(bucket_hits, "id_a long, id_b long")
    )


def fuzzy_pairs_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocking: list[Column],
    max_distance: int = 1,
    max_block: int | None = None,
) -> DataFrame:
    """Fuzzy record-linkage pairs: Levenshtein distance <= ``max_distance``
    within blocking buckets — the classic contact-dedup shape the
    reference's exact-key dedup (clean_contacts.py dedup key) cannot
    express (a typo'd email/name never equals its twin exactly).

    ``blocking`` is the scale contract: edit distance is not
    hash-joinable, so candidate pairs come from a self-equi-join on the
    blocking expressions (e.g. name length band + prefix) and ONLY
    in-block pairs pay the O(len²) levenshtein, computed JVM-side by
    Catalyst's built-in. |pairs| = sum over blocks of |B|² — bounded by
    the blocking design, never corpus². A block key shared by B records
    is the same quadratic hazard as a hot shingle; ``max_block`` drops
    blocks of more than that many records before the join
    (``skew.cap_keys``, the cap behind ``ngram_jaccard_pairs.max_df``
    too). Recall note: a pair
    is found only if SOME blocking expression agrees — standard
    multi-pass linkage runs several blocking schemes and unions.

    Output: (id_a, id_b, name_a, name_b, distance), id_a < id_b.
    """
    b_cols = [e.alias(f"__b{i}") for i, e in enumerate(blocking)]
    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__name"), *b_cols
    )
    keys = [f"__b{i}" for i in range(len(blocking))]
    if max_block is not None:
        base = cap_keys(base, keys, "__id", max_block)
    a = base.select(
        F.col("__id").alias("id_a"), F.col("__name").alias("name_a"), *keys
    )
    # no _no_static_broadcast here: base is a plain scan projection, so
    # its size estimate SCALES with the input (verified at the 100x
    # replica: Spark picks a shuffle join on its own) — the hint is for
    # frames whose computed-array lineage breaks the estimator
    b = base.select(
        F.col("__id").alias("id_b"), F.col("__name").alias("name_b"), *keys
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "name_a", "name_b", "distance")
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text: Column | str,
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    probe_pred=None,
) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (the AllPairs /
    PPJoin candidate rule, Bayardo et al. WWW'07 / Xiao et al.): for
    Jaccard threshold t = t_num/t_den, order every document's shingle
    set by one fixed global total order and index only each document's
    PREFIX of length ``|d| - ceil(t·|d|) + 1``; any pair with
    Jaccard >= t must share at least one prefix shingle (pigeonhole on
    the required overlap ``ceil(t·|d|)``), so the inverted-index join
    over prefixes alone generates a candidate superset, verified
    exactly afterwards.

    This is the second exact-candidate scale path next to banded
    MinHash: LSH is probabilistic (recall < 1 by design, certified via
    recall floors); prefix filtering is LOSSLESS for any fixed global
    order. Ordering by ascending document frequency (rarest first,
    ties by shingle hash — deterministic) makes the indexed prefixes
    the RAREST shingles of each document, which is what keeps the
    posting lists of the candidate join short on a skewed corpus: a
    stop-shingle lands in a document's prefix only when the document
    contains almost nothing rarer. (A pathological corpus of pure
    stop-shingles degrades toward the uncapped inverted-index join —
    the `max_df` interplay documented on ``ngram_jaccard_pairs``
    applies if that corpus shows up.)

    Exactness: prefix length in pure integer arithmetic
    (``ceil(t*s) = (t_num*s + t_den - 1) DIV t_den``), shared counts
    via ``array_intersect`` over distinct-hash arrays, one IEEE
    division for the Jaccard. Output matches ``ngram_jaccard_pairs``:
    (id_a, id_b, shared, size_a, size_b, jaccard).

    Physical shape: each posting is tagged with its shingle's document
    frequency by ONE window count over the shingle key (a single
    exchange — no groupBy + join-back), per-doc sort is array_sort over
    a collected struct array (no global rank — the (df, sh) pair itself
    is the total order, so no single-partition window anywhere),
    candidates explode only prefixes, and verification joins the
    candidate pairs back to the pinned per-doc arrays by id.

    ``probe_pred`` (optional, a function of the id Column) switches the
    candidate join to the INCREMENTAL daily-crawl shape: only pairs
    with at least one PROBE-side document (e.g. today's batch) are
    generated — probe prefixes join the full prefix index instead of
    the index joining itself, so yesterday's history x history pairs
    (already adjudicated) are never recomputed. Losslessness is
    unchanged: any J >= t pair containing a probe doc shares a prefix
    shingle, which the probe side explodes. A production deployment
    persists the per-doc prefix index and appends each day's batch;
    the df-based global order is snapshotted when the index is built
    (the prefix theorem holds for ANY fixed total order, so a stale df
    snapshot costs candidate-list length, never recall).
    """
    # t_num/t_den are interpolated into integer DIV expressions and set
    # the prefix length: reject impossible thresholds loudly instead of
    # surfacing them as a negative-length slice or a divide-by-zero
    # deep inside the plan (same loud-rejection rule as
    # gapfill_forward_fill's unit whitelist).
    if not (
        isinstance(t_num, int)
        and isinstance(t_den, int)
        and 0 < t_num <= t_den
    ):
        raise ValueError(
            "prefix_filter_pairs: threshold must satisfy "
            f"0 < t_num <= t_den with ints, got {t_num}/{t_den}"
        )

    from pyspark.sql import Window

    shingles = shingle_hash_frame(df, id_col, text, n)
    # Document frequency as a whole-partition window count over the
    # shingle key (guide §2.4): the former groupBy(sh) + join-back shape
    # planned and executed the corpus shingle pipeline TWICE (df branch
    # + join probe side) and paid three exchanges (df groupBy, probe
    # re-shuffle, the join) to tag each posting with its df; the window
    # computes the same count in ONE pass over ONE exchange. Skew note:
    # the join form already delivered every posting of a hot shingle to
    # a single probe-side task, but it STREAMED them against a small df
    # build map, whereas WindowExec BUFFERS each sh partition group
    # (spilling past the in-memory threshold) — under extreme
    # stop-shingle skew this is buffered-with-spill rather than
    # streamed; memory-safe either way. What keeps the candidate join
    # short is the rarest-first prefix order (a stop-shingle enters a
    # prefix only when the document holds nothing rarer); pathological
    # corpora are the docstring's note.
    # Per-doc shingle array sorted by the global (df asc, sh asc) order.
    per_doc = pin(
        shingles.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
        )
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("sh")))
            ).alias("__arr")
        )
        .select(
            F.col(id_col),
            F.transform("__arr", lambda x: x["sh"]).alias("sh_arr"),
            F.size("__arr").alias("sz"),
        )
    )
    # prefix length p = sz - ceil(t*sz) + 1, integer-exact.
    p = (
        F.col("sz")
        - F.expr(f"({t_num} * sz + {t_den} - 1) DIV {t_den}")
        + F.lit(1)
    )
    prefix = per_doc.select(
        F.col(id_col), F.explode(F.slice("sh_arr", F.lit(1), p)).alias("sh")
    )
    if probe_pred is None:
        a = prefix.select(F.col(id_col).alias("id_a"), "sh")
        b = _no_static_broadcast(prefix.select(F.col(id_col).alias("id_b"), "sh"))
        cand = (
            a.join(b, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        probe = prefix.filter(probe_pred(F.col(id_col))).select(
            F.col(id_col).alias("id_p"), "sh"
        )
        index = _no_static_broadcast(
            prefix.select(F.col(id_col).alias("id_i"), "sh")
        )
        cand = (
            probe.join(index, "sh")
            .filter(F.col("id_p") != F.col("id_i"))
            .select(
                F.least("id_p", "id_i").alias("id_a"),
                F.greatest("id_p", "id_i").alias("id_b"),
            )
            .distinct()
        )
    fa = _no_static_broadcast(
        per_doc.select(
            F.col(id_col).alias("id_a"),
            F.col("sh_arr").alias("arr_a"),
            F.col("sz").alias("size_a"),
        )
    )
    fb = _no_static_broadcast(
        per_doc.select(
            F.col(id_col).alias("id_b"),
            F.col("sh_arr").alias("arr_b"),
            F.col("sz").alias("size_b"),
        )
    )
    shared = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("shared", shared.cast("long"))
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("shared")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= F.lit(t_num) / F.lit(t_den))
        .select(
            "id_a",
            "id_b",
            "shared",
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            "jaccard",
        )
    )
