"""Column profiling — the reference's ad-hoc stat logging
(clean_contacts.py:105-109,132,141-147: notna().sum(), value_counts,
Y/N counts) generalized into one operator.

ONE aggregation job regardless of how many columns are profiled: every
column's stats are computed as sibling aggregate expressions in a single
``agg`` over one scan, then unpivoted row-wise with an inline explode
(pure projection — no extra shuffle, no union of per-column jobs).
N profiled columns used to mean N scheduler round-trips and N scans;
now it is one partial+final aggregate pair over one column-pruned scan.

``approx=True`` swaps exact COUNT(DISTINCT) for the HLL++ sketch
(`approx_count_distinct`) — at 100 TB the exact distinct is a full
shuffle per column, the sketch is map-side mergeable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.functions.text import ngram_hashes


def profile_columns(
    df: DataFrame, cols: list[str], approx: bool = True
) -> DataFrame:
    """(col, n_rows, n_nonnull, n_distinct, min_v, max_v) per column,
    one row per profiled column, computed in a single aggregation job."""
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        nd = (
            F.approx_count_distinct(c)
            if approx
            else F.countDistinct(c).cast("long")
        )
        aggs.append(
            F.struct(
                F.count(c).alias("n_nonnull"),
                nd.alias("n_distinct"),
                F.min(F.col(c).cast("double")).alias("min_v"),
                F.max(F.col(c).cast("double")).alias("max_v"),
            ).alias(f"__p_{c}")
        )
    one_row = df.agg(*aggs)
    unpivoted = one_row.select(
        "__n_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"), F.col(f"__p_{c}").alias("s")
                    )
                    for c in cols
                ]
            )
        ).alias("e"),
    )
    return unpivoted.select(
        F.col("e.col").alias("col"),
        F.col("__n_rows").alias("n_rows"),
        F.col("e.s.n_nonnull").alias("n_nonnull"),
        F.col("e.s.n_distinct").alias("n_distinct"),
        F.col("e.s.min_v").alias("min_v"),
        F.col("e.s.max_v").alias("max_v"),
    )


def gopher_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_n: int = 2,
    dup_n: int = 6,
    top_frac_max: float = 0.20,
    dup_frac_max: float = 0.14,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, appendix A1.1
    — the quality rules RefinedWeb/Dolma/FineWeb reuse): flag documents
    dominated by internal repetition that exact/near dedup cannot see
    because nothing repeats ACROSS documents.

    Two metrics per document, token-fraction adaptation (the paper
    states character fractions over multi-line web pages; the fixture
    corpus is single-line, token-spaced text, so the token fraction is
    the faithful restatement — thresholds kept at the paper's values):

    - ``top_frac``: tokens claimed by the single most frequent
      ``top_n``-gram (count x n / total tokens) — catches "buy now buy
      now buy now" pages; paper threshold 0.20 for 2-grams;
    - ``dup_frac``: fraction of token POSITIONS covered by at least one
      ``dup_n``-gram that occurs 2+ times within the document —
      coverage, not a count, so overlapping repeats are not
      double-counted (same position-coverage recipe as
      ``dedup.substring_trim``); paper threshold 0.14 for 6-grams.

    Output: ``(id, n_tokens, top_frac, dup_frac, keep)`` for every
    input document WITH NON-NULL TEXT; docs too short to form a gram
    score 0.0 and keep. NULL-text rows are excluded entirely (r13
    advice: the quality family scopes itself to text-bearing documents,
    matching the certified oracle's `WHERE text IS NOT NULL` spine).

    Scale design: the only shuffles are per-doc-keyed aggregations and
    ONE (doc, gram)-keyed exchange for the duplicated-gram coverage (a
    whole-partition window count — r14: the earlier groupBy + self-join
    form executed the 6-gram explode twice and shuffled it twice; the
    window does it once, and every group is bounded by a single
    document's gram multiplicity). Gram keys are 64-bit
    ``xxhash64``-of-token-hashes (``functions.text.ngram_hashes`` —
    token characters hashed once per doc, 8-byte keys
    instead of 32-char md5 hex strings; a within-doc collision risk of
    ~|doc-grams|²/2^64 is the same trade every similarity join key
    accepts). All Catalyst expressions; token strings never leave
    their document's row.
    """
    toks = F.split(F.trim(F.col(text_col)), " ")
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__doc"),
            F.transform(toks, lambda x: F.xxhash64(x)).alias("__th"),
        )
        .select("__doc", "__th", F.size("__th").alias("__n"))
    )

    def grams(n: int) -> DataFrame:
        arr = ngram_hashes(F.col("__th"), n)
        return (
            base.filter(F.col("__n") >= n)
            .select("__doc", "__n", F.posexplode(arr).alias("__p0", "__g"))
            .select("__doc", "__n", (F.col("__p0") + 1).alias("__i"), "__g")
        )

    top = (
        grams(top_n)
        .groupBy("__doc", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__doc")
        .agg(F.max("__c").alias("__mx"))
        .select(
            "__doc",
            (F.col("__mx") * top_n).cast("double").alias("__top_toks"),
        )
    )

    # duplicated-gram occurrences in ONE pass: a whole-partition window
    # count over (doc, gram) tags every occurrence with its gram's
    # within-doc multiplicity — replacing the groupBy + join-back form,
    # which executed the 6-gram explode twice and shuffled it twice
    # (r14; group size is bounded by one document's repetition of one
    # gram, so no degenerate window partition exists)
    occ_w = Window.partitionBy("__doc", "__g")
    covered = (
        grams(dup_n)
        .withColumn("__c", F.count(F.lit(1)).over(occ_w))
        .filter(F.col("__c") >= 2)
        .select(
            "__doc",
            F.explode(
                F.sequence(F.col("__i"), F.col("__i") + (dup_n - 1))
            ).alias("__p"),
        )
        .distinct()
        .groupBy("__doc")
        .agg(F.count(F.lit(1)).alias("__cov"))
    )

    spine = base.select("__doc", F.col("__n").cast("long").alias("n_tokens"))
    out = (
        spine.join(top, "__doc", "left")
        .join(covered, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(F.col("__top_toks"), F.lit(0.0))
                / F.col("n_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_frac"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(F.col("__cov"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
        .withColumn(
            "keep",
            (F.col("top_frac") <= top_frac_max)
            & (F.col("dup_frac") <= dup_frac_max),
        )
    )
    return out


#: Gopher's stop-word presence list (Rae et al. 2021, A1.1): a doc must
#: contain at least 2 of these to look like running English prose.
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.10,
    max_bullet_frac: float = 0.90,
    max_ellipsis_frac: float = 0.30,
    min_alpha_frac: float = 0.80,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The rest of Gopher's A1.1 quality rule set (Rae et al. 2021) —
    the structural rules FineWeb/Dolma/RefinedWeb compose with the
    repetition pair from :func:`gopher_repetition`:

    - word count in [``min_words``, ``max_words``];
    - mean word length in [``min_mean_word_len``, ``max_mean_word_len``]
      (gibberish/URL soup skews short or long);
    - symbol-to-word ratio <= ``max_symbol_ratio`` — symbols are '#'
      characters and non-overlapping '...' runs (the paper's hash and
      ellipsis proxies for markup/truncation debris);
    - < ``max_bullet_frac`` of lines starting with a bullet
      ('-', '*', or U+2022) and < ``max_ellipsis_frac`` of lines ending
      with '...' or U+2026 — list-shaped or truncated pages;
    - >= ``min_alpha_frac`` of words containing at least one
      [A-Za-z] character;
    - >= ``min_stop_hits`` DISTINCT stop words from
      :data:`GOPHER_STOP_WORDS` present.

    Output: one row per non-NULL-text document —
    ``(id, n_tokens, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, n_stop_hits, keep)`` with ``keep`` the
    conjunction of all eight rules. NULL-text rows are excluded (the
    quality-family scope rule, same as ``gopher_repetition``).

    Scale design: a PURE PROJECTION — every metric is a Catalyst
    expression over the token/line arrays of the row itself (higher-
    order ``transform``/``filter``/``aggregate``), so the operator has
    ZERO shuffles at any scale: it pipelines inside whole-stage codegen
    on top of the scan, the ideal 100 TB shape. No UDF, no collect.
    Word = whitespace token; line = '\\n'-split segment — both stated
    in the certified oracle so the two engines share the definition.
    """
    t = F.col("__t")
    n = F.size("__t")
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    total_word_chars = F.aggregate(
        F.transform(t, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_hash = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    n_ellipsis_runs = F.regexp_count(F.col(text_col), F.lit(r"\.\.\."))
    n_bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    )
    n_ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    n_alpha_words = F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(t, lambda w: F.lower(w))),
            F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS]),
        )
    )

    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col(text_col),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__t"),
        )
        .select(
            F.col("__id"),
            n.cast("long").alias("n_tokens"),
            F.when(n > 0, total_word_chars.cast("double") / n)
            .otherwise(F.lit(0.0))
            .alias("mean_word_len"),
            F.when(n > 0, (n_hash + n_ellipsis_runs).cast("double") / n)
            .otherwise(F.lit(0.0))
            .alias("symbol_ratio"),
            (n_bullet_lines.cast("double") / n_lines).alias("bullet_frac"),
            (n_ellipsis_lines.cast("double") / n_lines).alias(
                "ellipsis_frac"
            ),
            F.when(n > 0, n_alpha_words.cast("double") / n)
            .otherwise(F.lit(0.0))
            .alias("alpha_frac"),
            n_stop.cast("long").alias("n_stop_hits"),
        )
    )
    return base.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        "mean_word_len",
        "symbol_ratio",
        "bullet_frac",
        "ellipsis_frac",
        "alpha_frac",
        "n_stop_hits",
        (
            F.col("n_tokens").between(min_words, max_words)
            & F.col("mean_word_len").between(
                min_mean_word_len, max_mean_word_len
            )
            & (F.col("symbol_ratio") <= max_symbol_ratio)
            & (F.col("bullet_frac") < max_bullet_frac)
            & (F.col("ellipsis_frac") < max_ellipsis_frac)
            & (F.col("alpha_frac") >= min_alpha_frac)
            & (F.col("n_stop_hits") >= min_stop_hits)
        ).alias("keep"),
    )


def c4_clean(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    bad_words: tuple[str, ...] = (),
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, section 2.2 — the
    filter set behind the public C4 corpus), the rung the quality
    family composes BEFORE the Gopher rules: line-level retention plus
    page-level discards.

    Line rules (a line is a '\\n'-split segment; a word is a
    whitespace token — the same definitions as ``gopher_quality``):

    - keep only lines ending in a terminal punctuation mark
      ('.', '!', '?', or a closing double quote), optionally followed
      by trailing whitespace;
    - keep only lines with at least ``min_words_per_line`` words;
    - drop any line containing the word "javascript"
      (case-insensitive substring — boilerplate "enable javascript"
      chrome).

    Page rules (evaluated on the RAW text, per the paper):

    - drop pages whose CLEANED text has fewer than ``min_sentences``
      sentences (sentence = non-blank segment between terminal
      punctuation marks, split on ``[.!?]+`` — stated in the certified
      oracle so both engines share the definition);
    - drop pages containing the phrase "lorem ipsum"
      (case-insensitive);
    - drop pages containing a curly bracket ('{' or '}' — code, not
      prose);
    - drop pages containing any of ``bad_words`` (case-insensitive
      whole-token match). The list itself is a deployment policy
      artifact, so the default is EMPTY — pass your own; an empty
      tuple compiles to no predicate at all.

    Output: one row per non-NULL-text document (the quality-family
    scope rule) — ``(id, n_lines, lines_kept, n_sentences, has_lorem,
    has_brace, keep, text_clean)`` with ``text_clean`` the kept lines
    re-joined with '\\n' and ``keep`` the conjunction of every page
    rule.

    Scale design: a PURE PROJECTION, same as ``gopher_quality`` —
    every rule is a Catalyst higher-order expression over the row's
    own line/token arrays, ZERO shuffles at any scale, pipelined
    inside whole-stage codegen on top of the scan. No UDF, no collect.
    """
    raw = F.col(text_col)
    lines = F.split(raw, "\n")
    kept_lines = F.filter(
        lines,
        lambda l: l.rlike(r'[.!?"]\s*$')
        & (F.size(F.split(F.trim(l), r"\s+")) >= min_words_per_line)
        & ~F.contains(F.lower(l), F.lit("javascript")),
    )
    text_clean = F.array_join(kept_lines, "\n")
    n_sentences = F.size(
        F.filter(
            F.transform(
                F.split(text_clean, r"[.!?]+"), lambda s: F.trim(s)
            ),
            lambda s: F.length(s) > 0,
        )
    )
    has_lorem = F.contains(F.lower(raw), F.lit("lorem ipsum"))
    has_brace = F.contains(raw, F.lit("{")) | F.contains(raw, F.lit("}"))
    keep = (n_sentences >= min_sentences) & ~has_lorem & ~has_brace
    if bad_words:
        toks_lower = F.array_distinct(
            F.transform(
                F.split(F.trim(raw), r"\s+"), lambda w: F.lower(w)
            )
        )
        keep = keep & (
            F.size(
                F.array_intersect(
                    toks_lower,
                    F.array(*[F.lit(w.lower()) for w in bad_words]),
                )
            )
            == 0
        )
    return df.filter(raw.isNotNull()).select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept_lines).cast("long").alias("lines_kept"),
        n_sentences.cast("long").alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep.alias("keep"),
        text_clean.alias("text_clean"),
    )


def gopher_dup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str = "\n",
    max_dup_frac: float = 0.30,
    max_char_frac: float = 0.20,
) -> DataFrame:
    """The duplicate-line rungs of Gopher's repetition rule set (Rae et
    al. 2021, appendix A1.1, table A1 rows 1-2 — the two rows
    ``gopher_repetition`` does NOT cover): the fraction of a document's
    lines that are duplicates of an earlier line, and the fraction of
    its characters inside those duplicate occurrences. Pass
    ``delimiter="\\n\\n"`` for the paragraph twins (table rows 3-4 —
    same arithmetic, same paper thresholds).

    A line is a ``delimiter``-split segment (``delimiter`` is a Java
    regex), space-trimmed; EMPTY lines are excluded from both
    numerator and denominator (blank separators are structure, not
    content). With occurrence counts c_1..c_k over the k distinct
    lines:

    - ``dup_line_frac``  = (n - k) / n          (non-first occurrences)
    - ``dup_char_frac``  = (sum c_i*len_i - sum len_i) / sum c_i*len_i

    Documents with zero non-empty lines report 0.0 / 0.0 and keep=true
    (nothing repeats); NULL-text rows are excluded entirely (the
    quality-family scope rule).

    Output: ``(id, n_lines, n_distinct_lines, dup_line_frac,
    dup_char_frac, keep)`` with ``keep`` = both fractions within the
    paper's thresholds.

    Scale design: a PURE PROJECTION like ``gopher_quality`` — both
    fractions are ``array_distinct`` + higher-order ``aggregate``
    arithmetic over the row's own line array, ZERO shuffles at any
    scale, pipelined inside whole-stage codegen on top of the scan.
    No UDF, no collect.
    """
    lines = F.filter(
        F.transform(
            F.split(F.col(text_col), delimiter), lambda l: F.trim(l)
        ),
        lambda l: F.length(l) > 0,
    )
    distinct = F.array_distinct(F.col("__lines"))

    def _chars(arr):
        return F.aggregate(
            F.transform(arr, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    n = F.size("__lines")
    k = F.size(distinct)
    tc = _chars(F.col("__lines"))
    dc = _chars(distinct)
    dup_line_frac = F.when(n > 0, (n - k).cast("double") / n).otherwise(
        F.lit(0.0)
    )
    dup_char_frac = F.when(tc > 0, (tc - dc).cast("double") / tc).otherwise(
        F.lit(0.0)
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), lines.alias("__lines"))
        .select(
            F.col(id_col),
            n.cast("long").alias("n_lines"),
            k.cast("long").alias("n_distinct_lines"),
            dup_line_frac.alias("dup_line_frac"),
            dup_char_frac.alias("dup_char_frac"),
            (
                (dup_line_frac <= max_dup_frac)
                & (dup_char_frac <= max_char_frac)
            ).alias("keep"),
        )
    )
