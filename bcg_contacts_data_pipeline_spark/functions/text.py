"""Text-analysis expression library for the documents pipeline
(LLM-training-data extensions; SURVEY §7.1 module 7).

All pure Catalyst expressions over ``array<string>`` tokens — no Python
in the hot path, so these run inside whole-stage codegen and scale to a
100 TB documents table as a single narrow projection (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny English stopword list used by the language-ID heuristic and the
#: quality score. Keep in sync with the oracle SQL (plans/queries.py).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

#: Punctuation class counted by the quality score.
PUNCT_CLASS = "[.,!?;:]"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array (plain
    ``split`` would yield ``[""]``)."""
    c = _col(c)
    return F.when(
        F.length(F.trim(c)) > 0, F.split(F.trim(c), r"\s+")
    ).otherwise(F.array().cast("array<string>"))


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c)).cast("long")


def char_count(c: Column | str) -> Column:
    return F.length(_col(c)).cast("long")


def punct_count(c: Column | str) -> Column:
    c = _col(c)
    return (F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))).cast("long")


def stopword_count(c: Column | str) -> Column:
    toks = tokens(c)
    stops = F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
    return F.size(stops).cast("long")


def lang_guess(c: Column | str, min_stopwords: int = 2) -> Column:
    """n-gram-free language-ID heuristic: enough English stopwords -> 'en',
    else 'und'. (A real model would be a broadcast-dict scorer; the
    heuristic keeps the operator expression-only.)"""
    return F.when(stopword_count(c) >= min_stopwords, F.lit("en")).otherwise(
        F.lit("und")
    )


def quality_score(c: Column | str) -> Column:
    """Composite 0..1 quality score from exact integer counts (so the
    value is bit-identical across engines):

    0.4 * clamp(tokens/100) + 0.3 * stopword_ratio*3 (capped 1)
    + 0.3 * (1 - punct_ratio*10 (capped 1))

    The token array is let-bound (:func:`bind`) so the whitespace split
    runs once per row, not once per count that consumes it.
    """
    c = _col(c)

    def body(tk: Column) -> Column:
        nt = F.size(tk).cast("double")
        st = F.size(
            F.filter(tk, lambda t: F.lower(t).isin(*STOPWORDS))
        ).cast("double")
        nc = char_count(c).cast("double")
        pc = punct_count(c).cast("double")
        len_component = F.least(nt / F.lit(100.0), F.lit(1.0))
        stop_component = F.least(st / nt * F.lit(3.0), F.lit(1.0))
        punct_component = F.lit(1.0) - F.least(pc / nc * F.lit(10.0), F.lit(1.0))
        score = (
            F.lit(0.4) * len_component
            + F.lit(0.3) * stop_component
            + F.lit(0.3) * punct_component
        )
        return F.when(nt > 0, score).otherwise(F.lit(0.0))

    return bind(tokens(c), body)


def fingerprint(c: Column | str) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct
    lowercase token set (the classic key-collision clustering key). Two
    documents with the same word set -> same fingerprint regardless of
    order/duplication."""
    toks = F.transform(tokens(c), F.lower)
    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


def word_ngrams(toks: Column, n: int) -> Column:
    """n-gram shingles over a token array, as space-joined strings.
    Expression-only: transform over an index sequence + element_at
    (1-based). Arrays shorter than n -> empty array.

    The input is let-bound via :func:`bind` (defined below): the body
    references the array 2 + n·|grams| times, and if ``toks`` arrives as
    an inline expression (e.g. a split() of the text) each reference
    would re-evaluate it — quadratic per document."""

    def body(tk: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - F.lit(n - 1), F.lit(0)))
        return F.when(
            F.size(tk) >= n,
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tk, i + F.lit(j)) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind(toks, body)


def ngram_hashes(th: Column, n: int) -> Column:
    """Positional n-gram hashes over a per-token hash array: element i is
    ``xxhash64(h_i, ..., h_{i+n-1})``, in window order. Arrays shorter
    than n -> empty array (the guard matters: ``sequence(1, 0)`` counts
    DOWN to ``[1, 0]``, it is not empty).

    The n-gram hash every gram consumer shares (similarity shingles and
    signatures, dedup span postings, profile repetition grams): each
    token's characters are hashed once per document, not n times via
    string concatenation, and no per-gram string is allocated. Tokens
    cannot contain whitespace, so hashing the token window is injective
    on windows up to 2^-64 collisions. ``th`` should be a bound
    attribute: it is referenced n + 2 times."""
    idx = F.sequence(F.lit(1), F.size(th) - F.lit(n - 1))
    return F.when(
        F.size(th) >= n,
        F.transform(
            idx,
            lambda i: F.xxhash64(*[F.element_at(th, i + F.lit(j)) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


#: Dialect-portable "BPE-ish" token pattern: letter runs, digit runs,
#: single non-alnum marks. Deliberately identical semantics under Java
#: regex (Spark) and RE2-ish (DuckDB) so oracles can replicate counts.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]"


def bpe_ish_tokens(c: Column | str) -> Column:
    """Sub-word-style tokenization (the 'BPE-ish regex' counting mode):
    splits letter runs from digit runs from punctuation marks, e.g.
    'GPT-4 rocks!' -> [GPT, -, 4, rocks, !]. A real BPE vocab merge is a
    model artifact; the regex pre-tokenizer is the part that belongs in
    the engine (and is what token-count heuristics actually use)."""
    return F.regexp_extract_all(_col(c), F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(c: Column | str) -> Column:
    return F.size(bpe_ish_tokens(c)).cast("long")


#: PII detector patterns. Backslash-free and alternation-simple on
#: purpose: identical semantics under Java regex (Spark) and DuckDB's
#: RE2, so oracle SQL can replicate the counts exactly.
PII_PATTERNS = {
    # local@domain.tld — conservative, no nested quantifier ambiguity
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+",
    # 555-123-4567 / 555.123.4567 / 555 123 4567
    "phone": "[0-9][0-9][0-9][-. ][0-9][0-9][0-9][-. ][0-9][0-9][0-9][0-9]",
    # dotted quad (over-matches >255 octets on purpose: scrubbing wants
    # recall; precision filtering is a downstream policy decision)
    "ipv4": "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+",
}


def pii_counts(c: Column | str) -> Column:
    """Per-document PII hit counts as a struct(email, phone, ipv4) of
    longs — the scrubbing pre-pass every training-data pipeline runs
    before release. Pure ``regexp_count`` projections: no shuffle, no
    Python, safe at 100 TB. Counting (not extraction) keeps the output
    narrow; pair with ``regexp_replace`` redaction downstream when a hit
    count is > 0 (cheaper than redacting every row unconditionally)."""
    col = _col(c)
    return F.struct(
        *[
            F.regexp_count(col, F.lit(p)).cast("long").alias(name)
            for name, p in PII_PATTERNS.items()
        ]
    )


def redact_pii(c: Column | str, replacement: str = "[PII]") -> Column:
    """Replace every PII_PATTERNS hit with ``replacement``. Applied in
    pattern-name order; patterns are non-overlapping classes in practice
    (an email hit consumes its text before phone/ipv4 see it)."""
    col = _col(c)
    for p in PII_PATTERNS.values():
        col = F.regexp_replace(col, p, replacement)
    return col


def bind(value: Column, fn) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE and
    pass it to ``fn`` as a lambda variable. Catalyst inlines plain Column
    reuse — an expression referenced k times inside a higher-order lambda
    is re-EVALUATED k times, which turns array pipelines quadratic (an
    ``element_at(split(...), i)`` per n-gram re-splits the whole document;
    measured 40 s vs 0.6 s at sf0.1 on repetition_ratio). Wrapping the
    value in a 1-element array and transforming binds it to a lambda
    variable, which IS evaluated once."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def repetition_ratio(c: Column | str, n: int = 3) -> Column:
    """Boilerplate signal: fraction of n-gram occurrences that are
    repeats of an earlier n-gram in the SAME document —
    ``1 - distinct_ngrams / total_ngrams``. 0.0 = no internal repetition,
    -> 1.0 as the document degenerates into a repeated phrase. The
    standard cheap quality filter for scraped corpora (repetitive docs
    are navigation chrome / spam / template dumps). Expression-only:
    one projection, no shuffle. Documents with < n tokens score 0.0.

    Token and n-gram arrays are let-bound (see :func:`bind`) so each is
    computed once per document, not once per reference."""
    toks = F.transform(tokens(c), F.lower)
    return bind(
        toks,
        lambda tk: bind(
            word_ngrams(tk, n),
            lambda g: F.when(
                F.size(g) > 0,
                F.lit(1.0)
                - F.size(F.array_distinct(g)).cast("double")
                / F.size(g).cast("double"),
            ).otherwise(F.lit(0.0)),
        ),
    )


#: 31-bit modulus keeps every step of the polynomial hash inside int64
#: under ANSI mode: acc < 2^31, acc*31 + codepoint < 2^36.
ROLLING_MOD = (1 << 31) - 1


def rolling_hash(c: Column | str) -> Column:
    """Polynomial (Rabin-Karp style) rolling hash over the document's
    characters: h = fold(chars, 0, (acc, ch) -> (acc*31 + code(ch)) % M).
    Order-sensitive — unlike the sorted-token-set md5 ``fingerprint``,
    two documents with the same words in different order hash differently.
    Pure expression (split -> aggregate fold), no Python."""
    chars = F.split(_col(c), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(
            acc * F.lit(31) + F.ascii(ch), F.lit(ROLLING_MOD)
        ),
    )
