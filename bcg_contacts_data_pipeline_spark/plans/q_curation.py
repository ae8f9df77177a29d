"""Curation family: training-data quality gates, sampling and ladders.

Token/quality statistics, Gopher and C4 rules, PII scanning, filter
cascades, exact substring (span) dedup, paragraph and URL dedup,
domain quotas, stratified/temperature/quality-weighted sampling,
splits, chunking, packing and shuffling, multimodal media metadata and
quarantine, and the end-to-end curation ladders (v1, v2, incremental
and crawl) that compose them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.functions.text import (
    PII_PATTERNS as _PII_PATTERNS,
)
from bcg_contacts_data_pipeline_spark.operators.dedup import (
    substring_spans,
    substring_trim,
)
from bcg_contacts_data_pipeline_spark.operators.pins import pin
from bcg_contacts_data_pipeline_spark.operators.profile import (
    gopher_quality,
    gopher_repetition,
)
from bcg_contacts_data_pipeline_spark.plans.registry import (
    _JACCARD_BASE_CTES,
    _TOKS_SQL,
    _t,
    capped_edges_sql,
    neardup_pairs,
    reach_sql,
    register,
)


_STOPLIST_SQL = "['the','a','of','and','to','in','is','on','for','with']"


@register(
    "token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(CASE WHEN length(trim(text)) > 0 THEN len({_TOKS_SQL}) ELSE 0 END AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(CASE WHEN length(trim(text)) > 0
                THEN len(list_filter({_TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, lower(t))))
                ELSE 0 END AS BIGINT) AS n_stopwords
    FROM documents
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char/punct/stopword counting — narrow projection, no shuffle."""
    from bcg_contacts_data_pipeline_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.char_count("text").alias("n_chars"),
        T.punct_count("text").alias("n_punct"),
        T.stopword_count("text").alias("n_stopwords"),
    )


@register(
    "lang_quality",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) > 0 THEN len({_TOKS_SQL}) ELSE 0 END AS DOUBLE) AS nt,
             CAST(length(text) AS DOUBLE) AS nc,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS pc,
             CAST(CASE WHEN length(trim(text)) > 0
                  THEN len(list_filter({_TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, lower(t))))
                  ELSE 0 END AS DOUBLE) AS st
      FROM documents)
    SELECT doc_id,
           CASE WHEN st >= 2 THEN 'en' ELSE 'und' END AS lang_guess,
           CASE WHEN nt > 0 THEN
             0.4 * least(nt / 100.0, 1.0)
             + 0.3 * least(st / nt * 3.0, 1.0)
             + 0.3 * (1.0 - least(pc / nc * 10.0, 1.0))
           ELSE 0.0 END AS quality
    FROM counts
    """,
)
def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic + composite quality score (exact integer
    components -> bit-identical doubles)."""
    from bcg_contacts_data_pipeline_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.lang_guess("text").alias("lang_guess"),
        T.quality_score("text").alias("quality"),
    )


# ---------------------------------------------------------------------------
# Multimodal binary columns (beyond-reference). ALL metadata decodes are
# REAL parses over genuine synthesized bytes: image headers (PNG IHDR +
# CRC / JPEG SOF / WebP VP8L), WAV RIFF chunk walk, ISO-BMFF (MP4)
# sample-table demux — stdlib struct+zlib, see operators/multimodal.py.
# Each fixture derives its parameters from length(text) with
# SQL-expressible arithmetic, so the oracles certify the full
# encode->parse round trips.
# ---------------------------------------------------------------------------


@register(
    "media_image_meta",
    oracle="""
    SELECT doc_id,
           CAST(16 + length(text) % 64 AS INT) AS width,
           CAST(16 + (length(text) * 7) % 64 AS INT) AS height,
           CASE length(text) % 3
                WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp'
           END AS format
    FROM documents
    """,
)
def q_media_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary image column -> typed metadata by REAL header parsing:
    the fixture synthesizes genuine PNG / JFIF-JPEG / RIFF-VP8L bytes
    with dimensions derived from ``length(text)``, and the decode stage
    reads them back from the actual IHDR / SOF0 / VP8L headers
    (operators/multimodal.py:parse_image_meta — stdlib struct+zlib, no
    imaging library). The oracle recomputes the dimensions from the
    text length, so a hash match proves the encode->parse round trip.
    n_bytes is dropped from the query surface: PNG's IDAT length is a
    zlib artifact no SQL oracle should re-derive (covered by unit
    tests instead)."""
    from bcg_contacts_data_pipeline_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    payload = M.synthesize_image_payload(docs, "doc_id", "text")
    return M.decode_image_meta(payload, "doc_id").select(
        "doc_id", "width", "height", "format"
    )


@register(
    "media_frame_sample",
    oracle="""
    WITH v AS (
      SELECT doc_id, CAST(4 + length(text) % 13 AS INT) AS n_frames
      FROM documents)
    SELECT doc_id, CAST(unnest(range(0, n_frames, 3)) AS INT) AS frame_idx,
           n_frames
    FROM v
    """,
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: one row per kept frame (stride 3); fan-out
    mapInPandas. REAL since r7: the fixture packs per-doc frames into a
    genuine ISO-BMFF container (ftyp/mdat/moov with a full stsd/stts/
    stsc/stsz/stco sample table) and sample_frames demuxes them back by
    walking the boxes and slicing mdat via stco + cumulative stsz
    (operators/multimodal.py:parse_video_frames). The oracle recomputes
    the frame count from length(text), so the hash match proves the
    mux->demux round trip; frame BYTES are dropped from the query
    surface (blob content is pinned by unit tests, not SQL)."""
    from bcg_contacts_data_pipeline_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    out = M.sample_frames(
        M.synthesize_video_payload(docs, "doc_id", "text"), "doc_id", stride=3
    )
    return out.select("doc_id", "frame_idx", "n_frames")


@register(
    "media_audio_stats",
    oracle="""
    WITH a AS (
      SELECT doc_id,
             CASE length(text) % 3
                  WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100
             END AS sample_rate,
             100 + (length(text) * 37) % 2000 AS n_samples
      FROM documents)
    SELECT CAST(sample_rate AS INT) AS sample_rate,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_samples AS BIGINT)) AS BIGINT) AS total_samples,
           CAST(SUM(CAST(CAST(n_samples AS DOUBLE) / sample_rate
                         AS DECIMAL(18,12))) AS DOUBLE) AS total_duration_s
    FROM a GROUP BY 1
    """,
)
def q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode then a rollup per sample rate — the typical
    media-pipeline shape: Python decode first, cheap JVM agg after,
    payload pruned before the shuffle. Decode is REAL since r7: the
    fixture emits complete PCM WAVs (rate and sample count derived from
    length(text)) and audio_features reads them back from the actual
    RIFF fmt/data chunks (operators/multimodal.py:parse_audio_meta), so
    the hash match proves the WAV encode->parse round trip. Durations
    sum through DECIMAL(18,12) on both engines (each duration is one
    IEEE division; the staging makes the SUM order-independent)."""
    from bcg_contacts_data_pipeline_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    audio = M.audio_features(
        M.synthesize_audio_payload(docs, "doc_id", "text"), "doc_id"
    )
    return audio.groupBy("sample_rate").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_samples").cast("long").alias("total_samples"),
        F.sum(F.col("duration_s").cast("decimal(18,12)"))
        .cast("double")
        .alias("total_duration_s"),
    )


@register(
    "pack_shards",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) > 0
                  THEN len({_TOKS_SQL}) ELSE 0 END AS BIGINT) AS n_tokens
      FROM documents)
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // 2000 AS BIGINT) AS shard_id
    FROM sized
    """,
)
def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment: contiguous packing of documents into
    ~2000-token shards in doc_id order — shard_id = floor(exclusive
    running token sum / budget). Pure integer arithmetic, engine-exact.
    The Spark side computes the global running sum WITHOUT a
    single-partition window (two-pass partition-offset,
    operators/pack.py) — the oracle's bare `ORDER BY` window is the
    1-task shape this operator exists to avoid."""
    from bcg_contacts_data_pipeline_spark.functions.text import token_count
    from bcg_contacts_data_pipeline_spark.operators.pack import pack_shards

    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_shards(sized, "doc_id", "n_tokens", budget=2000)


# ONE source for the PII regexes: the oracle interpolates the same dict
# the Spark-side pii_counts/redact_pii use, so tuning a pattern in
# functions/text.py cannot desync the two engines.

_PII_EMAIL = _PII_PATTERNS["email"]
_PII_PHONE = _PII_PATTERNS["phone"]
_PII_IPV4 = _PII_PATTERNS["ipv4"]


@register(
    "pii_scan",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id,
             CASE CAST(doc_id % 7 AS INTEGER)
               WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@corp.example now'
               WHEN 1 THEN text || ' call 555-867-530' || CAST(doc_id % 10 AS VARCHAR)
               WHEN 2 THEN text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17'
               ELSE text END AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '[PII]', 'g'),
               '{_PII_PHONE}', '[PII]', 'g'),
               '{_PII_IPV4}', '[PII]', 'g')) AS redacted_fp
    FROM synth
    """,
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact over documents (the scrubbing pre-pass of a
    training-data release). PII is synthesized deterministically into a
    third of the docs so the detectors are exercised on every run; counts
    AND an md5 of the redacted text are oracle-checked, pinning both the
    detector and the redaction rewrite. Pure regexp projections — no
    shuffle, no Python (functions/text.py pii_counts / redact_pii)."""
    from bcg_contacts_data_pipeline_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        F.when(d % 7 == 0, F.concat(
            F.col("text"), F.lit(" contact user"), d.cast("string"),
            F.lit("@corp.example now"),
        ))
        .when(d % 7 == 1, F.concat(
            F.col("text"), F.lit(" call 555-867-530"), (d % 10).cast("string"),
        ))
        .when(d % 7 == 2, F.concat(
            F.col("text"), F.lit(" from 10.0."), (d % 256).cast("string"),
            F.lit(".17"),
        ))
        .otherwise(F.col("text"))
        .alias("t"),
    )
    counts = T.pii_counts(F.col("t"))
    return synth.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
        F.md5(T.redact_pii(F.col("t"))).alias("redacted_fp"),
    )


@register(
    "repetition_filter",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) > 0 THEN
               [lower(t[i]) || ' ' || lower(t[i+1]) || ' ' || lower(t[i+2])
                for i in range(1, greatest(len(t)-1, 1))]
             ELSE [] END AS g
      FROM (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents))
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS total_ngrams,
           CAST(len(list_distinct(g)) AS BIGINT) AS distinct_ngrams,
           CASE WHEN len(g) > 0
                THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
                ELSE 0.0 END AS rep_ratio
    FROM grams
    """,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (boilerplate) scoring: fraction of
    3-gram occurrences that repeat an earlier 3-gram in the same doc —
    the standard cheap filter for template/spam/navigation-chrome pages
    in scraped corpora. Counts and the IEEE ratio are oracle-exact.
    Expression-only narrow projection; no shuffle."""
    from bcg_contacts_data_pipeline_spark.functions.text import (
        tokens,
        word_ngrams,
    )

    docs = _t(spark, sf_dir, "documents")
    # Token and gram arrays materialized as ATTRIBUTES between selects:
    # referencing them as inline expressions re-evaluates the whole
    # split/ngram pipeline per use (see functions.text.bind docstring).
    toked = docs.select(
        "doc_id", F.transform(tokens(F.col("text")), F.lower).alias("__toks")
    )
    grammed = toked.select(
        "doc_id", word_ngrams(F.col("__toks"), 3).alias("__g")
    )
    total = F.size("__g").cast("long")
    distinct = F.size(F.array_distinct("__g")).cast("long")
    return grammed.select(
        "doc_id",
        total.alias("total_ngrams"),
        distinct.alias("distinct_ngrams"),
        F.when(
            total > 0,
            F.lit(1.0) - distinct.cast("double") / total.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, lower(unnest(t)) AS term
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents
            WHERE length(trim(text)) > 0)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, tfidf, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored) WHERE rank <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF: top-3 terms per document, idf = ln(N/df). The
    inverted-index build (explode -> tf -> df) is the same shape as the
    shingle index; N joins as a broadcast scalar (no driver collect).
    Scores rounded to 6 decimals BEFORE ranking so a <=1-ulp ln()
    difference between engines can't flip the order (operators/tfidf.py
    docstring)."""
    from bcg_contacts_data_pipeline_spark.operators.tfidf import (
        tfidf_top_terms,
    )

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3)


@register(
    "hash_split",
    oracle="""
    WITH assigned AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(md5('corpus-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) AS bucket
      FROM documents)
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """,
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by salted md5
    bucket — stable across runs, engines, and corpus growth (a doc's
    split never changes when other docs are added). Pure projection; the
    md5 basis makes the exact same assignment computable in any engine
    (functions/sampling.py docstring)."""
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        assign_split,
        hash_bucket,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        hash_bucket("doc_id", 100, "corpus-v1").alias("bucket"),
        assign_split("doc_id", seed="corpus-v1").alias("split"),
    )


@register(
    "lang_quantiles",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 4) AS p25,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 4) AS p75
    FROM documents GROUP BY 1
    """,
)
def q_lang_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quartiles — exact linear-interpolated
    percentile per group, the grouped analogue of `numeric_profile`.
    Same scale contract as that pair: the exact form is the oracle
    baseline (its per-group buffer is the documented cost), and the
    sketch path for 100 TB is the registered, oracle-checked twin
    `lang_quantiles_approx` below — same band-check contract as
    `numeric_profile_approx`, applied per group."""
    docs = _t(spark, sf_dir, "documents")
    pct = F.percentile(
        F.col("n_chars").cast("double"),
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
    )
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), pct.alias("__p"))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("__p")[0], 4).alias("p25"),
            F.round(F.col("__p")[1], 4).alias("p50"),
            F.round(F.col("__p")[2], 4).alias("p75"),
        )
    )


@register(
    "lang_quantiles_approx",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           true AS p25_in_band, true AS p50_in_band, true AS p75_in_band
    FROM documents GROUP BY 1
    """,
)
def q_lang_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of lang_quantiles: GROUPED `approx_percentile`
    (Greenwald-Khanna sketch — bounded memory per group, map-side
    mergeable) instead of exact `percentile`, whose per-group buffer
    holds every value of the group (docs-per-language: effectively
    unbounded at corpus scale).

    The verification harness is RANK-based rather than the value-band
    numeric_profile_approx uses: an interpolated band at q +/- slack is
    narrower than one element's spacing once groups are small, while
    the sketch always returns an actual element — so instead we join
    the per-group sketch values back (broadcast — one row per
    language) and count each group's values strictly below / at-or-
    below the sketch value. The sketch output occupies ranks
    (cnt_lt, cnt_le]; it is in-band iff that interval intersects
    q*n +/- (10*n/accuracy + 1) — the sketch's guaranteed rank error
    at 10x slack, plus one rank for discreteness. The oracle pins the
    per-group counts exact and the booleans TRUE, so a sketch outside
    its rank guarantee fails the value-hash compare. Every stage is
    mergeable aggregates + one broadcast join — unlike the exact-band
    harness, even the verification path has no unbounded buffer.
    Production callers keep the sketch columns and drop the check;
    lang_quantiles remains the exact baseline."""
    qs = [0.25, 0.5, 0.75]
    acc = 10_000
    docs = _t(spark, sf_dir, "documents")
    c = F.col("n_chars").cast("double")
    sk = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile_approx(
            c, F.array(*[F.lit(q) for q in qs]), F.lit(acc)
        ).alias("__ap"),
    )
    # null-safe join back: a USING join would drop a NULL-lang group,
    # diverging from both the oracle's GROUP BY (which keeps it) and
    # the exact twin — latent until the testdata ships NULL langs, but
    # a harness artifact is the wrong reason for a red row
    joined = (
        docs.select(F.col("lang").alias("__l"), c.alias("__v"))
        .join(F.broadcast(sk), F.col("__l").eqNullSafe(F.col("lang")))
        .drop("__l")
    )
    ranks = joined.groupBy("lang").agg(
        F.first("n_docs").alias("n_docs"),
        F.first("__ap").alias("__ap"),
        *[
            agg
            for i in range(len(qs))
            for agg in (
                F.sum(
                    (F.col("__v") < F.col("__ap")[i]).cast("long")
                ).alias(f"__lt{i}"),
                F.sum(
                    (F.col("__v") <= F.col("__ap")[i]).cast("long")
                ).alias(f"__le{i}"),
            )
        ],
    )
    n = F.col("n_docs").cast("double")
    tol = n * (10.0 / acc) + F.lit(1.0)
    return ranks.select(
        "lang",
        "n_docs",
        *[
            (
                (F.col(f"__lt{i}") + 1 <= F.lit(q) * n + tol)
                & (F.col(f"__le{i}") >= F.lit(q) * n - tol)
            ).alias(f"p{int(q * 100)}_in_band")
            for i, q in enumerate(qs)
        ],
    )


# ---------------------------------------------------------------------------
# Training-corpus curation: chunking, stratified sampling, epoch mixing
# ---------------------------------------------------------------------------


@register(
    "doc_chunks",
    oracle="""
    WITH offs AS (
      SELECT doc_id, text,
             unnest(generate_series(0, greatest(length(text) - 1, 0), 100)) AS off
      FROM documents)
    SELECT doc_id,
           CAST(off // 100 AS BIGINT) AS chunk_id,
           CAST(off + 1 AS BIGINT) AS chunk_start,
           CAST(length(substring(text, CAST(off + 1 AS INT), 120)) AS BIGINT) AS chunk_len,
           md5(substring(text, CAST(off + 1 AS INT), 120)) AS chunk_md5
    FROM offs
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 120-char windows every 100 chars over every document
    (operators/chunking.py) — the shard step between corpus and
    tokenizer. Narrow plan: sequence+posexplode, no shuffle, no UDF;
    the md5 fingerprint makes the chunk content itself hash-checkable
    without shipping text through the compare."""
    from bcg_contacts_data_pipeline_spark.operators.chunking import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", size=120, stride=100)


@register(
    "stratified_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(CAST(('0x' || substring(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000 AS BIGINT)
          < CASE WHEN lang = 'en' THEN 2500 ELSE 6000 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing as a pure filter: downsample the dominant
    language (en → 25 %) and keep the rest at 60 %, decided by salted
    md5 bucket — deterministic, engine-portable, growth-stable (adding
    docs never flips existing decisions). No shuffle, no RNG, no state;
    the filter composes with any downstream plan."""
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        stratified_keep,
    )

    docs = _t(spark, sf_dir, "documents")
    keep = stratified_keep(
        "doc_id", "lang", {"en": 0.25}, default_rate=0.6, seed="mix-v1"
    )
    return docs.filter(keep).select("doc_id", "lang", "source")


@register(
    "corpus_mix",
    oracle="""
    SELECT doc_id, lang,
           CAST(unnest(generate_series(1,
                CASE lang WHEN 'zh' THEN 3 WHEN 'fr' THEN 2
                          WHEN 'de' THEN 2 WHEN 'es' THEN 2
                          ELSE 1 END)) AS BIGINT) AS epoch
    FROM documents
    """,
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training mixture by epoch upsampling: rare languages
    repeat 2-3x per pass, the dominant one once — an exploded sequence
    (narrow, no shuffle, output exactly the mixture size), identical on
    every run and engine, unlike a random sampler."""
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        epoch_repeat,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    mixed = epoch_repeat(
        docs, "lang", {"zh": 3, "fr": 2, "de": 2, "es": 2}, default_epochs=1
    )
    return mixed.select(
        "doc_id", "lang", F.col("epoch").cast("long").alias("epoch")
    )


# ---------------------------------------------------------------------------
# Quality filter cascade: per-stage survival accounting in ONE pass
# ---------------------------------------------------------------------------


def _cascade_oracle() -> str:

    return f"""
    WITH synth AS (
      SELECT doc_id, n_chars,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@corp.example now'
               ELSE text END AS t
      FROM documents),
    flags AS (
      SELECT n_chars >= 150 AS b1,
             len(regexp_split_to_array(trim(t), '\\s+')) >= 30 AS b2,
             CAST(len(list_distinct(regexp_split_to_array(lower(trim(t)), '\\s+'))) AS DOUBLE)
               / len(regexp_split_to_array(trim(t), '\\s+')) >= 0.5 AS b3,
             NOT regexp_matches(t, '{_PII_EMAIL}') AS b4
      FROM synth)
    SELECT 0 AS stage, 'total' AS name, CAST(COUNT(*) AS BIGINT) AS survivors FROM flags
    UNION ALL
    SELECT 1, 'min_length', CAST(SUM(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    UNION ALL
    SELECT 2, 'min_words', CAST(SUM(CASE WHEN b1 AND b2 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    UNION ALL
    SELECT 3, 'distinct_ratio', CAST(SUM(CASE WHEN b1 AND b2 AND b3 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    UNION ALL
    SELECT 4, 'no_email_pii', CAST(SUM(CASE WHEN b1 AND b2 AND b3 AND b4 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    """


@register("filter_cascade", oracle=_cascade_oracle())
def q_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade with per-stage survival accounting in ONE
    scan and ONE tiny aggregate: every stage's boolean is a sibling
    column, cumulative survival is boolean AND-chains, and the per-stage
    counts are conditional sums in a single agg — NOT four filtered
    re-scans (the naive form reads the corpus once per stage). Email PII
    is synthesized into every 7th doc (same construction as pii_scan)
    so the last stage demonstrably drops rows."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.when(
        d % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@corp.example now"),
        ),
    ).otherwise(F.col("text"))
    words = F.split(F.trim(t), r"\s+")
    b1 = F.col("n_chars") >= 150
    b2 = F.size(words) >= 30
    b3 = (
        F.size(F.array_distinct(F.split(F.lower(F.trim(t)), r"\s+"))).cast("double")
        / F.size(words)
    ) >= 0.5
    b4 = ~(t.rlike(_PII_EMAIL))
    flags = docs.select(
        b1.alias("b1"), b2.alias("b2"), b3.alias("b3"), b4.alias("b4")
    )
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    agg = flags.agg(
        F.count(F.lit(1)).alias("_n0"),
        cnt(F.col("b1")).alias("_n1"),
        cnt(F.col("b1") & F.col("b2")).alias("_n2"),
        cnt(F.col("b1") & F.col("b2") & F.col("b3")).alias("_n3"),
        cnt(F.col("b1") & F.col("b2") & F.col("b3") & F.col("b4")).alias("_n4"),
    )
    names = ["total", "min_length", "min_words", "distinct_ratio", "no_email_pii"]
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage"),
                F.lit(nm).alias("name"),
                F.col(f"_n{i}").alias("survivors"),
            )
            for i, nm in enumerate(names)
        ]
    )
    return agg.select(F.inline(rows))


# ---------------------------------------------------------------------------
# The curation pipeline, end-to-end: the LLM-data twin of
# contacts_pipeline_e2e — quality gates -> near-dup prune -> split ->
# chunk -> shard accounting, as ONE lazy plan over raw documents.
# ---------------------------------------------------------------------------

#: Oracle twin of ``_quality_gate``: the ``flags`` and ``kept`` CTEs,
#: without the leading ``WITH``.
_GATE_SQL = r"""
flags AS (
  SELECT doc_id, text,
         n_chars >= 100 AS b1,
         len(regexp_split_to_array(trim(text), '\s+')) >= 20 AS b2,
         CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS DOUBLE)
           / len(regexp_split_to_array(trim(text), '\s+')) >= 0.45 AS b3
  FROM documents),
kept AS (SELECT doc_id, text FROM flags WHERE b1 AND b2 AND b3)"""


def _curation_tail_sql(source: str, seed: str) -> str:
    """Oracle twin of ``_curation_tail`` over relation ``source``: the
    CTEs from the near-dup edges to the split labels, then the final
    per-split shard-accounting SELECT."""
    return f"""{capped_edges_sql(source)},
{reach_sql(source)},
pruned AS (
  SELECT k.doc_id, k.text FROM {source} k
  JOIN reach r ON r.node = k.doc_id AND r.comp = r.node),
chunks AS (
  SELECT doc_id,
         off // 200 AS chunk_id,
         CAST(length(substring(text, CAST(off + 1 AS INT), 200)) AS BIGINT) AS chunk_len
  FROM (SELECT doc_id, text,
               unnest(generate_series(0, greatest(length(text) - 1, 0), 200)) AS off
        FROM pruned)),
labeled AS (
  SELECT CASE
           WHEN CAST(CAST(('0x' || substring(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) < 80 THEN 'train'
           WHEN CAST(CAST(('0x' || substring(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) < 90 THEN 'val'
           ELSE 'test' END AS split,
         doc_id, chunk_id, chunk_len
  FROM chunks)
SELECT split,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_len) AS BIGINT) AS total_chars,
       CAST((SUM(chunk_len) - arg_max(chunk_len, doc_id * 1000000 + chunk_id)) // 5000 + 1 AS BIGINT) AS n_shards
FROM labeled GROUP BY 1
"""


def _quality_gate(docs: DataFrame) -> DataFrame:
    """Length, word-count and distinct-word-ratio gates as one narrow
    filter, persisted: every ladder reads the gated corpus more than
    once, and each read would otherwise re-scan documents and re-run
    the regex gates."""
    t = F.col("text")
    words = F.split(F.trim(t), r"\s+")
    ratio = (
        F.size(F.array_distinct(F.split(F.lower(F.trim(t)), r"\s+"))).cast("double")
        / F.size(words)
    )
    return pin(
        docs.filter(
            (F.col("n_chars") >= 100) & (F.size(words) >= 20) & (ratio >= 0.45)
        ).select("doc_id", "text")
    )


def _curation_tail(docs: DataFrame, seed: str) -> DataFrame:
    """Near-dup prune (capped pairs, label propagation, keep the min-id
    representative) -> ``seed``-salted 80/10/10 hash split -> disjoint
    200-char chunks -> per-split shard accounting under a 5000-char
    budget. ``docs`` feeds pair generation, the CC vertex set and the
    final semi join, so callers pass it pinned."""
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        assign_split,
    )
    from bcg_contacts_data_pipeline_spark.operators.chunking import (
        chunk_documents,
    )
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    pairs = neardup_pairs(docs)
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=docs, node_col="doc_id"
    )
    reps = comp.filter(F.col("comp") == F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    pruned = docs.join(reps, "doc_id", "left_semi")

    chunks = chunk_documents(pruned, "doc_id", "text", size=200, stride=200)
    labeled = chunks.withColumn("split", assign_split("doc_id", seed=seed))
    agg = labeled.groupBy("split").agg(
        F.count_distinct(F.col("doc_id")).alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_len").alias("total_chars"),
        F.max_by(
            F.col("chunk_len"), F.struct(F.col("doc_id"), F.col("chunk_id"))
        ).alias("_last"),
    )
    return agg.select(
        "split",
        "n_docs",
        "n_chunks",
        F.col("total_chars").cast("long").alias("total_chars"),
        F.expr("(total_chars - _last) div 5000 + 1").cast("long").alias("n_shards"),
    )


_CURATION_ORACLE = f"WITH {_GATE_SQL},{_curation_tail_sql('kept', 'cur-v1')}"


@register("curation_pipeline_e2e", oracle=_CURATION_ORACLE)
def curation_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete training-data curation pipeline as one composed
    plan — the LLM-data twin of contacts_pipeline_e2e: quality gates
    (length, word count, distinct-word ratio; single narrow projection)
    -> transitive near-dup pruning (df-capped exact pair generation —
    posting lists with document frequency > 100 are dropped before the
    inverted-index self-join, so no stop-shingle can make it quadratic;
    the cap is mirrored in the oracle SQL — plus label propagation,
    keep the min-id representative) -> deterministic 80/10/10 hash
    split -> disjoint 200-char chunking -> per-split shard accounting
    under a 5000-char budget (contiguous packing in (doc_id, chunk_id)
    order: n_shards = exclusive-prefix of the last chunk div budget +
    1, computed from aggregates — no per-split 1-task cumsum window).
    NOT fully lazy, by design: the label propagation inside
    connected_components checkpoints eagerly per round (iterative
    lineage must be cut — same contract dedup_components documents), so
    building this frame runs those rounds. The gated `kept` subtree
    feeds three consumers (pair generation, CC vertex set, the semi
    join) and is persisted once rather than re-running the regex gates
    per consumer."""
    docs = _t(spark, sf_dir, "documents")
    return _curation_tail(_quality_gate(docs), "cur-v1")


# ---------------------------------------------------------------------------
# Corpus-statistics quality: bigram coverage against a reference
# vocabulary — the engine-exact stand-in for LM-perplexity filtering.
# ---------------------------------------------------------------------------


@register(
    "bigram_coverage",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    bi AS (
      SELECT doc_id, lang,
             unnest(list_distinct([t[i] || ' ' || t[i+1]
                     for i in range(1, greatest(len(t), 1))])) AS bg
      FROM toks WHERE len(t) >= 2),
    vocab AS (
      SELECT bg FROM bi WHERE lang = 'en'
      GROUP BY bg HAVING COUNT(*) >= 2),
    scored AS (
      SELECT b.doc_id, b.lang,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN v.bg IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_covered
      FROM bi b LEFT JOIN vocab v ON v.bg = b.bg
      GROUP BY b.doc_id, b.lang)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
           CAST(SUM(n_covered) AS BIGINT) AS covered_bigrams,
           CAST(CAST(SUM(n_covered) AS DOUBLE)
                / CAST(SUM(n_bigrams) AS DOUBLE) AS DOUBLE) AS coverage
    FROM scored
    GROUP BY lang
    """,
)
def bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality filtering without a language model binary:
    score every document by the fraction of its DISTINCT token bigrams
    that appear in a REFERENCE vocabulary (bigrams seen in >= 2
    distinct English docs of the same corpus) — the engine-exact stand-in for
    KenLM perplexity gating (log-probs are libm-bound; a coverage RATIO
    is one division, hash-exact cross-engine). Low coverage flags
    boilerplate, wrong-language, and garbled docs the char-class
    heuristics (lang_quality) miss; rolled up per language so the
    result is the filter-calibration table a curation run reads.

    Scale shape: doc bigrams via slide-window transform (narrow, no
    explode until the join), vocabulary = distinct-doc-count filter
    over the same frame (the inverted-index discipline of the dedup
    family — at 100 TB the vocab is huge but the join is
    hash-partitioned on the bigram; no driver state, no broadcast of
    unbounded vocab)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        ),
    )
    # DISTINCT bigrams per doc ("type coverage"), deduped IN-ARRAY
    # (array_distinct) before the explode — the shingle-frame trick:
    # the exploded stream is already one row per (doc, bigram), so no
    # pre-aggregation shuffle exists at all; the vocab df-filter is a
    # plain count and the membership join probes distinct pairs. Join
    # key is xxhash64(bigram): 8 bytes through the shuffle (same
    # negligible-collision caveat as the shingle frames). `lang` rides
    # the grouping keys end-to-end — no join-back to documents.
    # repartition BEFORE the explode: the raw documents file is one
    # input split at small SFs, which would serialize the whole
    # tokenize/explode on a single task (the simhash64 lesson); the
    # pre-explode frame is tiny relative to its exploded output, so
    # this is the cheapest place to buy parallelism
    bi = docs.repartition(64).select(
        "doc_id", "lang", F.explode(F.array_distinct(grams)).alias("__bg_s")
    ).select("doc_id", "lang", F.xxhash64("__bg_s").alias("bg"))
    vocab = (
        bi.filter(F.col("lang") == "en")
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("bg")
    )
    scored = (
        bi.join(vocab.withColumn("__hit", F.lit(1)), "bg", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_covered"),
        )
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("total_bigrams"),
        F.sum("n_covered").alias("covered_bigrams"),
        (
            F.sum("n_covered").cast("double")
            / F.sum("n_bigrams").cast("double")
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# Corrupt-media quarantine: the scrape reality — tolerant decode turns
# poisoned payloads into a queryable rate instead of a dead job.
# ---------------------------------------------------------------------------


@register(
    "media_quarantine",
    oracle="""
    SELECT CASE WHEN doc_id % 7 = 0 THEN 'corrupt'
                ELSE CASE length(text) % 3
                     WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END
           END AS format,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def media_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scraped media is full of garbage; a decode that dies on the
    first bad byte kills a 1000-executor job on one poisoned payload.
    This is the quarantine pass: every 7th payload is corrupted
    JVM-side (``overlay`` zeroes the second byte — breaks the PNG
    signature, the JPEG SOI, and the RIFF tag alike, no Python in the
    corruption path), the decode runs with ``strict=False`` so
    failures become rows with an error message instead of exceptions,
    and the rollup quantifies the corruption rate per format — the
    number a crawl operator actually watches. The oracle recomputes
    membership from doc_id % 7, so the hash match proves the tolerant
    path neither drops nor mislabels a single row."""
    from bcg_contacts_data_pipeline_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    payload = M.synthesize_image_payload(docs, "doc_id", "text")
    corrupted = payload.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.overlay(F.col("payload"), F.lit(bytes([0])), F.lit(2), F.lit(1)),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    meta = M.decode_image_meta(corrupted, "doc_id", strict=False)
    return (
        meta.select(
            F.coalesce(F.col("format"), F.lit("corrupt")).alias("format")
        )
        .groupBy("format")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Temperature-based language rebalancing: DATA-DERIVED sampling rates.
# ---------------------------------------------------------------------------


@register(
    "lang_rebalance_temperature",
    oracle="""
    WITH langs AS (
      SELECT lang, COUNT(*) AS n_docs,
             sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
      FROM documents GROUP BY lang),
    tot AS (
      SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS totw,
             SUM(n_docs) AS n
      FROM langs),
    rates AS (
      SELECT lang, n_docs,
             LEAST(1.0, ((0.5 * n) * (w / totw)) / n_docs) AS rate
      FROM langs, tot),
    kept AS (
      SELECT d.lang
      FROM documents d JOIN rates r USING (lang)
      WHERE CAST(CAST(('0x' || substring(md5('temp-v1:'
                || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                % 10000 AS BIGINT)
            < CAST(floor(r.rate * 10000) AS BIGINT))
    SELECT r.lang,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(COUNT(k.lang) AS BIGINT) AS n_kept,
           r.rate
    FROM rates r LEFT JOIN kept k ON r.lang = k.lang
    GROUP BY r.lang, r.n_docs, r.rate
    """,
)
def lang_rebalance_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the multilingual-corpus
    mixing rule: sample language l proportional to p_l^alpha, here
    alpha = 0.5 so the weight is ``sqrt`` — chosen because sqrt is
    IEEE-correctly-rounded in every engine while ``pow(x, 0.7)`` is
    not, so the rates stay bit-identical). Unlike ``stratified_sample``
    (CONFIG-constant rates), the rates here are DERIVED FROM THE DATA:
    one language-stats aggregate, weights folded in pinned lang order
    (five doubles — order-pinned so the two engines cannot disagree on
    the sum), target budget 50% of the corpus, per-lang rate clamped at
    1.0, thresholds via ``floor`` (never ``round`` — no tie semantics),
    then the same growth-stable salted-md5 keep filter. Dominant
    languages are squeezed toward the budget; rare ones keep more of
    their mass — the standard alpha-temperature curve.

    Output is the rebalancing audit table: per language, corpus count,
    kept count, and the applied rate (bit-identical double).

    The 5-row language-stats aggregate is PINNED (q15/q11 pattern):
    it feeds three consumers (the weight total, the rate table, and
    through it the keep filter), and unpinned each one would recompute
    it with its own full documents scan — 2 scans instead of 5.
    """
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        hash_bucket,
    )

    docs = _t(spark, sf_dir, "documents")
    langs = pin(
        docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    langs = langs.select(
        "lang", "n_docs", F.sqrt(F.col("n_docs").cast("double")).alias("w")
    )
    tot = langs.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("totw"),
        F.sum("n_docs").alias("n"),
    )
    rates = langs.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(1.0),
            ((F.lit(0.5) * F.col("n")) * (F.col("w") / F.col("totw")))
            / F.col("n_docs"),
        ).alias("rate"),
    )
    keep = hash_bucket("doc_id", 10_000, seed="temp-v1") < F.floor(
        F.col("rate") * 10_000
    ).cast("long")
    kept = (
        docs.join(F.broadcast(rates.select("lang", "rate")), "lang")
        .filter(keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            "rate",
        )
    )


# ---------------------------------------------------------------------------
# Quality-weighted sampling: per-DOC data-derived keep probability.
# ---------------------------------------------------------------------------


@register(
    "quality_weighted_sample",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN length(trim(text)) > 0 THEN len({_TOKS_SQL}) ELSE 0 END AS DOUBLE) AS nt,
             CAST(length(text) AS DOUBLE) AS nc,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS pc,
             CAST(CASE WHEN length(trim(text)) > 0
                  THEN len(list_filter({_TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, lower(t))))
                  ELSE 0 END AS DOUBLE) AS st
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
             CASE WHEN nt > 0 THEN
               0.4 * least(nt / 100.0, 1.0)
               + 0.3 * least(st / nt * 3.0, 1.0)
               + 0.3 * (1.0 - least(pc / nc * 10.0, 1.0))
             ELSE 0.0 END AS quality
      FROM counts),
    kept AS (
      SELECT doc_id, lang, quality
      FROM scored
      WHERE CAST(CAST(('0x' || substring(md5('qual-v1:'
                || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                % 10000 AS BIGINT)
            < CAST(floor(quality * 10000) AS BIGINT))
    SELECT doc_id, lang, quality FROM kept
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (the DCLM/FineWeb-style soft
    filter): each document survives with probability equal to its OWN
    quality score, rather than a hard threshold — high-quality docs
    almost surely stay, mid-quality docs are thinned proportionally,
    junk almost surely drops, preserving a gradient the hard cutoff
    (``filter_cascade``) destroys. The keep decision is the salted-md5
    uniform against ``floor(quality * 10000)`` — deterministic,
    growth-stable, engine-portable, per-DOC data-derived probability
    (``lang_rebalance_temperature`` derives per-GROUP rates; this is
    the row-level analogue). One narrow projection + filter: no
    shuffle, no RNG state, composes under any downstream plan.
    Quality is the exact-integer-component score of ``lang_quality``
    (bit-identical doubles), so the kept SET is identical on both
    engines."""
    from bcg_contacts_data_pipeline_spark.functions import text as T
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        hash_bucket,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", T.quality_score("text").alias("quality")
    )
    keep = hash_bucket("doc_id", 10_000, seed="qual-v1") < F.floor(
        F.col("quality") * 10_000
    ).cast("long")
    return scored.filter(keep)


# ---------------------------------------------------------------------------
# Weighted median per group (exact, integer weights).
# ---------------------------------------------------------------------------


@register(
    "lang_weighted_median",
    oracle="""
    WITH toks AS (
      SELECT lang,
             CAST(CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(trim(text), '\\s+'))
                  ELSE 0 END AS BIGINT) AS tc,
             n_chars
      FROM documents),
    g AS (
      SELECT lang, tc, CAST(SUM(n_chars) AS BIGINT) AS w
      FROM toks GROUP BY lang, tc),
    cum AS (
      SELECT lang, tc,
             CAST(SUM(w) OVER (PARTITION BY lang ORDER BY tc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY lang) AS BIGINT) AS tw
      FROM g)
    SELECT lang,
           CAST(MIN(tc) AS BIGINT) AS weighted_median_tokens,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cw >= tw
    GROUP BY lang
    """,
)
def lang_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per group: the token count at which the
    cumulative character mass of a language crosses half its total —
    "the doc length where half this language's characters live below"
    — the curation statistic that, unlike the unweighted median
    (``lang_quantiles``), cannot be fooled by a swarm of tiny docs.

    The weighted median has no distributive/sketch shortcut in either
    engine, but it IS one pass of window algebra when the weights are
    integers: pre-aggregate weight per (group, value) — compressing
    duplicate values BEFORE the window, so the window frame is
    |distinct values| not |rows| — then a per-group running weight sum,
    then the smallest value whose doubled running weight reaches the
    group total (``2*cw >= tw``: the half-compare stays in exact
    integer arithmetic, no division anywhere). Lower-median convention,
    deterministic for any weights.

    Scale: both windows partition BY GROUP (no global window); the
    windowed frame is the compressed (lang, token-count) grid.
    """
    from bcg_contacts_data_pipeline_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    g = (
        docs.select(
            "lang", token_count("text").alias("tc"), "n_chars"
        )
        .groupBy("lang", "tc")
        .agg(F.sum("n_chars").cast("long").alias("w"))
    )
    wl = (
        Window.partitionBy("lang")
        .orderBy("tc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("lang")
    cum = g.select(
        "lang",
        "tc",
        F.sum("w").over(wl).cast("long").alias("cw"),
        F.sum("w").over(wt).cast("long").alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("lang")
        .agg(
            F.min("tc").cast("long").alias("weighted_median_tokens"),
            F.min("tw").cast("long").alias("total_weight"),
        )
    )

#: Declarative twin of the incremental_curation_e2e composition: the
#: hash-dedup adjudication (batch docs anchor to the base representative
#: or the batch minimum of their normalized content), the retained-graph
#: components recomputed FROM SCRATCH by recursive CTE over the same
#: shared jaccard-edge CTEs plus the history hash-star, and dropped docs
#: inheriting their anchor's component. Built on the same edge scaffold
#: as every other jaccard oracle so the edge definition cannot drift.
#: Component labels are min ids over RETAINED nodes (history +
#: survivors) — a dropped doc's id never becomes a canonical label,
#: exactly the semantics a curation pipeline wants (canonical = a doc
#: you kept).
INCREMENTAL_CURATION_ORACLE = _JACCARD_BASE_CTES + f""",
    nk AS (
      SELECT doc_id,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS h
      FROM documents),
    base_rep AS (
      SELECT h, MIN(doc_id) AS m FROM nk
      WHERE doc_id % 10 != 0 AND h IS NOT NULL GROUP BY h),
    adjud AS (
      SELECT n.doc_id,
             CASE WHEN br.m IS NOT NULL THEN br.m
                  WHEN n.h IS NOT NULL
                       AND n.doc_id <> MIN(n.doc_id)
                                       OVER (PARTITION BY n.h)
                       THEN MIN(n.doc_id) OVER (PARTITION BY n.h)
             END AS anchor
      FROM nk n LEFT JOIN base_rep br ON n.h = br.h
      WHERE n.doc_id % 10 = 0),
    retained AS (
      SELECT doc_id FROM nk WHERE doc_id % 10 != 0
      UNION ALL
      SELECT doc_id FROM adjud WHERE anchor IS NULL),
    jedges AS (
      SELECT s.id_a, s.id_b FROM shared s
      JOIN sizes sa ON s.id_a = sa.doc_id
      JOIN sizes sb ON s.id_b = sb.doc_id
      WHERE CAST(s.shared AS DOUBLE) / CAST(sa.n + sb.n - s.shared AS DOUBLE)
            >= 0.5
        AND s.id_a IN (SELECT doc_id FROM retained)
        AND s.id_b IN (SELECT doc_id FROM retained)
        AND (s.id_a % 10 = 0 OR s.id_b % 10 = 0)),
    hstar AS (
      SELECT br.m AS id_a, n.doc_id AS id_b
      FROM nk n JOIN base_rep br ON n.h = br.h
      WHERE n.doc_id % 10 != 0 AND n.doc_id <> br.m),
    edges AS (SELECT id_a, id_b FROM jedges
              UNION ALL SELECT id_a, id_b FROM hstar),
    {reach_sql("retained")}
    SELECT node AS doc_id, comp FROM reach
    UNION ALL
    SELECT a.doc_id, r.comp FROM adjud a JOIN reach r ON a.anchor = r.node
    WHERE a.anchor IS NOT NULL
    """


# ---------------------------------------------------------------------------
# Incremental curation e2e: hash dedup -> probe-side near-dup -> CC merge,
# composed — today's batch against yesterday's state, one label table out.
# ---------------------------------------------------------------------------


@register("incremental_curation_e2e", oracle=INCREMENTAL_CURATION_ORACLE)
def q_incremental_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl incremental curation END-TO-END — the three certified
    incremental legs composed, certifying the STATE HANDOFF between them
    (the thing the legs' individual oracles cannot observe):

    1. Exact hash dedup (``incremental_dedup``'s shape): today's batch
       (``doc_id % 10 = 0``) joins the history hash index; exact dups of
       base anchor to the base representative, in-batch dups anchor to
       the batch minimum, and only SURVIVORS flow on — the handoff the
       composition certifies is that dropped docs never reach pair
       generation yet still land in the final label table.
    2. Probe-side near-dup (``incremental_neardup``'s generator): exact
       3-gram Jaccard >= 0.5 pairs over history + survivors, probe side
       = survivors only — history x history pairs are never recomputed.
    3. CC merge (``incremental_components``): yesterday's labeling (the
       history hash-star — component label = min history doc per
       normalized content) contracts to labels; today's edges merge in;
       dropped batch docs inherit their anchor's merged component.

    Output: (doc_id, comp) for EVERY document — the persisted label
    table a daily pipeline carries forward as tomorrow's state. The
    oracle recomputes the retained-graph components FROM SCRATCH by
    recursive CTE over the same edge definitions and inherits dropped
    docs through their anchors, so the driver's hash check proves the
    composed incremental path bit-identical to the full recompute.

    Scale shape: every leg's cost is proportional to TODAY'S BATCH —
    the hash join probes an index of 16-byte keys, the pair generator
    explodes only probe prefixes against the persisted prefix index,
    and the CC contraction graph has one vertex per affected component
    (see each leg's docstring). History is touched only through
    persisted artifacts (hash index, prefix index, label table), never
    rescanned — at 100 TB the daily cost is O(batch), which SCALE.md's
    probe measures directly.
    """
    from bcg_contacts_data_pipeline_spark.operators.dedup import content_hash
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        incremental_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        prefix_filter_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", "text", content_hash("text").alias("h"))
    base = hashed.filter(F.col("doc_id") % 10 != 0)
    batch = hashed.filter(F.col("doc_id") % 10 == 0)

    # Leg 1 — exact dedup against the persisted hash index. NULL-text
    # rows hash to NULL and bypass dedup entirely (they can match
    # nothing); the window min is guarded so the NULL group never
    # fabricates in-batch duplicates.
    base_rep = (
        base.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.min("doc_id").alias("__base_rep"))
    )
    batch_min = F.min("doc_id").over(Window.partitionBy("h"))
    anchor = (
        F.when(F.col("__base_rep").isNotNull(), F.col("__base_rep"))
        .when(
            F.col("h").isNotNull() & (F.col("doc_id") != batch_min),
            batch_min,
        )
    )
    adjud = batch.join(base_rep, "h", "left").select(
        "doc_id", "text", anchor.alias("__anchor")
    )
    survivors = adjud.filter(F.col("__anchor").isNull()).select(
        "doc_id", "text"
    )
    dropped = adjud.filter(F.col("__anchor").isNotNull()).select(
        "doc_id", "__anchor"
    )

    # Leg 2 — probe-side near-dup over history + survivors: the batch
    # members of this corpus ARE the survivors (leg 1 removed the rest),
    # so the id-parity probe predicate selects exactly them.
    corpus = base.select("doc_id", "text").unionByName(survivors)
    new_edges = prefix_filter_pairs(
        corpus, "doc_id", "text", n=3, t_num=1, t_den=2,
        probe_pred=lambda c: c % 10 == 0,
    ).select("id_a", "id_b")

    # Leg 3 — CC merge: yesterday's labeling is the history hash-star
    # (label = min history doc per normalized content; NULL-hash rows
    # label themselves). Edge-less survivors enter as self-edges so the
    # merged table covers them.
    old_labels = base.join(base_rep, "h", "left").select(
        F.col("doc_id").alias("node"),
        F.coalesce("__base_rep", "doc_id").alias("comp"),
    )
    survivor_selfedges = survivors.select(
        F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    merged = incremental_components(
        old_labels, new_edges.unionByName(survivor_selfedges)
    )

    # Dropped docs inherit the anchor's merged component — the label
    # table stays total over the day's full input.
    inherited = dropped.join(
        merged, dropped["__anchor"] == merged["node"]
    ).select(dropped["doc_id"], merged["comp"])
    return merged.select(
        F.col("node").alias("doc_id"), "comp"
    ).unionByName(inherited)


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup: step 0 of web-crawl curation.
# ---------------------------------------------------------------------------


def _messy_url(id_col: str, host_prefix: str, path_seg: str) -> Column:
    """The shared messy-crawl-frontier fixture: every run of five
    consecutive ids aliases ONE resource (rid = id DIV 5), each through
    a different mess class — plain, uppercase scheme + explicit default
    port + trailing slash, tracking params, fragment, shuffled query
    order. Single definition for the three URL queries
    (``url_canonical_dedup``, ``stream_url_dedup``,
    ``crawl_curation_e2e``) so the fixture and its oracles
    (:func:`_canonical_url_sql`) cannot desynchronize per-query."""
    rid = F.expr(f"{id_col} DIV 5")
    idc = F.col(id_col)
    host_n = (rid % 50).cast("string")
    base = F.concat(
        F.lit(host_prefix),
        host_n,
        F.lit(".Example.COM" + path_seg),
        rid.cast("string"),
    )
    return (
        F.when(idc % 5 == 0, F.concat(F.lit("https://"), base))
        .when(
            idc % 5 == 1,
            F.concat(
                F.lit("HTTPS://"),
                F.lit(host_prefix),
                host_n,
                F.lit(".Example.COM:443" + path_seg),
                rid.cast("string"),
                F.lit("/"),
            ),
        )
        .when(
            idc % 5 == 2,
            F.concat(
                F.lit("https://"), base, F.lit("?utm_source=feed&utm_campaign=x")
            ),
        )
        .when(
            idc % 5 == 3,
            F.concat(F.lit("https://"), base, F.lit("#section-2")),
        )
        .otherwise(F.concat(F.lit("https://"), base, F.lit("?b=2&a=1")))
    )


def _canonical_url_sql(id_col: str, host_prefix: str, path_seg: str) -> str:
    """Ground-truth canonical form of :func:`_messy_url` as a DuckDB
    expression — pure id arithmetic (the membership-oracle recipe):
    every alias class canonicalizes to the rid's base URL, the %5=4
    class to its own sorted-query URL."""
    hp = host_prefix.lower()
    return (
        f"'https://{hp}' || CAST(({id_col} // 5) % 50 AS VARCHAR)"
        f" || '.example.com{path_seg}' || CAST({id_col} // 5 AS VARCHAR)"
        f" || CASE WHEN {id_col} % 5 = 4 THEN '?a=1&b=2' ELSE '' END"
    )


@register(
    "url_canonical_dedup",
    # ground truth stated directly from the synthesis arithmetic: every
    # alias class canonicalizes to the base URL (plus the sorted query
    # for the %5=4 variant), so the expected table is pure doc_id math
    # (same membership-oracle recipe as tsv_quarantine)
    oracle=f"""
    WITH v AS (
      SELECT doc_id,
             {_canonical_url_sql("doc_id", "Host", "/articles/")}
               AS canonical_url
      FROM documents)
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_aliases,
           MIN(doc_id) AS first_doc
    FROM v GROUP BY 1
    """,
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup over a synthesized messy crawl frontier: every
    run of five consecutive doc_ids aliases ONE resource (rid =
    doc_id DIV 5), each through a different mess class (plain,
    uppercase scheme + explicit default port + trailing slash,
    tracking params, fragment, shuffled query order) — so
    `functions/urls.py:url_canonicalize` must actually COLLAPSE alias
    groups (the four transport-noise classes merge; the reordered-query
    class canonicalizes to its own sorted-query URL). The oracle states
    the expected canonical table directly from the rid arithmetic, so
    the driver's hash check certifies every normalization (case, port,
    slash, utm-strip, param sort, fragment) AND the group structure
    against ground truth — not against a reimplementation.

    Scale shape: synthesis + canonicalization are narrow projections
    (parse_url/regexp/array ops, whole-stage codegen); the only shuffle
    is the final groupBy on the canonical key — at 100 TB this is the
    scan-speed step-0 pass every crawl pipeline runs before content
    dedup ever sees a byte."""
    from bcg_contacts_data_pipeline_spark.functions.urls import (
        url_canonicalize,
    )

    docs = _t(spark, sf_dir, "documents")
    messy = _messy_url("doc_id", "Host", "/articles/")
    return (
        docs.select("doc_id", messy.alias("url"))
        .select("doc_id", url_canonicalize("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_aliases"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "domain_quota_sample",
    # ground truth from the synthesis arithmetic: 13 registered domains
    # (rid2 % 13), per-domain ranking by (n_chars DESC, doc_id ASC),
    # quota 40 — DuckDB states the kept set independently
    oracle="""
    WITH u AS (
      SELECT doc_id, n_chars,
             'site' || CAST((doc_id // 3) % 13 AS VARCHAR) || '.org'
               AS domain
      FROM documents),
    ranked AS (
      SELECT domain, doc_id, n_chars,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM u)
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= 40 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           MIN(CASE WHEN rk <= 40 THEN doc_id END) AS first_kept
    FROM ranked GROUP BY domain
    """,
)
def q_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling — the C4/Gopher-style domain-diversity
    cap: no registered domain contributes more than ``cap`` documents,
    and within a domain the highest-quality docs win (here n_chars as
    the quality stand-in, doc_id as the deterministic tie-break). URLs
    are synthesized deterministically (three consecutive docs share a
    page, pages rotate over 13 mixed-case hosts) and reduced through
    the PSL eTLD+1 path (`functions/public_suffix.py:from_url`, r12 —
    on these default-rule ``.org`` hosts it answers exactly what the
    pre-r12 2-label heuristic did, so the arithmetic oracle is
    unchanged; the ccTLD/private-suffix hosts the heuristic got wrong
    are certified by ``etld1_quota_sample``), so the oracle can state
    the kept set from the arithmetic while the Spark side must get
    host extraction + lowercase + the quota window right.

    Scale shape: the PSL match is broadcast joins (no shuffle, plan
    pinned in tests/test_public_suffix.py); the quota is one shuffle
    (the per-domain window partition). At 100 TB the quota rank is the
    standard curation pass; a domain hot enough to skew its window
    partition is exactly the domain the cap exists to truncate, and
    AQE splits the post-filter aggregation."""
    from bcg_contacts_data_pipeline_spark.functions.public_suffix import (
        from_url,
    )

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW.Site"),
        (F.expr("doc_id DIV 3") % 13).cast("string"),
        F.lit(".ORG/page/"),
        F.expr("doc_id DIV 3").cast("string"),
    )
    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = from_url(
        docs.select("doc_id", "n_chars", url.alias("url")), "url", out="domain"
    ).drop("url").withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rk") <= 40, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.min(F.when(F.col("rk") <= 40, F.col("doc_id"))).alias("first_kept"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level corpus dedup (CCNet / RefinedWeb step between URL and
# near-dup dedup) — crawl curation step 2.
# ---------------------------------------------------------------------------

_PARA_K = 16  # words per paragraph; docs at shipped SFs run ~30-80 words


def _paragraph_oracle(max_df: int | None = None) -> str:
    hot_cte = (
        f""",
    hot AS (
      SELECT para FROM paras GROUP BY para
      HAVING count(DISTINCT doc_id) > {max_df}
    )"""
        if max_df is not None
        else ""
    )
    # para <> '' mirrors the operator's empty-paragraph drop (a trailing
    # tab/newline makes regex-split emit a final empty token on BOTH
    # engines -> a phantom empty paragraph; the operator filters it, so
    # the oracle must too)
    hot_filter = "WHERE para <> ''" + (
        " AND para NOT IN (SELECT para FROM hot)" if max_df is not None else ""
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR trim(text) = ''
                  THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS w
      FROM documents
    ),
    sized AS (
      SELECT doc_id, w, CAST(ceil(len(w) / {_PARA_K}.0) AS BIGINT) AS n_paras
      FROM toks
    ),
    paras AS (
      SELECT doc_id, n_paras,
             CAST(unnest(range(0, n_paras)) AS BIGINT) AS para_idx,
             unnest(list_transform(range(0, n_paras),
               i -> array_to_string(
                      w[(i*{_PARA_K}+1):(i*{_PARA_K}+{_PARA_K})], ' '))) AS para
      FROM sized
    ){hot_cte},
    kept AS (
      SELECT doc_id, para_idx, para,
             row_number() OVER (
               PARTITION BY para ORDER BY doc_id, para_idx) AS rn
      FROM paras {hot_filter}
    ),
    rebuilt AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS paras_kept,
             string_agg(para, ' ' ORDER BY para_idx) AS text_dedup
      FROM kept WHERE rn = 1 GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_paras,
           COALESCE(r.paras_kept, 0) AS paras_kept,
           md5(COALESCE(r.text_dedup, '')) AS dedup_md5
    FROM sized s LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY doc_id
    """


def _paragraph_query(max_df: int | None):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from bcg_contacts_data_pipeline_spark.operators.dedup import (
            paragraph_dedup,
        )

        docs = _t(spark, sf_dir, "documents")
        out = paragraph_dedup(
            docs, "doc_id", "text", words_per_para=_PARA_K, max_df=max_df
        )
        return out.select(
            "doc_id",
            "n_paras",
            "paras_kept",
            F.md5("text_dedup").alias("dedup_md5"),
        )

    return q


q_paragraph_dedup = register("paragraph_dedup", oracle=_paragraph_oracle())(
    _paragraph_query(None)
)
q_paragraph_dedup.__doc__ = (
    "Corpus-wide paragraph-level exact dedup (operators/dedup.py:"
    "paragraph_dedup): documents split into fixed 16-word paragraphs, each"
    " distinct paragraph kept ONCE corpus-wide (first (doc_id, para_idx)"
    " occurrence), documents rebuilt from survivors — the CCNet/RefinedWeb"
    " curation step between URL-level and near-dup dedup. Output is the"
    " full per-document label frame (md5 of the rebuilt text keeps the"
    " compare payload fixed-width). Dedup shuffle carries sha2(para) + one"
    " min-struct winner per distinct paragraph, map-side combinable —"
    " boilerplate repeated corpus-wide partial-aggregates to one row per"
    " task, the same flat-skew shape PERF.md measured for the empty"
    " dedup-key probe."
)

q_paragraph_boilerplate = register(
    "paragraph_boilerplate", oracle=_paragraph_oracle(max_df=2)
)(_paragraph_query(2))
q_paragraph_boilerplate.__doc__ = (
    "Boilerplate-removal twin of paragraph_dedup: paragraphs occurring in"
    " MORE than max_df=2 documents are dropped EVERYWHERE (including the"
    " first occurrence) — navigation chrome / cookie-banner removal, the"
    " RefinedWeb line-dedup rationale applied at paragraph granularity."
    " The cap engages at every shipped SF (measured paragraph df maxima:"
    " 5 at sf0.01, 18 at sf0.1), so this certifies the df-filter path,"
    " not a no-op."
)


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle — the "shuffle before training" step.
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = "shuffle-seed-42:"
_SHUFFLE_SHARDS = 16


@register(
    "corpus_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, k,
             CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS pos
      FROM keyed
    )
    SELECT doc_id, pos,
           CAST((pos - 1) % {_SHUFFLE_SHARDS} AS BIGINT) AS shard
    FROM ranked ORDER BY doc_id
    """,
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded corpus shuffle + round-robin shard
    assignment — the data-ordering step every pretraining run performs
    before writing epoch shards. The permutation key is
    ``md5(seed || doc_id)``: engine-portable (the DuckDB oracle computes
    the identical ordering), reshuffled by changing the seed string, and
    uniform, so the range-partitioned renumber below gets evenly-sized
    partitions with no sampling skew. Global contiguous ``pos`` comes
    from ``operators/dedup.py:renumber`` (two-pass partition-offset —
    range-repartition on the key, per-partition counts to the driver,
    broadcast offsets + local row_number; no single-partition window at
    any scale); ``shard = (pos-1) % n`` round-robins the permuted
    stream so each of the n training shards is itself a uniform sample.
    ID-only projection: the text payload never rides through the
    shuffle — a writer joins shard assignments back to payloads, which
    at 100 TB is one co-partitioned join instead of range-shuffling the
    corpus bytes."""
    from bcg_contacts_data_pipeline_spark.operators.dedup import renumber

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string"))
        ).alias("__k"),
    )
    out = renumber(keyed, ["__k", "doc_id"], seq_name="pos")
    return out.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        ((F.col("pos") - F.lit(1)) % F.lit(_SHUFFLE_SHARDS))
        .cast("long")
        .alias("shard"),
    )


# ---------------------------------------------------------------------------
# Streaming URL frontier dedup — crawl step 0 as a stream.
# ---------------------------------------------------------------------------


@register(
    "stream_url_dedup",
    # ground truth from the synthesis arithmetic (the url_canonical_dedup
    # recipe): every alias class canonicalizes to the rid's base URL, the
    # %5=4 class to its sorted-query URL — distinct canonical URLs are
    # pure event_id math
    oracle=f"""
    SELECT DISTINCT
           {_canonical_url_sql("event_id", "Frontier", "/page/")}
             AS canonical_url
    FROM events
    """,
)
def q_stream_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL dedup as a STREAM: discovered URLs arrive on
    the event stream (synthesized messy aliases, five mess classes per
    resource — the ``url_canonical_dedup`` fixture), are canonicalized
    in-flight (`functions/urls.py:url_canonicalize`, pure Catalyst, no
    state), and deduped with ``dropDuplicatesWithinWatermark`` keyed on
    the canonical form — the streaming twin of batch
    ``url_canonical_dedup``, i.e. the fetch-scheduler front of a live
    crawl: each canonical URL is emitted exactly once WITHIN the 2-hour
    watermark horizon; key state expires with the watermark, so the
    store holds the recent frontier, not crawl history — a URL
    re-discovered after its state expired re-emits, which is the
    correct frontier semantics (refetch window), NOT a global-history
    dedup (that is the batch twin's job). The oracle's global DISTINCT
    equivalence holds because the finite fixture drains in one
    AvailableNow micro-batch, inside which no state expires; an
    unbounded deployment should size the watermark to its refetch
    policy. The oracle states the expected distinct canonical set
    directly from the event_id arithmetic, so the hash check certifies
    canonicalization + streaming dedup against ground truth."""
    from bcg_contacts_data_pipeline_spark import streaming as S
    from bcg_contacts_data_pipeline_spark.functions.urls import (
        url_canonicalize,
    )

    st = S.events_stream(spark, sf_dir)
    messy = _messy_url("event_id", "Frontier", "/page/")
    urls = st.select(
        "ts", url_canonicalize(messy).alias("canonical_url")
    )
    dd = S.dedup_within_watermark(urls, ["canonical_url"], "ts", "2 hours")
    return S.run_available_now(
        dd.select("canonical_url"), "append", shuffle_partitions=8
    )


# ---------------------------------------------------------------------------
# The full crawl-curation ladder composed into ONE query.
# ---------------------------------------------------------------------------

_CRAWL_QUOTA = 5     # max docs kept per host
_CRAWL_MIN_WORDS = 24  # quality gate on the paragraph-deduped text


@register(
    "crawl_curation_e2e",
    # one CTE chain, each leg the proven oracle pattern of its
    # standalone query: URL survivors from the alias-class arithmetic
    # (url_canonical_dedup), paragraph dedup verbatim from
    # paragraph_dedup's oracle, then the quality + quota legs as plain
    # window SQL
    oracle=f"""
    WITH v AS (
      SELECT doc_id, text,
             {_canonical_url_sql("doc_id", "Crawl", "/item/")} AS curl,
             'crawl' || CAST((doc_id // 5) % 50 AS VARCHAR)
               || '.example.com' AS host
      FROM documents
    ),
    surv AS (
      SELECT doc_id, text, host FROM (
        SELECT *, row_number() OVER (PARTITION BY curl ORDER BY doc_id)
               AS urn
        FROM v) WHERE urn = 1
    ),
    toks AS (
      SELECT doc_id, host,
             CASE WHEN text IS NULL OR trim(text) = ''
                  THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS w
      FROM surv
    ),
    sized AS (
      SELECT doc_id, host, w,
             CAST(ceil(len(w) / {_PARA_K}.0) AS BIGINT) AS n_paras
      FROM toks
    ),
    paras AS (
      SELECT doc_id, host, n_paras,
             CAST(unnest(range(0, n_paras)) AS BIGINT) AS para_idx,
             unnest(list_transform(range(0, n_paras),
               i -> array_to_string(
                      w[(i*{_PARA_K}+1):(i*{_PARA_K}+{_PARA_K})], ' '))) AS para
      FROM sized
    ),
    kept AS (
      SELECT doc_id, host, n_paras, para_idx, para,
             row_number() OVER (
               PARTITION BY para ORDER BY doc_id, para_idx) AS rn
      FROM paras WHERE para <> ''
    ),
    rebuilt AS (
      SELECT doc_id, host, max(n_paras) AS n_paras,
             CAST(count(*) AS BIGINT) AS paras_kept,
             string_agg(para, ' ' ORDER BY para_idx) AS text_dedup
      FROM kept WHERE rn = 1 GROUP BY doc_id, host
    ),
    quality AS (
      SELECT * FROM rebuilt
      WHERE len(string_split_regex(trim(text_dedup), '\\s+'))
            >= {_CRAWL_MIN_WORDS}
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY host
               ORDER BY length(text_dedup) DESC, doc_id) AS rk
      FROM quality
    )
    SELECT doc_id, host, n_paras, paras_kept,
           md5(text_dedup) AS dedup_md5
    FROM ranked WHERE rk <= {_CRAWL_QUOTA}
    ORDER BY doc_id
    """,
)
def q_crawl_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-curation ladder END-TO-END as one Spark plan — what a
    user actually runs on a crawl snapshot, certifying the LEG HANDOFFS
    the standalone queries cannot see (URL survivors feeding paragraph
    dedup, rebuilt text feeding the quality gate, quality survivors
    feeding the per-host quota):

    1. URL-level dedup (``url_canonical_dedup``'s fixture + operator):
       five messy alias classes per resource canonicalize in-flight;
       one fetch survives per canonical URL (min doc_id).
    2. Paragraph-level corpus dedup (``operators/dedup.py:
       paragraph_dedup``) over the URL survivors; documents rebuilt
       from first-occurrence paragraphs.
    3. Quality gate: rebuilt docs under {min_words} whitespace tokens
       drop (the CCNet shape — dedup first, THEN length-filter the
       residue).
    4. Per-host quota (``domain_quota_sample``'s cap): top {quota} docs
       per host by surviving-text length, doc_id tiebreak.

    Scale shape: every leg is a groupBy/window on a high-cardinality
    key (canonical URL, paragraph md5, doc id, host) — no
    corpus×corpus joins anywhere; the one text-carrying shuffle is the
    URL-dedup winner agg, the same single-pass shape exact content
    dedup pays. The host-partitioned quota window is bounded by the
    quality survivors per host, not the corpus.
    """
    from bcg_contacts_data_pipeline_spark.functions.text import tokens
    from bcg_contacts_data_pipeline_spark.functions.urls import (
        url_canonicalize,
        url_host,
    )
    from bcg_contacts_data_pipeline_spark.operators.dedup import (
        paragraph_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    messy = _messy_url("doc_id", "Crawl", "/item/")
    canon = docs.select(
        "doc_id", "text", url_canonicalize(messy).alias("curl")
    )

    # leg 1: one fetch per canonical URL — min_by carries the winner's
    # payload through the single text-carrying shuffle. Persisted once:
    # three consumers (the paragraph explode, its spine, the host join)
    # would otherwise each re-run the scan + URL-winner aggregation —
    # exchange reuse is not guaranteed across AQE-replanned branches.
    surv = pin(
        canon.groupBy("curl")
        .agg(F.min_by(F.struct("doc_id", "text"), F.col("doc_id")).alias("w"))
        .select(
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.text").alias("text"),
            url_host("curl").alias("host"),
        )
    )
    # leg 2: corpus-wide paragraph dedup over the survivors
    paras = paragraph_dedup(surv, "doc_id", "text", words_per_para=_PARA_K)
    rebuilt = paras.where(F.col("paras_kept") >= 1).join(
        surv.select("doc_id", "host"), "doc_id"
    )
    # leg 3: quality gate on the deduped residue
    quality = rebuilt.where(
        F.size(tokens(F.col("text_dedup"))) >= _CRAWL_MIN_WORDS
    )
    # leg 4: per-host quota
    w = Window.partitionBy("host").orderBy(
        F.length("text_dedup").desc(), F.col("doc_id").asc()
    )
    return (
        quality.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CRAWL_QUOTA)
        .select(
            "doc_id",
            "host",
            "n_paras",
            "paras_kept",
            F.md5("text_dedup").alias("dedup_md5"),
        )
    )


# guard: under python -OO docstrings are stripped (None) and .format
# would AttributeError at import, taking the whole registry down
if q_crawl_curation_e2e.__doc__:
    q_crawl_curation_e2e.__doc__ = q_crawl_curation_e2e.__doc__.format(
        min_words=_CRAWL_MIN_WORDS, quota=_CRAWL_QUOTA
    )

# ---------------------------------------------------------------------------
# eTLD+1 quota sampling over a mixed ccTLD / private-suffix crawl.
# ---------------------------------------------------------------------------

_ETLD_QUOTA = 8  # engages at every shipped SF (~11 docs/domain at sf0.01)

#: suffix classes the fixture rotates through: a default-rule TLD, two
#: ccTLD second-level hierarchies, and a PRIVATE-section multi-tenant
#: host — the four shapes that make-or-break a real crawl quota.
_ETLD_SUFFIXES = [".ORG", ".Co.UK", ".com.AU", ".GitHub.IO"]
_ETLD_SUFFIXES_SQL = ["org", "co.uk", "com.au", "github.io"]


@register(
    "etld1_quota_sample",
    # ground truth from the synthesis arithmetic: the registrable domain
    # is site{k}.{suffix} regardless of the www. subdomain or the label
    # case — DuckDB states the kept set without any PSL logic, so the
    # hash check certifies the broadcast suffix-match join (exact
    # multi-label rules, private section, subdomain folding, case fold)
    # against an independent statement of the expected answer.
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             'site' || CAST((doc_id // 3) % 11 AS VARCHAR) || '.' ||
             CASE doc_id % 4
               WHEN 0 THEN '{_ETLD_SUFFIXES_SQL[0]}'
               WHEN 1 THEN '{_ETLD_SUFFIXES_SQL[1]}'
               WHEN 2 THEN '{_ETLD_SUFFIXES_SQL[2]}'
               ELSE '{_ETLD_SUFFIXES_SQL[3]}' END AS domain
      FROM documents),
    ranked AS (
      SELECT domain, doc_id, n_chars,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM u)
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= {_ETLD_QUOTA} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           MIN(CASE WHEN rk <= {_ETLD_QUOTA} THEN doc_id END) AS first_kept
    FROM ranked GROUP BY domain
    """,
)
def q_etld1_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling keyed by the TRUE registrable domain
    (eTLD+1, `functions/public_suffix.py:from_url` — broadcast
    suffix-match join against the checked-in public-suffix snapshot).
    The fixture is the adversarial mix the 2-label heuristic gets wrong:
    hosts rotate over four suffix classes (``.org`` default-rule,
    ``.co.uk`` / ``.com.au`` ccTLD second-levels, ``.github.io``
    private-section multi-tenant), half behind a ``www.`` subdomain,
    all mixed-case. The heuristic would key every ``.co.uk`` host as
    ``co.uk`` — ONE bucket for the whole country hierarchy — and
    likewise fold every github.io publisher together; the PSL path
    keys each registrant (``site{{k}}.co.uk``) separately, which the
    arithmetic oracle states independently.

    Scale shape: the PSL match is three broadcast hash joins (no
    shuffle, no UDF — `tests/test_public_suffix.py` pins the plan);
    the quota is one per-domain window shuffle, same as
    ``domain_quota_sample``."""
    from bcg_contacts_data_pipeline_spark.functions.public_suffix import (
        from_url,
    )

    docs = _t(spark, sf_dir, "documents")
    suffix = F.elt(
        (F.col("doc_id") % 4).cast("int") + 1,
        *[F.lit(s) for s in _ETLD_SUFFIXES],
    )
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 8 < 4, F.lit("")).otherwise(F.lit("WWW.")),
        F.lit("Site"),
        (F.expr("doc_id DIV 3") % 11).cast("string"),
        suffix,
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = from_url(
        docs.select("doc_id", "n_chars", url.alias("url")), "url", out="domain"
    ).drop("url").withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rk") <= _ETLD_QUOTA, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.min(F.when(F.col("rk") <= _ETLD_QUOTA, F.col("doc_id"))).alias(
            "first_kept"
        ),
    )


# ---------------------------------------------------------------------------
# Batch URL-frontier history dedup: the batch twin of stream_url_dedup.
# ---------------------------------------------------------------------------


@register(
    "url_frontier_delta",
    # ground truth from the alias-class arithmetic (the
    # url_canonical_dedup recipe): a resource rid's aliases canonicalize
    # to its base URL (+ the sorted-query URL for the %5=4 class);
    # batch = rid % 6 IN (0, 2), history = rid % 3 <> 0, so rid%6==2
    # discoveries are re-discoveries (already in the frontier) and only
    # rid%6==0 canonicals are NEW — stated entirely in event_id math.
    oracle=f"""
    WITH b AS (
      SELECT event_id,
             {_canonical_url_sql("event_id", "Delta", "/page/")} AS cu
      FROM events WHERE (event_id // 5) % 6 IN (0, 2)),
    h AS (
      SELECT DISTINCT
             {_canonical_url_sql("event_id", "Delta", "/page/")} AS cu
      FROM events WHERE (event_id // 5) % 3 <> 0)
    SELECT cu AS canonical_url,
           MIN(event_id) AS first_event,
           CAST(COUNT(*) AS BIGINT) AS n_discoveries
    FROM b WHERE cu NOT IN (SELECT cu FROM h)
    GROUP BY cu
    """,
)
def q_url_frontier_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch URL-frontier HISTORY dedup — the batch twin of
    ``stream_url_dedup`` and the missing half of its disclosed
    semantics: the stream's watermark state is the RECENT frontier
    (refetch window), while global crawl history lives in a persisted
    frontier table that today's discoveries are anti-joined against.
    Fixture: discovered URLs synthesize from event_ids (the
    ``url_canonical_dedup`` five-alias mess classes); the frontier
    history is every resource with ``rid % 3 != 0``, today's discovery
    batch every alias of resources with ``rid % 6 IN (0, 2)`` — so
    rid%6==2 discoveries are RE-discoveries the history filter must
    drop, rid%6==0 resources are genuinely new (two canonicals each:
    the base URL and the sorted-query variant). Output is the frontier
    DELTA: each new canonical URL with its first discovering event and
    discovery count — exactly the rows a daily pipeline appends to the
    frontier table as tomorrow's state.

    Scale shape: the incremental-family contract — in-batch alias
    collapse and the history anti-probe fold into ONE pass keyed on the
    canonical URL (r14, guide §2.4): each qualifying discovery-log row
    canonicalizes once and carries two flags (in today's batch / in the
    frontier history), a single groupBy computes the batch aggregates
    over flagged rows plus ``max(in_history)``, and the anti-join
    becomes a post-aggregation filter — the pre-r14 shape scanned the
    log twice, canonicalized the overlap rows twice, and paid three
    canonical-URL shuffles (batch agg + history DISTINCT + the
    anti-join) for what one map-side-combinable aggregate decides.
    History stays touched only through its canonical index (recomputed
    here from the fixture arithmetic because the oracle needs an
    independent statement of it); at 100 TB the one shuffle is the
    standard new-key probe every crawl scheduler runs."""
    from bcg_contacts_data_pipeline_spark.functions.urls import (
        url_canonicalize,
    )

    ev = _t(spark, sf_dir, "events").select("event_id")
    rid = F.expr("event_id DIV 5")
    canon = url_canonicalize(
        _messy_url("event_id", "Delta", "/page/")
    ).alias("canonical_url")
    in_batch = (rid % 6).isin(0, 2)
    in_hist = rid % 3 != 0

    flagged = ev.filter(in_batch | in_hist).select(
        "event_id", canon, in_batch.alias("__b"), in_hist.alias("__h")
    )
    return (
        flagged.groupBy("canonical_url")
        .agg(
            F.min(F.when(F.col("__b"), F.col("event_id"))).alias(
                "first_event"
            ),
            F.count(F.when(F.col("__b"), F.lit(1))).alias("n_discoveries"),
            F.max("__h").alias("__seen"),
        )
        .filter(~F.col("__seen") & (F.col("n_discoveries") > 0))
        .drop("__seen")
    )


# ---------------------------------------------------------------------------
# Quality-classifier calibration: reliability-diagram bins.
# ---------------------------------------------------------------------------


@register(
    "quality_calibration",
    # the lang_quality oracle's exact-integer-component score, binned
    # into reliability-diagram deciles against the table's labeled lang
    # column; the decimal(27,15) staging makes the per-bin mean of
    # bit-identical doubles associative (engine-exact), the same recipe
    # as every money aggregate in this registry.
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN length(trim(text)) > 0 THEN len({_TOKS_SQL}) ELSE 0 END AS DOUBLE) AS nt,
             CAST(length(text) AS DOUBLE) AS nc,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS pc,
             CAST(CASE WHEN length(trim(text)) > 0
                  THEN len(list_filter({_TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, lower(t))))
                  ELSE 0 END AS DOUBLE) AS st
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
             CASE WHEN nt > 0 THEN
               0.4 * least(nt / 100.0, 1.0)
               + 0.3 * least(st / nt * 3.0, 1.0)
               + 0.3 * (1.0 - least(pc / nc * 10.0, 1.0))
             ELSE 0.0 END AS quality
      FROM counts)
    SELECT CAST(least(floor(quality * 10), 9) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(quality AS DECIMAL(27,15))) AS DOUBLE) / COUNT(*)
             AS avg_quality,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS frac_en
    FROM scored GROUP BY 1
    """,
)
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration of the quality classifier
    (`functions/text.py:quality_score`) against the corpus's labeled
    ``lang`` column: documents bin by score decile; each bin reports
    its mean score (the classifier's stated confidence) next to the
    observed English rate (what a quality-as-English-proxy signal
    actually delivers). The divergence between ``avg_quality`` and
    ``frac_en`` per bin is the calibration error a curation pipeline
    monitors before trusting a score threshold to gate 100 TB of data
    — the text-analysis family's model-evaluation rung (VERDICT r11
    ask #8 option b).

    Engine-exactness: the score is already bit-identical across
    engines (exact integer components, one IEEE expression); the
    per-bin mean stages the doubles through DECIMAL(27,15) so the sum
    is associative (shuffle-order-proof), then one IEEE division —
    the registry's standard recipe. Scale shape: one scan, one
    groupBy on a 10-value key with map-side partials; AQE coalesces
    the post-shuffle partitions."""
    from bcg_contacts_data_pipeline_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", T.quality_score("text").alias("quality")
    )
    en = F.when(F.col("lang") == "en", 1).otherwise(0)
    return (
        scored.withColumn(
            "bin",
            F.least(F.floor(F.col("quality") * 10), F.lit(9)).cast("long"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("quality").cast("decimal(27,15)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_quality"),
            F.sum(en).cast("long").alias("n_en"),
            (F.sum(en).cast("double") / F.count(F.lit(1))).alias("frac_en"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring (span) dedup — the suffix-array rung of the dedup
# ladder (VERDICT r12 ask #8).
#
# The ladder so far covers URL, document (exact hash), paragraph,
# MinHash/SimHash near-dup, and semantic (SemDeDup) dedup; the remaining
# literature rung is Lee et al. 2022's exact substring dedup —
# duplicated token spans >= N tokens shared across otherwise-different
# documents (licence blocks, quoted passages, templated boilerplate).
# The operator (`operators/dedup.py:substring_spans`) re-expresses the
# suffix-array construction as k-gram fingerprint postings + per-
# diagonal maximal-run merge, exact for every span >= k tokens and df-
# capped like every pair generator in this engine.
# ---------------------------------------------------------------------------

# the capped twin (``substring_dedup_capped``) shares every dial with the
# exact query except the per-document occurrence cap, so the pair is
# comparable
_SS_K = 8
_SS_MIN_LEN = 15
_SS_MAX_DF = 64
_SS_OCC_CAP = 4


@register(
    "substring_dedup",
    # The oracle restates the whole pipeline in DuckDB: same single-space
    # tokenization, same md5 gram fingerprints, same 2..max_df df-cap,
    # same diagonal/island run merge — so the hash check certifies every
    # stage (postings, cap, pair join, window arithmetic) end to end.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, str_split(trim(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id, i,
             md5(array_to_string(t[i:i+{_SS_K}-1], ' ')) AS g
      FROM toks, unnest(range(1, len(t)-{_SS_K}+2)) AS r(i)
      WHERE len(t) >= {_SS_K}
    ), keep AS (
      SELECT g FROM grams GROUP BY g
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SS_MAX_DF}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
      FROM grams a JOIN keep USING (g) JOIN grams b USING (g)
      WHERE a.doc_id < b.doc_id
    ), runs AS (
      SELECT doc_a, doc_b, ia, ib, ia - ib AS diag,
             ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
                                     ORDER BY ia) AS run
      FROM pairs
    ), spans AS (
      SELECT doc_a, doc_b, MIN(ia) AS a_start, MIN(ib) AS b_start,
             MAX(ia) - MIN(ia) + {_SS_K} AS len_tokens
      FROM runs GROUP BY doc_a, doc_b, diag, run
    )
    SELECT doc_a, doc_b,
           CAST(a_start AS BIGINT) AS a_start,
           CAST(b_start AS BIGINT) AS b_start,
           CAST(len_tokens AS BIGINT) AS len_tokens
    FROM spans WHERE len_tokens >= {_SS_MIN_LEN}
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans >= {min_len} tokens across the
    documents corpus (k-gram postings + diagonal run merge — see
    `operators/dedup.py:substring_spans` for the full scale design).
    Reference scope note: the reference pipeline is contacts-TSV only;
    this is beyond-reference training-data surface (Lee et al. 2022)."""
    spans = substring_spans(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=_SS_K,
        min_len=_SS_MIN_LEN,
        max_df=_SS_MAX_DF,
    )
    # House convention for growth-bound outputs (r13 post-close hygiene
    # rule, extended to the find-half per VERDICT r13 ask #1): NO global
    # orderBy — the span output is exactly what grows fastest with
    # duplication (the query's own 100x SCALE row is output-bound), so a
    # range shuffle of it is pure waste and the compare is
    # order-insensitive anyway.
    return spans.select(
        "doc_a",
        "doc_b",
        F.col("a_start").cast("long").alias("a_start"),
        F.col("b_start").cast("long").alias("b_start"),
        F.col("len_tokens").cast("long").alias("len_tokens"),
    )


@register(
    "substring_dedup_trim",
    # Same full-pipeline restatement as substring_dedup, extended by the
    # coverage expansion, the anti-join, and the ordered rebuild — so
    # the hash check certifies the trim semantics (keep the lowest-id
    # occurrence, drop covered tokens everywhere else) end to end.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, str_split(trim(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id, i,
             md5(array_to_string(t[i:i+{_SS_K}-1], ' ')) AS g
      FROM toks, unnest(range(1, len(t)-{_SS_K}+2)) AS r(i)
      WHERE len(t) >= {_SS_K}
    ), keep AS (
      SELECT g FROM grams GROUP BY g
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SS_MAX_DF}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
      FROM grams a JOIN keep USING (g) JOIN grams b USING (g)
      WHERE a.doc_id < b.doc_id
    ), runs AS (
      SELECT doc_a, doc_b, ia, ib, ia - ib AS diag,
             ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
                                     ORDER BY ia) AS run
      FROM pairs
    ), spans AS (
      SELECT doc_a, doc_b, MIN(ia) AS a_start, MIN(ib) AS b_start,
             MAX(ia) - MIN(ia) + {_SS_K} AS len_tokens
      FROM runs GROUP BY doc_a, doc_b, diag, run
      HAVING MAX(ia) - MIN(ia) + {_SS_K} >= {_SS_MIN_LEN}
    ), covered AS (
      SELECT DISTINCT doc_b AS doc_id, b_start + u.i AS p
      FROM spans, unnest(range(0, len_tokens)) AS u(i)
    ), pos AS (
      SELECT doc_id, i AS p, t[i] AS tok
      FROM toks, unnest(range(1, len(t)+1)) AS r(i)
    ), kept AS (
      SELECT pos.doc_id, pos.p, pos.tok
      FROM pos ANTI JOIN covered USING (doc_id, p)
    )
    SELECT toks.doc_id,
           CAST(len(toks.t) AS BIGINT) AS n_tokens,
           CAST(len(toks.t) - COUNT(kept.p) AS BIGINT) AS dup_tokens,
           md5(COALESCE(string_agg(kept.tok, ' ' ORDER BY kept.p), ''))
             AS trim_md5
    FROM toks LEFT JOIN kept ON kept.doc_id = toks.doc_id
    GROUP BY toks.doc_id, len(toks.t)
    """,
)
def q_substring_dedup_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRIM half of Lee et al. 2022 (`operators/dedup.py:
    substring_trim`): every document rebuilt with its cross-document
    duplicated spans removed, first (lowest-id) occurrence kept.
    Completes the find->trim pair begun by ``substring_dedup``.
    House conventions for corpus-sized outputs (the paragraph_dedup
    precedent): NO global orderBy (a full range shuffle of the rebuilt
    corpus buys nothing — the compare is order-insensitive), and the
    rebuilt text ships as its md5 so the compare payload stays
    fixed-width."""
    out = substring_trim(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=_SS_K,
        min_len=_SS_MIN_LEN,
        max_df=_SS_MAX_DF,
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "dup_tokens",
        F.md5("text_trimmed").alias("trim_md5"),
    )


_GR_TOP_N, _GR_DUP_N = 2, 6
_GR_TOP_MAX, _GR_DUP_MAX = 0.20, 0.14


@register(
    "gopher_repetition",
    # Full-pipeline restatement: same tokenization, same md5 grams, the
    # max-count top-gram mass, and the DISTINCT-position duplicated-gram
    # coverage — certifying the overlap-safe coverage arithmetic and
    # both keep thresholds end to end.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, str_split(trim(text), ' ') AS t,
             len(str_split(trim(text), ' ')) AS n
      FROM documents WHERE text IS NOT NULL
    ), g2 AS (
      SELECT doc_id, n, i,
             md5(array_to_string(t[i:i+{_GR_TOP_N}-1], ' ')) AS g
      FROM toks, unnest(range(1, len(t)-{_GR_TOP_N}+2)) AS r(i)
      WHERE n >= {_GR_TOP_N}
    ), top AS (
      SELECT doc_id, MAX(c) * {_GR_TOP_N} AS top_toks
      FROM (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g)
      GROUP BY doc_id
    ), g6 AS (
      SELECT doc_id, i,
             md5(array_to_string(t[i:i+{_GR_DUP_N}-1], ' ')) AS g
      FROM toks, unnest(range(1, len(t)-{_GR_DUP_N}+2)) AS r(i)
      WHERE n >= {_GR_DUP_N}
    ), dup AS (
      SELECT doc_id, g FROM g6 GROUP BY doc_id, g HAVING COUNT(*) >= 2
    ), cov AS (
      SELECT doc_id, COUNT(*) AS covered FROM (
        SELECT DISTINCT g6.doc_id, g6.i + u.o AS p
        FROM g6 JOIN dup USING (doc_id, g),
             unnest(range(0, {_GR_DUP_N})) AS u(o)
      ) GROUP BY doc_id
    )
    SELECT toks.doc_id,
           CAST(toks.n AS BIGINT) AS n_tokens,
           CASE WHEN toks.n > 0
                THEN COALESCE(top.top_toks, 0) * 1.0 / toks.n
                ELSE 0.0 END AS top_frac,
           CASE WHEN toks.n > 0
                THEN COALESCE(cov.covered, 0) * 1.0 / toks.n
                ELSE 0.0 END AS dup_frac,
           (COALESCE(top.top_toks, 0) * 1.0 / toks.n <= {_GR_TOP_MAX}
            AND COALESCE(cov.covered, 0) * 1.0 / toks.n <= {_GR_DUP_MAX})
             AS keep
    FROM toks
    LEFT JOIN top USING (doc_id)
    LEFT JOIN cov USING (doc_id)
    """,
)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition quality filters (`operators/profile.py:
    gopher_repetition`): top-2-gram token mass + duplicated-6-gram
    position coverage per document, with the paper's keep thresholds.
    The within-document rung of the quality family — catches repetition
    no cross-document dedup can see."""
    return gopher_repetition(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        top_n=_GR_TOP_N,
        dup_n=_GR_DUP_N,
        top_frac_max=_GR_TOP_MAX,
        dup_frac_max=_GR_DUP_MAX,
    )  # no global orderBy: corpus-sized output, order-insensitive compare


@register(
    "gopher_quality",
    # Full-pipeline restatement: same whitespace tokenization, same
    # newline line split, same regexes — so the hash check certifies
    # every metric and the composed keep decision end to end. Word =
    # \s+ token; line = \n segment; symbols = '#' chars plus
    # non-overlapping '...' runs (both engines count matches
    # left-to-right, non-overlapping).
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS t,
             str_split(text, chr(10)) AS lines
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
      CAST(len(t) AS BIGINT) AS n_tokens,
      CASE WHEN len(t) > 0
           THEN list_sum(list_transform(t, w -> length(w))) * 1.0 / len(t)
           ELSE 0.0 END AS mean_word_len,
      CASE WHEN len(t) > 0
           THEN ((length(text) - length(replace(text, '#', '')))
                 + len(regexp_extract_all(text, '\.\.\.'))) * 1.0 / len(t)
           ELSE 0.0 END AS symbol_ratio,
      len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))
        * 1.0 / len(lines) AS bullet_frac,
      len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
        * 1.0 / len(lines) AS ellipsis_frac,
      CASE WHEN len(t) > 0
           THEN len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
                * 1.0 / len(t)
           ELSE 0.0 END AS alpha_frac,
      CAST(len(list_intersect(
             list_distinct(list_transform(t, w -> lower(w))),
             ['the','be','to','of','and','that','have','with']))
           AS BIGINT) AS n_stop_hits,
      (len(t) BETWEEN 50 AND 100000
       AND (CASE WHEN len(t) > 0
                 THEN list_sum(list_transform(t, w -> length(w)))
                      * 1.0 / len(t) ELSE 0.0 END) BETWEEN 3.0 AND 10.0
       AND (CASE WHEN len(t) > 0
                 THEN ((length(text) - length(replace(text, '#', '')))
                       + len(regexp_extract_all(text, '\.\.\.')))
                      * 1.0 / len(t) ELSE 0.0 END) <= 0.10
       AND len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))
             * 1.0 / len(lines) < 0.90
       AND len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
             * 1.0 / len(lines) < 0.30
       AND (CASE WHEN len(t) > 0
                 THEN len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
                      * 1.0 / len(t) ELSE 0.0 END) >= 0.80
       AND len(list_intersect(
             list_distinct(list_transform(t, w -> lower(w))),
             ['the','be','to','of','and','that','have','with'])) >= 2
      ) AS keep
    FROM toks
    """,
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The structural half of Gopher's A1.1 quality rules
    (`operators/profile.py:gopher_quality`): word-count and
    mean-word-length bounds, symbol-to-word ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, stop-word presence — the rules
    FineWeb/Dolma/RefinedWeb compose with the repetition pair
    (``gopher_repetition``). Pure projection: zero shuffles at any
    scale."""
    return gopher_quality(_t(spark, sf_dir, "documents"), "doc_id", "text")
    # no global orderBy: corpus-sized output, order-insensitive compare


@register(
    "substring_dedup_capped",
    # The exact-substring oracle (``substring_dedup``) with ONE extra
    # stage: keep only the first occ_cap positions of each gram within
    # each document (row_number over position), restated verbatim so
    # the hash check certifies the cap's keep-lowest-position semantics
    # along with everything downstream of it.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, str_split(trim(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ), grams0 AS (
      SELECT doc_id, i,
             md5(array_to_string(t[i:i+{_SS_K}-1], ' ')) AS g
      FROM toks, unnest(range(1, len(t)-{_SS_K}+2)) AS r(i)
      WHERE len(t) >= {_SS_K}
    ), grams AS (
      SELECT doc_id, i, g FROM (
        SELECT doc_id, i, g,
               row_number() OVER (PARTITION BY doc_id, g ORDER BY i) AS o
        FROM grams0)
      WHERE o <= {_SS_OCC_CAP}
    ), keep AS (
      SELECT g FROM grams GROUP BY g
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SS_MAX_DF}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
      FROM grams a JOIN keep USING (g) JOIN grams b USING (g)
      WHERE a.doc_id < b.doc_id
    ), runs AS (
      SELECT doc_a, doc_b, ia, ib, ia - ib AS diag,
             ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
                                     ORDER BY ia) AS run
      FROM pairs
    ), spans AS (
      SELECT doc_a, doc_b, MIN(ia) AS a_start, MIN(ib) AS b_start,
             MAX(ia) - MIN(ia) + {_SS_K} AS len_tokens
      FROM runs GROUP BY doc_a, doc_b, diag, run
    )
    SELECT doc_a, doc_b,
           CAST(a_start AS BIGINT) AS a_start,
           CAST(b_start AS BIGINT) AS b_start,
           CAST(len_tokens AS BIGINT) AS len_tokens
    FROM spans WHERE len_tokens >= {_SS_MIN_LEN}
    """,
)
def q_substring_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-output production twin of ``substring_dedup``
    (VERDICT r13 ask #4, the ``minhash_recall_capped`` pattern): same
    spans pipeline with ``occ_cap`` postings per (doc, gram), so the
    per-gram pair fan-out is HARD-bounded at (max_df * occ_cap)^2
    instead of growing with within-document gram multiplicity. Exact on
    every corpus where no (doc, gram) multiplicity exceeds the cap;
    the trade is disclosed in `operators/dedup.py:substring_spans`."""
    spans = substring_spans(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=_SS_K,
        min_len=_SS_MIN_LEN,
        max_df=_SS_MAX_DF,
        occ_cap=_SS_OCC_CAP,
    )
    return spans.select(
        "doc_a",
        "doc_b",
        F.col("a_start").cast("long").alias("a_start"),
        F.col("b_start").cast("long").alias("b_start"),
        F.col("len_tokens").cast("long").alias("len_tokens"),
    )  # no global orderBy: growth-bound output, order-insensitive compare


_CURATION_V2_ORACLE = fr"""
WITH {_GATE_SQL},
gt AS (
  SELECT doc_id, str_split(trim(text), ' ') AS t,
         len(str_split(trim(text), ' ')) AS n
  FROM kept),
g2 AS (
  SELECT doc_id, n, md5(array_to_string(t[i:i+1], ' ')) AS g
  FROM gt, unnest(range(1, len(t)-2+2)) AS r(i)
  WHERE n >= 2),
gtop AS (
  SELECT doc_id, MAX(c) * 2 AS top_toks
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g)
  GROUP BY doc_id),
g6 AS (
  SELECT doc_id, i, md5(array_to_string(t[i:i+5], ' ')) AS g
  FROM gt, unnest(range(1, len(t)-6+2)) AS r(i)
  WHERE n >= 6),
gdup AS (SELECT doc_id, g FROM g6 GROUP BY doc_id, g HAVING COUNT(*) >= 2),
gcov AS (
  SELECT doc_id, COUNT(*) AS covered FROM (
    SELECT DISTINCT g6.doc_id, g6.i + u.o AS p
    FROM g6 JOIN gdup USING (doc_id, g), unnest(range(0, 6)) AS u(o)
  ) GROUP BY doc_id),
kept2 AS (
  SELECT k.doc_id, k.text
  FROM kept k JOIN gt USING (doc_id)
  LEFT JOIN gtop USING (doc_id) LEFT JOIN gcov USING (doc_id)
  WHERE (CASE WHEN gt.n > 0 THEN COALESCE(gtop.top_toks, 0) * 1.0 / gt.n
              ELSE 0.0 END) <= 0.20
    AND (CASE WHEN gt.n > 0 THEN COALESCE(gcov.covered, 0) * 1.0 / gt.n
              ELSE 0.0 END) <= 0.14),
ss_toks AS (SELECT doc_id, str_split(trim(text), ' ') AS t FROM kept2),
ss_grams AS (
  SELECT doc_id, i, md5(array_to_string(t[i:i+7], ' ')) AS g
  FROM ss_toks, unnest(range(1, len(t)-8+2)) AS r(i)
  WHERE len(t) >= 8),
ss_keep AS (
  SELECT g FROM ss_grams GROUP BY g
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64),
ss_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
  FROM ss_grams a JOIN ss_keep USING (g) JOIN ss_grams b USING (g)
  WHERE a.doc_id < b.doc_id),
ss_runs AS (
  SELECT doc_a, doc_b, ia, ib, ia - ib AS diag,
         ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
                                 ORDER BY ia) AS run
  FROM ss_pairs),
ss_spans AS (
  SELECT doc_a, doc_b, MIN(ia) AS a_start, MIN(ib) AS b_start,
         MAX(ia) - MIN(ia) + 8 AS len_tokens
  FROM ss_runs GROUP BY doc_a, doc_b, diag, run
  HAVING MAX(ia) - MIN(ia) + 8 >= 15),
ss_cov AS (
  SELECT DISTINCT doc_b AS doc_id, b_start + u.i AS p
  FROM ss_spans, unnest(range(0, len_tokens)) AS u(i)),
ss_pos AS (
  SELECT doc_id, i AS p, t[i] AS tok
  FROM ss_toks, unnest(range(1, len(t)+1)) AS r(i)),
ss_kept AS (
  SELECT ss_pos.doc_id, ss_pos.p, ss_pos.tok
  FROM ss_pos ANTI JOIN ss_cov USING (doc_id, p)),
rebuilt AS (
  SELECT t.doc_id,
         COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '') AS text
  FROM ss_toks t LEFT JOIN ss_kept k ON k.doc_id = t.doc_id
  GROUP BY t.doc_id),
tdocs AS (SELECT doc_id, text FROM rebuilt WHERE length(text) > 0),
{_curation_tail_sql("tdocs", "cur-v2")}"""


@register("curation_pipeline_v2_e2e", oracle=_CURATION_V2_ORACLE)
def q_curation_pipeline_v2_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v1 curation ladder (`curation_frame`) with the
    r13 rungs threaded in (VERDICT r13 ask #6): quality gates ->
    Gopher repetition filter -> exact substring TRIM (cross-document
    duplicated spans removed, first occurrence kept) -> drop docs
    emptied by the trim -> 3-gram Jaccard near-dup pruning over the
    TRIMMED text -> deterministic hash split -> disjoint 200-char
    chunking -> per-split shard accounting. Full-pipeline DuckDB
    oracle, every stage restated.

    Scale shape: each rung inherits its certified operator's contract
    (df-capped pair generation, eager checkpoints only at the caps and
    inside the CC loop); the three frames consumed by multiple
    downstream stages (`kept`, the Gopher-gated corpus, the trimmed
    corpus) are pinned once — the same materialize-what-several-stages-
    read rule the v1 ladder and the near-dup cap follow (`gdocs` was
    unpinned until r14: `substring_trim` reads its input twice — in the
    span finder's cap, and for the rebuild spine — so the whole Gopher
    window pipeline re-executed per read)."""
    # two consumers (gopher metrics, the post-filter semi join)
    kept = _quality_gate(_t(spark, sf_dir, "documents"))

    rep_ok = (
        gopher_repetition(kept, "doc_id", "text")
        .filter(F.col("keep"))
        .select("doc_id")
    )
    # two consumers inside substring_trim (the span finder's cap + spine)
    gdocs = pin(kept.join(rep_ok, "doc_id", "left_semi"))

    trimmed = substring_trim(
        gdocs, "doc_id", "text", k=_SS_K, min_len=_SS_MIN_LEN,
        max_df=_SS_MAX_DF,
    )
    tdocs = pin(
        trimmed.filter(F.length("text_trimmed") > 0).select(
            "doc_id", F.col("text_trimmed").alias("text")
        )
    )
    return _curation_tail(tdocs, "cur-v2")


@register(
    "c4_line_filter",
    # Full-pipeline restatement: same marker-word derivation (the
    # fixture's documents are single-line punctuation-free token soup,
    # so the query derives lined/punctuated text from six marker words
    # — disclosed in the docstring — and the oracle restates the SAME
    # derivation; DuckDB regexp_replace needs the explicit 'g' flag to
    # match Spark's replace-all), same '\n' line split, same terminal-
    # punctuation regex, same whitespace word split, same '[.!?]+'
    # sentence split — so the hash check certifies every rule and the
    # cleaned text end to end (md5 keeps the payload fixed-width).
    oracle=r"""
    WITH derived AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(
                 text,
                 '\bthe\b', '.', 'g'),
                 '\bvalue\b', '!', 'g'),
                 '\bquery\b', '?', 'g'),
                 '\ba\b', chr(10), 'g'),
                 '\bscan\b', 'javascript', 'g'),
                 '\bdup\b', '{lorem ipsum}', 'g') AS text
      FROM documents WHERE text IS NOT NULL
    ), base AS (
      SELECT doc_id, text, str_split(text, chr(10)) AS lines
      FROM derived
    ), cleaned AS (
      SELECT doc_id, text, lines,
             list_filter(lines, l ->
               regexp_matches(l, '[.!?"]\s*$')
               AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
               AND NOT contains(lower(l), 'javascript')) AS kl
      FROM base
    ), scored AS (
      SELECT doc_id, text, lines, kl,
             -- DuckDB array_to_string([]) is NULL; Spark array_join is ''
             COALESCE(array_to_string(kl, chr(10)), '') AS tc
      FROM cleaned
    )
    SELECT doc_id,
      CAST(len(lines) AS BIGINT) AS n_lines,
      CAST(len(kl) AS BIGINT) AS lines_kept,
      CAST(len(list_filter(
             list_transform(regexp_split_to_array(tc, '[.!?]+'),
                            x -> trim(x)),
             x -> x <> '')) AS BIGINT) AS n_sentences,
      contains(lower(text), 'lorem ipsum') AS has_lorem,
      (contains(text, '{') OR contains(text, '}')) AS has_brace,
      (len(list_filter(
             list_transform(regexp_split_to_array(tc, '[.!?]+'),
                            x -> trim(x)),
             x -> x <> '')) >= 5
       AND NOT contains(lower(text), 'lorem ipsum')
       AND NOT (contains(text, '{') OR contains(text, '}'))
      ) AS keep,
      md5(tc) AS clean_md5
    FROM scored
    """,
)
def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning rules (`operators/profile.py:c4_clean`, Raffel
    et al. 2020 section 2.2): terminal-punctuation line retention,
    >=3-words-per-line, javascript-line removal, >=5-sentence /
    lorem-ipsum / curly-bracket page discards — the rung the public C4
    corpus applies before anything else in the quality family.

    Fixture adaptation (disclosed; restated verbatim in the oracle):
    the synthetic documents are single-line punctuation-free token
    soup, on which every C4 rule is vacuous. The query derives
    lined/punctuated text by mapping six marker words — 'the'->'.',
    'value'->'!', 'query'->'?', 'a'->newline, 'scan'->'javascript',
    rare 'dup'->'{lorem ipsum}' — so EVERY rule engages with variance
    (measured at sf0.01: 498/500 docs lose at least one line, 54
    retain at least one, the javascript token lands in ~80% of docs,
    the lorem/brace page rules fire on 25, and keep=true for 4 — every
    output column takes both values). Pure projection either way:
    zero shuffles at any scale (same shape as ``gopher_quality``)."""
    from bcg_contacts_data_pipeline_spark.operators.profile import c4_clean

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    for pat, rep in (
        (r"\bthe\b", "."),
        (r"\bvalue\b", "!"),
        (r"\bquery\b", "?"),
        (r"\ba\b", "\n"),
        (r"\bscan\b", "javascript"),
        (r"\bdup\b", "{lorem ipsum}"),
    ):
        t = F.regexp_replace(t, pat, rep)
    out = c4_clean(
        docs.select("doc_id", t.alias("text")), "doc_id", "text"
    )
    return out.select(
        "doc_id",
        "n_lines",
        "lines_kept",
        "n_sentences",
        "has_lorem",
        "has_brace",
        "keep",
        F.md5("text_clean").alias("clean_md5"),
    )  # no global orderBy: corpus-sized output, order-insensitive compare


@register(
    "c4_span_dedup",
    # Full-pipeline restatement grouped on the span TEXT (the operator's
    # sha2 key is an implementation detail; the oracle needs only equal
    # semantics): same marker-word derivation (content-anchored sentence
    # boundaries — disclosed in the docstring; DuckDB regexp_replace
    # needs the explicit 'g' flag to match Spark's replace-all), same
    # sentence split, same chr(1) span boundary, same keep-first
    # (doc_id, start) convention, same '. ' rebuild join.
    oracle=r"""
    WITH s0 AS (
      SELECT doc_id,
             list_filter(list_transform(
               regexp_split_to_array(
                 regexp_replace(text, '\b(a|the)\b', '.', 'g'),
                 '[.!?]+'), x -> trim(x)),
               x -> x <> '') AS s
      FROM documents WHERE text IS NOT NULL
    ), sized AS (
      SELECT doc_id, s, len(s) AS n FROM s0
    ), spans AS (
      SELECT doc_id, CAST(i AS BIGINT) AS start,
             array_to_string(s[i:i+2], chr(1)) AS sp
      FROM sized, unnest(range(1, n - 3 + 2)) AS r(i)
      WHERE n >= 3
    ), marked AS (
      SELECT doc_id, start,
             row_number() OVER (PARTITION BY sp ORDER BY doc_id, start)
               AS rn,
             COUNT(*) OVER (PARTITION BY sp) AS cnt
      FROM spans
    ), cov AS (
      SELECT DISTINCT doc_id, start + u.o AS p
      FROM marked, unnest(range(0, 3)) AS u(o)
      WHERE cnt >= 2 AND rn > 1
    ), pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS p, s[i] AS sent
      FROM sized, unnest(range(1, n + 1)) AS r(i)
    ), kept AS (
      SELECT pos.doc_id, pos.p, pos.sent
      FROM pos ANTI JOIN cov USING (doc_id, p)
    ), rebuilt AS (
      SELECT sized.doc_id, sized.n,
             COUNT(k.p) AS kc,
             COALESCE(string_agg(k.sent, '. ' ORDER BY k.p), '') AS td
      FROM sized LEFT JOIN kept k USING (doc_id)
      GROUP BY sized.doc_id, sized.n
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_sentences,
           CAST(greatest(n - 3 + 1, 0) AS BIGINT) AS n_spans,
           CAST(n - kc AS BIGINT) AS dup_sentences,
           md5(td) AS dedup_md5
    FROM rebuilt
    """,
)
def q_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's corpus-level three-sentence-span dedup
    (`operators/dedup.py:c4_span_dedup`, Raffel et al. 2020 section
    2.2): every 3-consecutive-sentence window occurring more than once
    corpus-wide (within-document repeats count) keeps its first
    (doc_id, start) occurrence; all other occurrences' sentences are
    removed and the documents rebuilt. Span occurrences shuffle as
    (sha2, doc, start) — the text never leaves the map side; min-struct
    + count(*) are both map-side combinable.

    Fixture adaptation (disclosed; restated verbatim in the oracle):
    the punctuation-free fixture is re-sentenced by mapping the words
    'a' and 'the' to '.' — a CONTENT-anchored boundary, so it is
    shift-invariant: the fixture's cloned token regions yield
    identical sentence runs at any offset, and the dedup path engages
    for real (measured at sf0.01: 57 duplicate span occurrences, 30
    removed, 10 documents trimmed — not a pass-through
    certification)."""
    from bcg_contacts_data_pipeline_spark.operators.dedup import (
        c4_span_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    out = c4_span_dedup(
        docs.select(
            "doc_id",
            F.regexp_replace(F.col("text"), r"\b(a|the)\b", ".").alias(
                "text"
            ),
        ),
        "doc_id",
        "text",
    )
    return out.select(
        "doc_id",
        "n_sentences",
        "n_spans",
        "dup_sentences",
        F.md5("text_dedup").alias("dedup_md5"),
    )  # no global orderBy: corpus-sized output, order-insensitive compare


@register(
    "gopher_dup_lines",
    # Full-pipeline restatement: same 12-marker-word newline derivation
    # (disclosed in the docstring; DuckDB regexp_replace needs 'g'),
    # same space-trim + empty-line exclusion, same distinct/char
    # arithmetic and paper thresholds.
    oracle=r"""
    WITH derived AS (
      SELECT doc_id,
             regexp_replace(text,
               '\b(a|the|table|value|row|key|join|hash|scan|batch|data|line)\b',
               chr(10), 'g') AS text
      FROM documents WHERE text IS NOT NULL
    ), l0 AS (
      SELECT doc_id,
             list_filter(list_transform(str_split(text, chr(10)),
                                        x -> trim(x)),
                         x -> x <> '') AS ls
      FROM derived
    ), m AS (
      SELECT doc_id, len(ls) AS n, len(list_distinct(ls)) AS k,
             COALESCE(list_sum(list_transform(ls, x -> length(x))), 0)
               AS tc,
             COALESCE(list_sum(list_transform(list_distinct(ls),
                                              x -> length(x))), 0) AS dc
      FROM l0
    )
    SELECT doc_id,
      CAST(n AS BIGINT) AS n_lines,
      CAST(k AS BIGINT) AS n_distinct_lines,
      CASE WHEN n > 0 THEN (n - k) * 1.0 / n ELSE 0.0 END
        AS dup_line_frac,
      CASE WHEN tc > 0 THEN (tc - dc) * 1.0 / tc ELSE 0.0 END
        AS dup_char_frac,
      ((CASE WHEN n > 0 THEN (n - k) * 1.0 / n ELSE 0.0 END) <= 0.30
       AND (CASE WHEN tc > 0 THEN (tc - dc) * 1.0 / tc ELSE 0.0 END)
           <= 0.20) AS keep
    FROM m
    """,
)
def q_gopher_dup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate-line rungs of Gopher's repetition table
    (`operators/profile.py:gopher_dup_lines`, Rae et al. 2021 A1.1
    table A1 rows 1-2 — the rows ``gopher_repetition`` does not
    cover): fraction of lines that repeat an earlier line, and the
    character mass inside those repeats, with the paper's 0.30 / 0.20
    keep thresholds. Pure projection: zero shuffles at any scale.

    Fixture adaptation (disclosed; restated verbatim in the oracle):
    the single-line fixture is re-lined by mapping 12 marker words to
    newlines — short inter-marker segments DO repeat within documents
    (measured at sf0.01: 254/500 docs carry duplicate lines, mean
    dup_line_frac 5.7%, and the keep decision flips on 3), so both
    fractions and the threshold pair engage with variance."""
    from bcg_contacts_data_pipeline_spark.operators.profile import (
        gopher_dup_lines,
    )

    docs = _t(spark, sf_dir, "documents")
    derived = docs.select(
        "doc_id",
        F.regexp_replace(
            F.col("text"),
            r"\b(a|the|table|value|row|key|join|hash|scan|batch|data|line)\b",
            "\n",
        ).alias("text"),
    )
    return gopher_dup_lines(derived, "doc_id", "text")
