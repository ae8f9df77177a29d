"""Round-14 surface: the rest of the Gopher quality rule set, the
bounded-output production twin of exact substring dedup, and the v2
curation ladder that composes the r13 rungs (substring trim + repetition
filter) into the end-to-end pipeline.

Reference scope note: the reference pipeline is contacts-TSV only; all
three queries here are beyond-reference training-data surface (Rae et
al. 2021 appendix A1.1; Lee et al. 2022).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.dedup import (
    substring_spans,
    substring_trim,
)
from bcg_contacts_data_pipeline_spark.operators.profile import (
    gopher_quality,
    gopher_repetition,
)
from bcg_contacts_data_pipeline_spark.plans.queries import _t, register

# mirror plans/queries_r13.py — the capped twin must share every dial
# with the exact query except the cap itself, so the pair is comparable
_SS_K = 8
_SS_MIN_LEN = 15
_SS_MAX_DF = 64
_SS_OCC_CAP = 4


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
    # The exact-substring oracle (plans/queries_r13.py) with ONE extra
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


_CURATION_V2_ORACLE = r"""
WITH flags AS (
  SELECT doc_id, text,
         n_chars >= 100 AS b1,
         len(regexp_split_to_array(trim(text), '\s+')) >= 20 AS b2,
         CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS DOUBLE)
           / len(regexp_split_to_array(trim(text), '\s+')) >= 0.45 AS b3
  FROM documents),
kept AS (SELECT doc_id, text FROM flags WHERE b1 AND b2 AND b3),
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
sh_all AS (
  SELECT doc_id,
         unnest(list_distinct([lower(t[i]) || ' ' || lower(t[i+1]) || ' ' || lower(t[i+2])
                for i in range(1, greatest(len(t)-1, 1))])) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM tdocs WHERE length(trim(text)) > 0)),
hot AS (SELECT s FROM sh_all GROUP BY s HAVING COUNT(*) > 100),
sh AS (SELECT * FROM sh_all WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
edges AS (
  SELECT id_a, id_b FROM shared
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2),
sym AS (SELECT id_a AS u, id_b AS v FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach AS (
  WITH RECURSIVE r(node, lab) AS (
    SELECT doc_id, doc_id FROM tdocs
    UNION
    SELECT s.v, r.lab FROM r JOIN sym s ON s.u = r.node)
  SELECT node, MIN(lab) AS comp FROM r GROUP BY node),
pruned AS (
  SELECT k.doc_id, k.text FROM tdocs k
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
           WHEN CAST(CAST(('0x' || substring(md5('cur-v2:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) < 80 THEN 'train'
           WHEN CAST(CAST(('0x' || substring(md5('cur-v2:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) < 90 THEN 'val'
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


@register("curation_pipeline_v2_e2e", oracle=_CURATION_V2_ORACLE)
def q_curation_pipeline_v2_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v1 curation ladder (`queries_ext.py:curation_frame`) with the
    r13 rungs threaded in (VERDICT r13 ask #6): quality gates ->
    Gopher repetition filter -> exact substring TRIM (cross-document
    duplicated spans removed, first occurrence kept) -> drop docs
    emptied by the trim -> 3-gram Jaccard near-dup pruning over the
    TRIMMED text -> deterministic hash split -> disjoint 200-char
    chunking -> per-split shard accounting. Full-pipeline DuckDB
    oracle, every stage restated.

    Scale shape: each rung inherits its certified operator's contract
    (df-capped pair generation, two-stage combinable shuffles, eager
    checkpoints only inside the CC loop); the three frames consumed by
    multiple downstream stages (`kept`, the Gopher-gated corpus, the
    trimmed corpus) are pinned once — the same hot-set materialization
    rule the v1 ladder and the r13 similarity fix follow (`gdocs` was
    unpinned until r14: `substring_trim` reads its input three times —
    twice in the span finder's gram branches, once for the rebuild
    spine — so the whole Gopher window pipeline re-executed per read)."""
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        assign_split,
    )
    from bcg_contacts_data_pipeline_spark.operators.chunking import (
        chunk_documents,
    )
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.pins import pin
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    words = F.split(F.trim(t), r"\s+")
    ratio = (
        F.size(F.array_distinct(F.split(F.lower(F.trim(t)), r"\s+"))).cast(
            "double"
        )
        / F.size(words)
    )
    # two consumers (gopher metrics, the post-filter semi join)
    kept = pin(
        docs.filter(
            (F.col("n_chars") >= 100) & (F.size(words) >= 20) & (ratio >= 0.45)
        ).select("doc_id", "text")
    )

    rep_ok = (
        gopher_repetition(kept, "doc_id", "text")
        .filter(F.col("keep"))
        .select("doc_id")
    )
    # three consumers inside substring_trim (2x gram branches + spine)
    gdocs = pin(kept.join(rep_ok, "doc_id", "left_semi"))

    trimmed = substring_trim(
        gdocs, "doc_id", "text", k=_SS_K, min_len=_SS_MIN_LEN,
        max_df=_SS_MAX_DF,
    )
    # three consumers (pair generation, CC vertex set, final semi join)
    tdocs = pin(
        trimmed.filter(F.length("text_trimmed") > 0).select(
            "doc_id", F.col("text_trimmed").alias("text")
        )
    )

    pairs = ngram_jaccard_pairs(
        tdocs, "doc_id", "text", n=3, threshold=0.2, max_df=100
    )
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=tdocs, node_col="doc_id"
    )
    reps = comp.filter(F.col("comp") == F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    pruned = tdocs.join(reps, "doc_id", "left_semi")

    chunks = chunk_documents(pruned, "doc_id", "text", size=200, stride=200)
    labeled = chunks.withColumn("split", assign_split("doc_id", seed="cur-v2"))
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
        F.expr("(total_chars - _last) div 5000 + 1").cast("long").alias(
            "n_shards"
        ),
    )


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
    # no global orderBy: corpus-sized output, order-insensitive compare
