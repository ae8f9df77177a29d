"""Round-11 surface: the capped ANN twin and the incremental-curation
composition.

- ``embedding_ann_lsh_capped``: the PRODUCTION hot-bucket-capped twin of
  ``embedding_ann_lsh`` (the `minhash_recall_capped` recipe from
  `plans/queries_r10.py`): identical oracle at shipped SFs because the
  cap sits far above the measured bucket maximum, engaged only by the
  clone-cluster degeneracy the 100x scale replica manufactures.
- ``incremental_curation_e2e``: the three certified incremental legs
  (hash dedup -> probe-side near-dup -> CC merge) composed into ONE
  daily-crawl pipeline, oracled by a from-scratch recursive-CTE
  recompute — the STATE HANDOFF between the legs is what this query
  certifies, the thing a real daily pipeline exercises and the legs'
  individual oracles cannot see.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.plans.queries import (
    _ann_lsh_oracle,
    _t,
    register,
)

# ---------------------------------------------------------------------------
# Capped ANN-LSH: the 100 TB twin of embedding_ann_lsh.
# ---------------------------------------------------------------------------

#: In-bucket scoring cap for the registered capped twin. Measured sign-LSH
#: bucket maxima on the shipped corpora (6 planes, seed 42): 24 at sf0.01,
#: 74 at sf0.1 — the cap never triggers at any shipped SF, so the query is
#: bit-identical to the uncapped baseline and SHARES its oracle. The 100x
#: scale replica (SCALE.md) clones every vector 100x; clone families share
#: every sign bit, buckets grow past 3000 members, and in-bucket scoring
#: goes locally quadratic (46.9x wall uncapped) — there the cap routes
#: members to representative scoring and per-bucket cost drops to
#: |bucket| * cap.
_ANN_MAX_BUCKET = 512


@register("embedding_ann_lsh_capped", oracle=_ann_lsh_oracle())
def q_embedding_ann_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embedding_ann_lsh`` with the PRODUCTION in-bucket cap
    (``max_bucket=512``, `operators/similarity.py:embedding_ann_lsh`):
    a bucket over the cap scores every member against only the cap
    smallest-id representatives — exact for clone families (any rep of
    an exact-duplicate cluster scores 1.0), rep-approximate for
    heterogeneous members, and bit-identical to the uncapped baseline
    whenever the cap does not trigger, which at every shipped SF it
    never does (bucket max 74 at sf0.1 vs cap 512) — so the DuckDB
    oracle is the uncapped full twin verbatim. This query is the tier-2
    scale-probe member for the embedding-ANN family (SCALE.md); the
    uncapped baseline stays the completeness certificate at 1x/10x.
    Same twin recipe as ``minhash_recall_capped``."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_ann_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_ann_lsh(
        emb,
        "vec_id",
        "embedding",
        dim=64,
        k=5,
        num_planes=6,
        max_bucket=_ANN_MAX_BUCKET,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        "score",
    )


# ---------------------------------------------------------------------------
# Incremental curation e2e: hash dedup -> probe-side near-dup -> CC merge,
# composed — today's batch against yesterday's state, one label table out.
# ---------------------------------------------------------------------------

from bcg_contacts_data_pipeline_spark.plans.oracle_templates import (  # noqa: E402
    INCREMENTAL_CURATION_ORACLE,
)


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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    messy = _messy_url("doc_id", "Crawl", "/item/")
    canon = docs.select(
        "doc_id", "text", url_canonicalize(messy).alias("curl")
    )
    from bcg_contacts_data_pipeline_spark.operators.pins import pin

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
