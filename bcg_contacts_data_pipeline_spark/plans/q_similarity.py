"""Similarity family: near-dup pairs, clusters and nearest neighbours.

Exact and fingerprint dedup, n-gram Jaccard pairs (uncapped, capped,
prefix-filtered, incremental), MinHash/SimHash recall, contamination,
transitive near-dup components (min-label and star), embedding top-k,
LSH/IVF ANN with their capped twins, semantic dedup, projection,
centroids, k-means, int8 quantization, BM25 retrieval and the
near-neighbour triangle census.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import pin
from bcg_contacts_data_pipeline_spark.plans.registry import (
    _JACCARD_BASE_CTES,
    _TOKS_SQL,
    _t,
    capped_edges_sql,
    neardup_pairs,
    reach_sql,
    register,
)


# ---------------------------------------------------------------------------
# Document pipeline: text analysis + dedup (LLM-data extensions)
# ---------------------------------------------------------------------------

@register(
    "exact_dedup",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on normalized content. The shuffle key
    is the 32-char md5, never the document text."""
    from bcg_contacts_data_pipeline_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


@register(
    "fingerprint_dedup",
    oracle=f"""
    SELECT md5(array_to_string(list_sort(list_distinct(
             list_transform({_TOKS_SQL}, t -> lower(t)))), ' ')) AS fingerprint,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS dup_count
    FROM documents
    WHERE length(trim(text)) > 0
    GROUP BY 1
    """,
)
def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set fingerprint dedup (order/multiplicity-insensitive)."""
    from bcg_contacts_data_pipeline_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return (
        docs.select(T.fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("dup_count"))
    )


@register(
    "ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents WHERE length(trim(text)) > 0),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT s.id_a, s.id_b, s.shared,
           sa.n AS size_a, sb.n AS size_b,
           CAST(s.shared AS DOUBLE) / CAST(sa.n + sb.n - s.shared AS DOUBLE) AS jaccard
    FROM shared s
    JOIN sizes sa ON s.id_a = sa.doc_id
    JOIN sizes sb ON s.id_b = sb.doc_id
    WHERE CAST(s.shared AS DOUBLE) / CAST(sa.n + sb.n - s.shared AS DOUBLE) >= 0.05
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via shingle inverted index."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.05)


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

_DOT_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> x[1]::DOUBLE * x[2]::DOUBLE), (acc, v) -> acc + v)"
)


@register(
    "embedding_topk",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_DOT_SQL.format(a='q.embedding', b='c.embedding')}
             / (sqrt({_DOT_SQL.format(a='q.embedding', b='q.embedding')})
                * sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')})) AS score
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
    FROM ranked WHERE rank <= 5
    """,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5. Float math is a sequential double
    fold on BOTH engines (see functions/vectors.py) so scores are
    bit-identical and even the ranking hash-matches."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import embedding_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_topk(emb, "vec_id", "embedding", k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "score"
    )


# ---------------------------------------------------------------------------
# LSH family. The seeded hash FAMILIES (xxhash64 minhash permutations,
# simhash bit votes) are not SQL-expressible, but each operator still gets
# a hash-checked oracle through a provable property:
#
# - minhash/simhash: recall over CONSTRUCTED exact-duplicate pairs. The
#   corpus is the documents table unioned with an id-offset copy of
#   itself; a doc and its copy have identical shingle sets / token
#   streams, hence identical signatures, hence land in identical buckets
#   — so the operator MUST find every constructed pair (deterministic,
#   not probabilistic) and the recall aggregate is exactly 1.0, which
#   DuckDB can state independently. A bucketing/join/dedup bug on either
#   operator breaks the equality. (Near-dup recall below jaccard 1.0 has
#   no guarantee and is exercised by unit tests instead.)
# - embedding_ann_lsh: FULLY SQL-expressible — the seeded hyperplanes are
#   fixed doubles embedded in the oracle as literals; bucket signs and
#   cosine scores reproduce bit-identically via the sequential fold.
# ---------------------------------------------------------------------------

#: Offset added to copied doc ids in the recall corpora; far above any
#: real doc_id at any plausible scale factor.
_COPY_OFFSET = 1 << 40

_RECALL_ORACLE_TMPL = """
    WITH eligible AS (
      SELECT doc_id FROM documents
      WHERE length(trim(text)) > 0 AND len({toks}) >= {min_tokens})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(*) AS BIGINT) AS n_found,
           CAST(COUNT(*) AS DOUBLE) / COUNT(*) AS recall
    FROM eligible
"""


def _recall_frame(found_pairs: DataFrame, truth: DataFrame) -> DataFrame:
    """(n_true, n_found, recall) for constructed true pairs vs the
    candidate pair set (inner-join containment check)."""
    hits = truth.join(found_pairs, ["id_a", "id_b"], "left_semi")
    return truth.agg(F.count(F.lit(1)).alias("n_true")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_found"))
    ).select(
        "n_true",
        "n_found",
        # try_divide: an empty corpus gives n_true=0; ANSI x/0 throws where
        # DuckDB (the oracle engine) yields NULL — try_divide matches it.
        F.try_divide(F.col("n_found").cast("double"), F.col("n_true")).alias(
            "recall"
        ),
    )


def _docs_with_copy(docs: DataFrame) -> DataFrame:
    # row-local explode, not a self-union (r14, guide §2.4): union
    # branches are separate subtrees with zero scan/exchange reuse, so
    # the union form read the documents parquet (text included — the
    # heavy column) TWICE and re-ran every downstream per-branch stage
    # twice; each row now emits (id, id+offset) against one scan
    return docs.select(
        F.explode(
            F.array(F.col("doc_id"), F.col("doc_id") + F.lit(_COPY_OFFSET))
        ).alias("doc_id"),
        "text",
    )


def _sigs_with_copy(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus ∪ id-offset copy at the SIGNATURE level (r14 continuation,
    guide §2.3 — do the heavy per-row work once, then multiply rows):
    the copy's text is identical by construction, so its signature is
    identical, and exploding the ids AFTER the per-row signature
    projection tokenizes/shingles/hashes each text ONCE instead of once
    per copy. Bit-identical to running the signature operator over
    ``_docs_with_copy``: a signature is a pure function of the text, so
    both forms emit the same (id, signature) multiset — pinned by
    tests/test_properties_r14.py's sig-level-copy equivalence tests."""
    rest = [c for c in sigs.columns if c != id_col]
    return sigs.select(
        F.explode(
            F.array(F.col(id_col), F.col(id_col) + F.lit(_COPY_OFFSET))
        ).alias(id_col),
        *rest,
    )


def _emb_with_copy(emb: DataFrame) -> DataFrame:
    """Corpus ∪ id-offset copy for the embedding recall corpora — the
    vector twin of ``_docs_with_copy``, same row-local explode instead
    of a self-union (r14: the union read the embeddings parquet — the
    heavy vector column — once per branch per downstream consumer)."""
    return emb.select(
        F.explode(
            F.array(F.col("vec_id"), F.col("vec_id") + F.lit(_COPY_OFFSET))
        ).alias("vec_id"),
        "embedding",
    )


@register(
    "minhash_recall",
    oracle=_RECALL_ORACLE_TMPL.format(toks=_TOKS_SQL, min_tokens=3),
)
def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16-band LSH over documents + an exact copy of each:
    identical shingle sets => identical signatures => every constructed
    pair is a guaranteed candidate (est_jaccard 1.0 passes the verify
    threshold), so recall over the constructed truth is exactly 1.0.
    Docs with < 3 tokens yield no shingles (no signature) and are
    excluded from the truth on both sides."""
    from bcg_contacts_data_pipeline_spark.functions.text import tokens
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        minhash_lsh_pairs_from_sigs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    # signatures once per text, ids exploded after (_sigs_with_copy)
    pairs = minhash_lsh_pairs_from_sigs(
        _sigs_with_copy(
            minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=64)
        ),
        "doc_id",
        num_hashes=64,
        bands=16,
        verify_threshold=0.5,
    )
    truth = docs.filter(
        (F.length(F.trim("text")) > 0) & (F.size(tokens(F.col("text"))) >= 3)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(_COPY_OFFSET)).alias("id_b"),
    )
    return _recall_frame(pairs, truth)


@register(
    "decontaminate",
    oracle=f"""
    WITH eligible AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 10 = 0 AND length(trim(text)) > 0
        AND len({_TOKS_SQL}) >= 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(*) AS BIGINT) AS n_found,
           CAST(COUNT(*) AS DOUBLE) / COUNT(*) AS recall
    FROM eligible
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: cross-corpus MinHash-LSH join flagging
    training documents that near-match an eval set (here: every 10th doc
    doubles as the 'benchmark'). Each eval doc IS in the corpus, so its
    identical twin pair (id, id) is a provable must-find (same shingles
    => same signature => same bands => est_jaccard 1.0); recall over
    that constructed truth is exactly 1.0, independently stated by the
    oracle. Docs with < 3 tokens have no shingles and are excluded on
    both sides. Same proof shape as minhash_recall, but exercising the
    CROSS-FRAME join path (operators/similarity.py:minhash_lsh_join).

    r14 continuation: the eval set IS a filter of the training corpus
    and a signature is a pure per-row function of the text, so the
    query signs the corpus ONCE and filters the SIGNATURE frame for the
    eval side (filter commutes with the row-local projection —
    bit-identical to re-signing the filtered text). The eval side then
    scans the pinned corpus signatures instead of re-tokenizing/
    re-shingling every tenth document (guide §2.3)."""
    from bcg_contacts_data_pipeline_spark.functions.text import tokens
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        minhash_lsh_join_from_sigs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sl = minhash_signatures(
        docs.select("doc_id", "text"), "doc_id", "text", n=3, num_hashes=64
    )
    sr = sl.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_id"), "sigs"
    )
    pairs = minhash_lsh_join_from_sigs(
        sl, "doc_id", sr, "eval_id",
        num_hashes=64, bands=16, verify_threshold=0.5,
    )
    truth = docs.filter(
        (F.col("doc_id") % 10 == 0)
        & (F.length(F.trim("text")) > 0)
        & (F.size(tokens(F.col("text"))) >= 3)
    ).select(F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b"))
    return _recall_frame(pairs, truth)


@register(
    "simhash_recall",
    oracle=_RECALL_ORACLE_TMPL.format(toks=_TOKS_SQL, min_tokens=1),
)
def q_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 + 8-bit banding (candidate generation COMPLETE for
    hamming <= 7 by pigeonhole) over documents + an exact copy: identical
    token streams => identical signatures => hamming 0 => guaranteed
    found; recall over the constructed truth is exactly 1.0. Docs with no
    tokens produce no signature and are excluded from the truth."""
    from bcg_contacts_data_pipeline_spark.functions.text import tokens
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        simhash64,
        simhash_pairs_from_sigs,
    )

    docs = _t(spark, sf_dir, "documents")
    # signatures once per text, ids exploded after (_sigs_with_copy)
    pairs = simhash_pairs_from_sigs(
        _sigs_with_copy(simhash64(docs, "doc_id", "text")),
        "doc_id",
        max_hamming=7,
    )
    truth = docs.filter(
        (F.length(F.trim("text")) > 0) & (F.size(tokens(F.col("text"))) >= 1)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(_COPY_OFFSET)).alias("id_b"),
    )
    return _recall_frame(pairs, truth)


def _sign_bucket_sql(dim: int, num_planes: int, seed: int) -> str:
    """Oracle twin of ``operators.similarity._sign_buckets``: the
    ``(vec_id, embedding, bucket, nrm)`` rows of ``embeddings``, with the
    seeded hyperplanes embedded as SQL literals (repr round-trips
    doubles exactly), so bucket signs match bit-for-bit."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import _hyperplanes

    terms = []
    for i, plane in enumerate(_hyperplanes(dim, num_planes, seed)):
        lits = ", ".join(repr(x) for x in plane)
        d = _DOT_SQL.format(a="embedding", b=f"[{lits}]")
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END)")
    return f"""
      SELECT vec_id, embedding, {" + ".join(terms)} AS bucket,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings"""


def _ann_lsh_oracle(dim: int = 64, num_planes: int = 6, k: int = 5, seed: int = 42) -> str:
    """Full DuckDB twin of embedding_ann_lsh: the same sign buckets
    (``_sign_bucket_sql``) and in-bucket cosine scores, bit-for-bit."""
    return f"""
    WITH b AS ({_sign_bucket_sql(dim, num_planes, seed)}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_DOT_SQL.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm) AS score
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
    FROM ranked WHERE rank <= {k}
    """


@register("embedding_ann_lsh", oracle=_ann_lsh_oracle())
def q_embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-5 (the scale path for ANN).

    ``num_planes`` is pinned at 6 here ONLY because the DuckDB twin
    embeds the seeded hyperplanes as literals, so both engines must
    agree on the count up front. Production callers should leave the
    operator's default ``num_planes="auto"``, which sizes the plane
    count from a corpus count via ``lsh_num_planes`` (expected bucket
    occupancy <= ~4k rows; see its docstring for the recall/cost dial).
    """
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_ann_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_ann_lsh(emb, "vec_id", "embedding", dim=64, k=5, num_planes=6)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "score"
    )


@register(
    "embedding_neardup",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS aid, b.vec_id AS bid
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
            / (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
               * sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')}))
            >= 0.4),
    mins AS (SELECT bid, MIN(aid) AS min_aid FROM pairs GROUP BY bid)
    SELECT e.vec_id AS doc_id,
           COALESCE(m.min_aid, e.vec_id) AS canonical_id,
           m.bid IS NOT NULL AS is_duplicate
    FROM embeddings e LEFT JOIN mins m ON e.vec_id = m.bid
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup (greedy lowest-id canonical,
    cosine >= 0.4). Scores are bit-identical to DuckDB (sequential double
    fold), so even the threshold comparison hash-matches."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_neardup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup(emb, "vec_id", "embedding", threshold=0.4)


@register(
    "doc_signatures",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS BIGINT) AS n_bpe_tokens,
           list_reduce(list_prepend(0::BIGINT,
                [ascii(x) for x in string_split(text, '')]),
                (acc, ch) -> (acc*31 + ch) % 2147483647) AS rhash
    FROM documents
    """,
)
def q_doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting + rolling-hash document fingerprint — both
    pure expressions (regexp_extract_all / aggregate fold), narrow
    projection, no shuffle."""
    from bcg_contacts_data_pipeline_spark.functions import text as T

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        T.rolling_hash("text").alias("rhash"),
    )


@register(
    "embedding_ann_ivf",
    oracle="""
    SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_true,
           CAST(2 * COUNT(*) AS BIGINT) AS n_found,
           CAST(2 * COUNT(*) AS DOUBLE) / (2 * COUNT(*)) AS recall
    FROM embeddings
    """,
)
def q_embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (1 Lloyd iteration, 16 cells, probe 4) —
    the second scale path for similarity search next to the
    random-hyperplane LSH variant — verified by the constructed-duplicate
    recall pattern (same proof shape as ``minhash_recall``):

    corpus ∪ id-offset copy ⇒ for ANY codebook, identical vectors have
    identical centroid distances, so original and copy land in the SAME
    cell (argmin of identical rows) and each probes its own cell first
    (argsort of the same row). The copy is therefore always a candidate,
    scores cosine 1.0 — strictly above every other neighbor (all corpus
    vectors are distinct, checked at data-gen) — and MUST appear in the
    query's top-k, in both directions. Recall over the constructed truth
    is provably 1.0 and DuckDB states the same count independently; any
    assignment / probe / cell-join / ranking bug breaks the equality.
    """
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_ann_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = embedding_ann_ivf(
        _emb_with_copy(emb), "vec_id", "embedding", n_centroids=16, n_probe=4, k=5
    )
    pairs = out.select(
        F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    # both truth directions from ONE pass over the id column (r14: the
    # fwd ∪ reversed(fwd) union planned the scan twice)
    truth = emb.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_id").alias("id_a"),
                    (F.col("vec_id") + F.lit(_COPY_OFFSET)).alias("id_b"),
                ),
                F.struct(
                    (F.col("vec_id") + F.lit(_COPY_OFFSET)).alias("id_a"),
                    F.col("vec_id").alias("id_b"),
                ),
            )
        ).alias("__t")
    ).select("__t.id_a", "__t.id_b")
    return _recall_frame(pairs, truth)


#: Shared by ``dedup_components`` and ``dedup_components_star``: the two
#: algorithms must produce the same clusters.
_DOC_COMPONENTS_ORACLE = f"""
    WITH {capped_edges_sql("documents")},
    {reach_sql("documents")}
    SELECT CAST(node AS BIGINT) AS doc_id, CAST(comp AS BIGINT) AS component,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS component_size
    FROM reach
    """


@register("dedup_components", oracle=_DOC_COMPONENTS_ORACLE)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: ngram-Jaccard pairs (>= 0.2) closed
    under connectivity via iterated min-label propagation. The oracle
    recomputes the same closure with a recursive CTE — every doc gets its
    component (min doc_id) and the component size.

    This is the production cluster view, so pair generation is the
    scale-safe capped form (``NEARDUP_MAX_DF``, mirrored in the oracle's
    ``hot`` CTE): a stop-shingle appearing in f documents would otherwise
    contribute f² rows to the inverted-index self-join before the Jaccard
    filter. The uncapped exact baseline remains the standalone
    ``ngram_jaccard`` query; bounded-pair behaviour through this cluster
    query is asserted in tests/test_skew.py."""
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = neardup_pairs(docs)
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=docs, node_col="doc_id"
    )
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        F.count(F.lit(1)).over(w).alias("component_size"),
    )


# ---------------------------------------------------------------------------
# End-to-end near-dup pruning: LSH pairs -> components -> keep one per
# cluster — the composition a curation pipeline actually ships.
# ---------------------------------------------------------------------------


@register(
    "neardup_prune",
    oracle=f"""
    WITH {capped_edges_sql("documents")},
    {reach_sql("documents")}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r.comp = r.node THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN r.comp = r.node THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
    FROM reach r JOIN documents d ON d.doc_id = r.node
    GROUP BY 1
    """,
)
def q_neardup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline a curation job ships: near-dup pairs
    (ngram Jaccard >= 0.2, posting lists frequency-capped at df <= 100
    so a stop-shingle can never make the inverted-index join quadratic)
    -> transitive clusters -> keep the min-id representative per cluster
    -> per-source survival accounting. Every stage is the scalable form
    (capped exact pair generation — the cap is mirrored in the oracle
    and skew-tested in tests/test_skew.py; checkpointed label
    propagation); the keep rule `node == comp` needs no extra join
    because a component's label IS its min member."""
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = neardup_pairs(docs)
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=docs, node_col="doc_id"
    )
    kept = F.when(F.col("comp") == F.col("node"), 1).otherwise(0)
    return (
        comp.join(
            docs.select("doc_id", "source"),
            comp["node"] == F.col("doc_id"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(F.lit(1) - kept).cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup: transitive cosine clusters over embeddings — the
# embedding-space analogue of `dedup_components` (which clusters on
# n-gram Jaccard). Composition of two existing scale-safe operators:
# blocked exact pair generation + min-label propagation.
# ---------------------------------------------------------------------------

@register(
    "embedding_components",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
            / (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
               * sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')}))
            >= 0.35),
    {reach_sql("embeddings", "pairs", "vec_id")}
    SELECT CAST(node AS BIGINT) AS vec_id, CAST(comp AS BIGINT) AS component,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT)
               AS component_size
    FROM reach
    """,
)
def q_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive semantic-duplicate clusters: cosine >= 0.35 pairs
    (blocked exact scoring, `embedding_pairs`) closed under
    connectivity via min-label propagation. This is the cluster-level
    view `embedding_neardup`'s greedy one-hop canonicalization can't
    give: A~B, B~C with A!~C still lands all three in one cluster, the
    policy used when near-dup groups must be sampled (keep one PER
    CLUSTER) rather than greedily pruned. Duplicate edges from diagonal
    block cells are absorbed by the propagation's min-agg — no distinct
    shuffle spent on them. The oracle recomputes the closure with a
    recursive CTE; cosine scores fold dimension-sequentially on both
    engines, so even threshold-boundary pairs agree bitwise."""
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_pairs(emb, "vec_id", "embedding", threshold=0.35)
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=emb, node_col="vec_id"
    )
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("component"),
        F.count(F.lit(1)).over(w).alias("component_size"),
    )


def _lsh_pairs_sql(threshold: float, num_planes: int) -> str:
    """Oracle twin of ``embedding_pairs_lsh`` (dim 64, seed 42): the
    ``bk -> pairs`` CTE chain, without the leading ``WITH``;
    ``pairs(id_a, id_b)`` holds the same-bucket pairs with exact cosine
    >= ``threshold``. The one edge definition of every LSH-graph oracle."""
    cos = _DOT_SQL.format(a="a.embedding", b="b.embedding") + " / (a.nrm * b.nrm)"
    return f"""
    bk AS ({_sign_bucket_sql(64, num_planes, 42)}),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {cos} >= {threshold})"""


@register(
    "embedding_components_ann",
    oracle=f"""
    WITH {_lsh_pairs_sql(0.35, 4)},
    {reach_sql("embeddings", "pairs", "vec_id")}
    SELECT CAST(node AS BIGINT) AS vec_id, CAST(comp AS BIGINT) AS component,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT)
               AS component_size
    FROM reach
    """,
)
def q_embedding_components_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sub-quadratic twin of `embedding_components`: candidate pairs
    come from same-sign-LSH-bucket neighbors only (exact cosine verify
    inside the bucket), then the same min-label closure. This is the
    exact-baseline + scale-twin pairing the profiling queries use
    (numeric_profile / _approx): the exact form is ground truth, the
    banded form is what runs at corpus scale, and BOTH are oracle-exact
    because the seeded hyperplanes embed as SQL literals on the DuckDB
    side. `num_planes` is pinned at 4 only for that literal embedding;
    production callers use the operator's "auto" sizing
    (`lsh_num_planes`). Missing cross-bucket edges lower recall — the
    documented LSH trade — but both engines prune identically, so the
    comparison stays hash-exact."""
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_pairs_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_pairs_lsh(
        emb, "vec_id", "embedding", dim=64, threshold=0.35, num_planes=4
    )
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=emb, node_col="vec_id"
    )
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("component"),
        F.count(F.lit(1)).over(w).alias("component_size"),
    )


# ---------------------------------------------------------------------------
# Near-dup graph introspection: degree distribution of the capped pair
# graph — the health metric a dedup operator watches (a fat tail says the
# cap/threshold is wrong before the CC join melts down).
# ---------------------------------------------------------------------------


@register(
    "neardup_degree_hist",
    oracle=f"""
    WITH {capped_edges_sql("documents")},
    deg AS (
      SELECT d.doc_id,
             COALESCE(e.cnt, 0) AS degree
      FROM documents d
      LEFT JOIN (
        SELECT node, COUNT(*) AS cnt FROM (
          SELECT id_a AS node FROM edges
          UNION ALL SELECT id_b FROM edges) sym
        GROUP BY node) e ON e.node = d.doc_id)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    """,
)
def neardup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the (capped, threshold 0.2) near-dup pair
    graph, zero-degree docs included — the operational dashboard for a
    dedup pass: the mass at degree 0 is the unique corpus, the tail
    width predicts component sizes, and a sudden fat tail is the first
    sign a stop-shingle slipped the cap. Pairs come from the same
    capped generator as dedup_components; degrees are one union+agg
    over the pair list (each edge contributes to both endpoints), then
    a count-of-counts — the Q13 shape over a derived graph."""
    docs = _t(spark, sf_dir, "documents")
    pairs = neardup_pairs(docs)
    # each edge contributes to both endpoints via a row-local explode —
    # a self-union here would re-execute the whole capped pair pipeline
    # for the second endpoint column (union branches share no
    # exchanges/scans; same finding as connected_components' sym)
    deg = (
        pairs.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        docs.select("doc_id")
        .join(deg, docs["doc_id"] == deg["node"], "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the keyword-search scoring a curation pipeline
# uses for targeted corpus slicing (find docs about X to up/down-sample).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "vector", "stream")


def _bm25_oracle() -> str:
    tf = {
        t: f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        for t in _BM25_TERMS
    }
    dfsum = {
        t: f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        for t in _BM25_TERMS
    }
    idf = {
        t: (
            f"((CAST(n_docs AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        )
        for t in _BM25_TERMS
    }
    ts = {
        t: (
            f"({idf[t]} * ((tf_{t} * 2.2) / (tf_{t} + 1.2 *"
            f" (0.25 + 0.75 * (dl / (CAST(sdl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))"
        )
        for t in _BM25_TERMS
    }
    t1, t2, t3 = (_BM25_TERMS[0], _BM25_TERMS[1], _BM25_TERMS[2])
    return f"""
    WITH tok AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    feat AS (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS dl,
             {tf[t1]} AS tf_{t1},
             {tf[t2]} AS tf_{t2},
             {tf[t3]} AS tf_{t3}
      FROM tok),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(dl AS BIGINT)) AS BIGINT) AS sdl,
             {dfsum[t1]} AS df_{t1},
             {dfsum[t2]} AS df_{t2},
             {dfsum[t3]} AS df_{t3}
      FROM feat)
    SELECT doc_id,
           CAST({ts[t1]} + {ts[t2]} + {ts[t3]} AS DOUBLE) AS score
    FROM feat, stats
    ORDER BY score DESC, doc_id
    LIMIT 10
    """


@register("bm25_topk", oracle=_bm25_oracle())
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-10 for a fixed three-term query over
    the documents table. Rational idf variant — (N - df + 0.5)/(df + 0.5)
    without the log: the log is monotone in idf so single-term rankings
    are identical, and dropping it keeps every arithmetic step an IEEE
    op written in the SAME order in both engines (ln() rounding is
    libm-specific; this board's contract is hash-exact floats).

    Scale shape: per-doc features (dl, per-term tf) are a narrow
    projection computed in two consumers — the corpus-stats aggregate
    (one row: N, total length, per-term df) and the scoring probe. The
    stats row broadcasts back (1-row crossJoin, the established scalar
    -attach pattern); the top-10 compiles to TakeOrderedAndProject.
    The feature frame is deliberately NOT persisted: it is O(corpus)
    — at 100 TB two narrow scans beat materializing an N-row cache
    (the q15 pin pattern applies to SMALL aggregates only)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    def _eq(term):
        # NB: a default-arg lambda (lambda x, t=term: ...) would be seen
        # by the higher-order-function binder as the 2-ary (element,
        # index) form — close over the term instead
        return lambda x: x == F.lit(term)

    feat = docs.select(
        "doc_id",
        F.size(toks).cast("double").alias("dl"),
        *[
            F.size(F.filter(toks, _eq(t))).cast("double").alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("dl").cast("bigint")).alias("sdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    avgdl = F.col("sdl").cast("double") / F.col("n_docs").cast("double")
    score = None
    for t in _BM25_TERMS:
        idf = (
            F.col("n_docs").cast("double") - F.col(f"df_{t}").cast("double") + F.lit(0.5)
        ) / (F.col(f"df_{t}").cast("double") + F.lit(0.5))
        ts = idf * (
            (F.col(f"tf_{t}") * F.lit(2.2))
            / (
                F.col(f"tf_{t}")
                + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl") / avgdl))
            )
        )
        score = ts if score is None else score + ts
    return (
        feat.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Star-algorithm CC twin: same clusters, O(log n) rounds — the
# high-diameter scale path next to dedup_components' min-label form.
# ---------------------------------------------------------------------------


@register("dedup_components_star", oracle=_DOC_COMPONENTS_ORACLE)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algorithm twin of ``dedup_components``: identical capped pair
    generation and identical cluster semantics (component = min doc_id
    — the same recursive-CTE oracle certifies both), computed by the
    alternating large-star/small-star contraction (Kiveris et al.)
    instead of min-label propagation. Min-label runs diameter-many
    rounds — right for shallow near-dup graphs; the star form contracts
    paths exponentially (O(log n) rounds on ANY graph), making it the
    setting for graphs whose depth you can't bound up front (citation /
    link graphs, long refactor chains in code corpora). Both paths are
    driver-certified against the same oracle, so choosing one is purely
    a physical decision."""
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = neardup_pairs(docs)
    comp = connected_components_star(
        pairs, "id_a", "id_b", nodes=docs, node_col="doc_id"
    )
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        F.count(F.lit(1)).over(w).alias("component_size"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: today's crawl against yesterday's index — the
# production shape (nobody re-hashes 100 TB of history per batch).
# ---------------------------------------------------------------------------


@register(
    "incremental_dedup",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, source,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                 AS content_hash
      FROM documents),
    base_index AS (
      SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 4 <> 0),
    incoming AS (SELECT * FROM hashed WHERE doc_id % 4 = 0),
    kept AS (
      SELECT i.doc_id, i.source,
             (b.content_hash IS NOT NULL) AS dup_of_base,
             (i.doc_id <> MIN(i.doc_id) OVER (PARTITION BY i.content_hash))
                 AS dup_in_batch
      FROM incoming i LEFT JOIN base_index b USING (content_hash))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN dup_of_base THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_of_base,
           CAST(SUM(CASE WHEN NOT dup_of_base AND dup_in_batch
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_in_batch,
           CAST(SUM(CASE WHEN NOT dup_of_base AND NOT dup_in_batch
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_new
    FROM kept GROUP BY source
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shape a daily crawl actually runs: dedupe the INCOMING batch
    (docs with doc_id % 4 = 0, standing in for today's partition)
    against the EXISTING corpus's fingerprint index (everything else)
    plus itself — without re-hashing history per batch (the index is
    hashes only: at 100 TB that is the difference between joining a few
    TB of 16-byte keys and rescanning the corpus). Three verdicts per
    incoming doc, rolled up per source: duplicate-of-base (anti-join
    hit), duplicate-within-batch (min-id window over the batch's own
    hashes — first occurrence wins, later ones drop), or genuinely new.
    One shuffle for the hash join + one for the in-batch window, both
    keyed on the 16-byte hash, never the text."""
    from bcg_contacts_data_pipeline_spark.operators.dedup import content_hash

    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source", content_hash("text").alias("content_hash")
    )
    base_index = (
        hashed.filter(F.col("doc_id") % 4 != 0)
        .select("content_hash")
        .distinct()
        .withColumn("__in_base", F.lit(1))
    )
    incoming = hashed.filter(F.col("doc_id") % 4 == 0)
    w = Window.partitionBy("content_hash")
    kept = incoming.join(base_index, "content_hash", "left").select(
        "source",
        F.col("__in_base").isNotNull().alias("dup_of_base"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("dup_in_batch"),
    )
    t, f = F.lit(1), F.lit(0)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum(F.when(F.col("dup_of_base"), t).otherwise(f))
        .cast("long")
        .alias("n_dup_of_base"),
        F.sum(
            F.when(~F.col("dup_of_base") & F.col("dup_in_batch"), t).otherwise(f)
        )
        .cast("long")
        .alias("n_dup_in_batch"),
        F.sum(
            F.when(~F.col("dup_of_base") & ~F.col("dup_in_batch"), t).otherwise(f)
        )
        .cast("long")
        .alias("n_new"),
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization round trip — the 4x storage lever, its
# error bound verified in-band rather than assumed.
# ---------------------------------------------------------------------------


@register(
    "embedding_quantize_roundtrip",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_reduce(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b))
                 / 127.0 AS scale,
             embedding
      FROM embeddings),
    codes AS (
      SELECT vec_id, scale,
             list_transform(embedding,
                 x -> CASE WHEN scale = 0 THEN 0
                      ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                AS INT) END) AS c,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM q),
    err AS (
      SELECT vec_id, scale,
             list_reduce(c, (a, b) -> a + b) AS code_sum,
             list_reduce(
               list_transform(range(1, len(c) + 1),
                 i -> abs(xs[i] - CAST(c[i] AS DOUBLE) * scale)),
               (a, b) -> greatest(a, b)) AS max_err
      FROM codes)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(code_sum AS BIGINT)) AS BIGINT) AS total_code_sum,
           CAST(SUM(CASE WHEN max_err <= scale / 2.0 + 1e-12
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_in_bound,
           CAST(MIN(CASE WHEN scale > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS all_nonzero_scale
    FROM err
    """,
)
def embedding_quantize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4x
    storage lever every corpus-scale vector store pulls — with its
    error bound verified IN-BAND: for every vector, the max absolute
    reconstruction error must be <= scale/2 (one half quantization
    step), counted into n_in_bound so a rounding regression flips the
    hash. total_code_sum is an exact integer checksum of every code on
    both engines (quantization itself must agree bit-for-bit, not just
    within tolerance — floor(x/scale + 0.5) is the cross-engine-stable
    rounding, see functions/vectors.py). Pure Catalyst higher-order
    functions; at 100 TB this is a narrow projection writing
    struct(scale, codes) next to (or instead of) the float column."""
    from bcg_contacts_data_pipeline_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("xs"),
        quantize_int8("embedding").alias("q"),
    )
    err = q.select(
        F.col("q.scale").alias("scale"),
        F.aggregate(
            F.col("q.codes"), F.lit(0), lambda a, b: a + b
        ).alias("code_sum"),
        F.aggregate(
            F.zip_with(
                "xs",
                dequantize_int8("q"),
                lambda x, d: F.abs(x - d),
            ),
            F.lit(0.0),
            lambda a, b: F.greatest(a, b),
        ).alias("max_err"),
    )
    return err.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("code_sum").cast("long")).alias("total_code_sum"),
        F.sum(
            F.when(F.col("max_err") <= F.col("scale") / 2.0 + 1e-12, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_in_bound"),
        F.min(F.when(F.col("scale") > 0, 1).otherwise(0))
        .cast("long")
        .alias("all_nonzero_scale"),
    )


# ---------------------------------------------------------------------------
# Quantized retrieval: top-k over int8 codes — integer dot products are
# exact on every engine, and 4x less data moves through the scorer.
# ---------------------------------------------------------------------------


@register(
    "embedding_topk_int8",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_reduce(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b))
                 / 127.0 AS scale,
             embedding
      FROM embeddings),
    codes AS (
      SELECT vec_id, scale,
             list_transform(embedding,
                 x -> CASE WHEN scale = 0 THEN 0
                      ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                AS INT) END) AS c
      FROM q),
    queries AS (SELECT * FROM codes WHERE vec_id % 25 = 0),
    scored AS (
      SELECT qs.vec_id AS query_id, cs.vec_id AS neighbor_id,
             CAST(list_reduce(
               list_transform(range(1, len(qs.c) + 1),
                 i -> CAST(qs.c[i] AS BIGINT) * CAST(cs.c[i] AS BIGINT)),
               (a, b) -> a + b) AS BIGINT) AS code_dot
      FROM queries qs JOIN codes cs ON qs.vec_id <> cs.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, code_dot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY code_dot DESC, neighbor_id) AS rk
      FROM scored)
    SELECT query_id, neighbor_id, code_dot, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def embedding_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors per query over QUANTIZED codes — how a corpus-
    scale vector store actually scores (4x less data through the
    scorer, SIMD integer dots). The ranking key is the raw integer code
    dot product. Note the semantics honestly: because each CANDIDATE
    carries its own scale, ranking by code dot is an approximation of
    the float cosine order (it is not a monotone transform of it) —
    the float twin (embedding_topk) is the exact baseline, and
    tests/test_similarity.py asserts a recall@5 floor of the int8
    ranking against it rather than assuming equivalence. The query itself is engine-exact: integer dots
    have no rounding at all, so the oracle matches bit-for-bit. Plan:
    the tiny query side (vec_id % 25 = 0) broadcasts; scoring is a
    zip_with/aggregate projection with a LONG accumulator; top-5 per
    query is one rank window over the scored pairs."""
    from bcg_contacts_data_pipeline_spark.functions.vectors import (
        quantize_int8,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codes = emb.select("vec_id", quantize_int8("embedding").alias("q"))
    queries = codes.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q.codes").alias("qc")
    )
    cand = codes.select(
        F.col("vec_id").alias("neighbor_id"), F.col("q.codes").alias("cc")
    )
    scored = (
        cand.crossJoin(F.broadcast(queries))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # INT accumulator, cast to long at the end: |code| <= 127 so
            # the 64-dim dot is bounded by 64 * 127^2 ~ 2^20 — far inside
            # int range — and skipping the per-element long casts saves
            # ~15% of the scoring pass (the fold is the hot loop here)
            F.aggregate(
                F.zip_with("qc", "cc", lambda a, b: a * b),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            .cast("long")
            .alias("code_dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("code_dot").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "code_dot", "rk")
    )


# ---------------------------------------------------------------------------
# Eval-set contamination scoring: per-doc n-gram overlap fraction.
# ---------------------------------------------------------------------------


@register(
    "contamination_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_transform({_TOKS_SQL}, t -> lower(t)) AS t
      FROM documents WHERE length(trim(text)) > 0),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      FROM toks WHERE len(t) >= 3),
    train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
    ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0)
    SELECT ev.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN train.shingle IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN train.shingle IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination
    FROM ev LEFT JOIN train ON ev.shingle = train.shingle
    GROUP BY ev.doc_id
    """,
)
def contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc contamination: the fraction of each held-out doc's
    distinct 3-gram shingles that occur ANYWHERE in the train split
    (doc_id % 10 != 0; every 10th doc is the eval set, the
    ``decontaminate`` convention). Where ``decontaminate`` proves the
    pair-FINDER (LSH join recall), this is the pair-free QUANTIFIER —
    diffuse overlap spread across many train docs still scores, which
    no single near-dup pair would flag. Spark side joins 8-byte hashed
    shingles (``similarity.ngram_contamination``); the oracle joins the
    shingle STRINGS — hash-of-hashes is injective on token windows up
    to 2^-64, the same equivalence ``ngram_jaccard`` certifies."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_contamination(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        n=3,
    )


# ---------------------------------------------------------------------------
# JL random projection: dimensionality reduction as a narrow projection.
# ---------------------------------------------------------------------------


def _projection_oracle(dim: int = 64, k: int = 16, seed: int = 7) -> str:
    """DuckDB twin of embedding_project: the seeded +-1 matrix embeds as
    SQL literals (repr round-trips doubles exactly); each output dim is
    the same sequential left-fold dot product * the same exact scale,
    so projected values are bit-identical across engines."""
    from bcg_contacts_data_pipeline_spark.functions.vectors import (
        rademacher_matrix,
    )

    matrix = rademacher_matrix(dim, k, seed)
    scale = repr(1.0 / (k**0.5))
    dims = ", ".join(
        f"({_DOT_SQL.format(a='embedding', b='[' + ', '.join(repr(x) for x in row) + ']')}) * {scale}"
        for row in matrix
    )
    sq = "list_reduce(list_transform(proj, p -> p * p), (acc, v) -> acc + v)"
    # pos is 0-based to match Spark's posexplode; the parallel unnests
    # zip element-wise in DuckDB, unrolling the list into scalar rows so
    # the driver's sort-based canonicalizer can hash the output.
    return f"""
    WITH projected AS (
      SELECT vec_id, embedding, [{dims}] AS proj FROM embeddings),
    scored AS (
      SELECT vec_id, proj,
           {sq} / {_DOT_SQL.format(a='embedding', b='embedding')} AS norm_ratio
      FROM projected)
    SELECT vec_id,
           unnest(range(0, len(proj))) AS pos,
           unnest(proj) AS value,
           norm_ratio
    FROM scored
    """


@register("embedding_project", oracle=_projection_oracle())
def embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims (seeded
    Rademacher matrix, ``vectors.random_projection``) plus the per-row
    norm-preservation ratio ||y||^2/||x||^2 — the JL quantity itself,
    carried in-band. Dimensionality reduction is the standard pre-step
    before ANN indexing when input width is the cost driver: 4x fewer
    floats into every downstream distance computation.

    Plan shape: a single narrow projection — k*dim multiply-adds in
    whole-stage codegen, ZERO shuffles, no Python — the kind of op that
    runs at 100 TB at scan speed. Output is EXPLODED to scalar
    ``(vec_id, pos, value, norm_ratio)`` rows (posexplode is narrow: no
    shuffle) so the result is plain-scalar hashable; downstream callers
    wanting the array form project it back with one collect_list.
    Oracle is EXACT, not statistical: the matrix embeds as literals and
    both engines run the identical sequential left-fold, so even the
    float ratios hash-match. The JL concentration property (ratios near
    1) is pinned separately by a unit test; this query pins the
    arithmetic."""
    from bcg_contacts_data_pipeline_spark.functions.vectors import (
        dot_sql,
        rademacher_matrix,
        random_projection_sql,
    )

    emb = _t(spark, sf_dir, "embeddings")
    matrix = rademacher_matrix(64, 16, seed=7)
    # SQL-string build (the normalize_sql treatment): the Column form of
    # this 16x64 projection measured 6371 py4j round-trips / ~2.7 s of
    # pure driver wall per BUILD — the plan-construction bottleneck class
    # tests/test_plans.py's build-time gate pins. Values bit-identical
    # (twin equivalence pinned in tests/test_properties_r7.py).
    projected = emb.selectExpr(
        "vec_id",
        "embedding",
        f"{random_projection_sql('embedding', matrix)} AS proj",
    )
    scored = projected.selectExpr(
        "vec_id",
        "proj",
        f"{dot_sql('proj', 'proj')} / {dot_sql('embedding', 'embedding')}"
        " AS norm_ratio",
    )
    return scored.select(
        "vec_id",
        F.posexplode("proj").alias("pos", "value"),
        "norm_ratio",
    )


# ---------------------------------------------------------------------------
# Distributed vector aggregation: per-label embedding centroids.
# ---------------------------------------------------------------------------


def _centroid_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, pos, mean_val) per-dimension centroid means — the
    distributed core shared by ``embedding_centroids`` (scalar output)
    and ``centroid_arrays`` (array form for k-means). pos is 0-based
    (posexplode). See ``embedding_centroids`` for the determinism
    argument behind the dyadic quantization."""
    emb = _t(spark, sf_dir, "embeddings")
    two40 = F.lit(1099511627776.0)
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return flat.groupBy("label", "pos").agg(
        (
            (
                F.sum(
                    F.floor(F.col("val").cast("double") * two40).cast(
                        "decimal(28,0)"
                    )
                ).cast("double")
                / two40
            )
            / F.count(F.lit(1))
        ).alias("mean_val"),
    )


def centroid_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, centroid: array<double>) — the reassembled per-label
    centroid vectors, for callers that need the array form (the k x d
    broadcast table in ``kmeans_assign_step``). k x d rows reassemble
    into k arrays; the collect_list group is one centroid (d elements),
    never a whole label's worth of input vectors."""
    dims = _centroid_dims(spark, sf_dir)
    return dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )


@register(
    "embedding_centroids",
    oracle="""
    WITH flat AS (
      -- parallel unnests in one SELECT zip element-wise in DuckDB,
      -- giving 0-based (pos, value) rows like Spark's posexplode
      SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    dims AS (
      SELECT label, pos,
             (CAST(SUM(CAST(floor(val * 1099511627776.0) AS DECIMAL(28,0)))
                   AS DOUBLE) / 1099511627776.0) / COUNT(*) AS mean_val
      FROM flat GROUP BY label, pos),
    sizes AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
    SELECT d.label,
           CAST(s.n_vectors AS BIGINT) AS n_vectors,
           d.pos,
           d.mean_val
    FROM dims d JOIN sizes s USING (label)
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the vector
    aggregation every clustering / class-prototype / dataset-cartography
    pass needs. The DISTRIBUTED shape, not the collect shape: posexplode
    to (label, dim, value) rows, ONE groupBy (label, dim) with map-side
    partial aggregation. Output stays in that scalar shape —
    ``(label, n_vectors, pos, mean_val)``, one row per centroid
    dimension — so the result hashes as plain scalars; callers wanting
    the k x d array form use ``centroid_arrays``. Nothing ever
    materializes a whole group of vectors in one task
    (``collect_list(embedding)`` would — the memory cliff at 100 TB
    when a label holds millions of rows); state per reducer key is a
    single running (sum, count).

    Determinism: the mean is over DYADICALLY QUANTIZED values —
    ``floor(val * 2^40)`` is EXACT double arithmetic on float32 inputs
    (a 24-bit mantissa times a power of two: no rounding anywhere),
    summed as an exact integer decimal, so Spark's arbitrary reduce
    order and DuckDB's sequential order cannot diverge; then two
    IEEE divisions in pinned order (by 2^40, then by the count). A
    plain float -> DECIMAL(p,12) cast is NOT engine-stable: it hits
    decimal rounding TIES (Spark HALF_UP vs DuckDB HALF_EVEN —
    observed once across the 32k casts at sf0.01). Quantization error
    is < 2^-40 per element; DECIMAL(28,0) gives the integer sum
    headroom past 10^15 rows per group.
    """
    emb = _t(spark, sf_dir, "embeddings")
    dims = _centroid_dims(spark, sf_dir)
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return dims.join(F.broadcast(sizes), "label").select(
        "label", "n_vectors", "pos", "mean_val"
    )


# ---------------------------------------------------------------------------
# K-means assignment step: broadcast centroids, argmin by squared L2.
# ---------------------------------------------------------------------------

@register(
    "kmeans_assign_step",
    oracle="""
    WITH flat AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    dims AS (
      SELECT label, pos,
             (CAST(SUM(CAST(floor(val * 1099511627776.0) AS DECIMAL(28,0)))
                   AS DOUBLE) / 1099511627776.0) / COUNT(*) AS mean_val
      FROM flat GROUP BY label, pos),
    cents AS (
      SELECT label AS c_label, list(mean_val ORDER BY pos) AS centroid
      FROM dims GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label, c.c_label,
             list_reduce(list_transform(list_zip(e.embedding, c.centroid),
                 x -> (x[1]::DOUBLE - x[2]::DOUBLE)
                      * (x[1]::DOUBLE - x[2]::DOUBLE)),
                 (acc, v) -> acc + v) AS dist
      FROM embeddings e CROSS JOIN cents c),
    assigned AS (
      SELECT vec_id, label, c_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, c_label) AS rk
      FROM scored)
    SELECT label, c_label AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM assigned WHERE rk = 1
    GROUP BY label, c_label
    """,
)
def kmeans_assign_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment step: every vector assigned to its nearest
    label-centroid (squared L2, ties broken by centroid id), output as
    the (true label x assigned label) contingency table — the purity
    check after a clustering pass, and the inner loop of distributed
    k-means. Physical shape: the k x d centroid table (bytes) BROADCASTS
    to every executor; assignment is then one scan of the vectors with
    k sequential-fold distance expressions and a ``min_by`` argmin —
    per-iteration cost is exactly one pass over the data, the property
    that makes Lloyd iterations feasible at 100 TB.

    Cross-engine determinism chain: centroids are the dyadic-exact
    means of ``embedding_centroids`` (bit-identical), the squared-L2
    fold runs in identical element order, so distances are
    bit-identical doubles and the argmin (with the c_label tiebreak)
    picks the same centroid on both engines — integer counts then
    compare exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = centroid_arrays(spark, sf_dir).select(
        F.col("label").alias("c_label"), "centroid"
    )
    sqdist = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "c_label", sqdist.alias("dist")
    )
    assigned = scored.groupBy("vec_id", "label").agg(
        F.min_by("c_label", F.struct("dist", "c_label")).alias(
            "assigned_label"
        )
    )
    return assigned.groupBy("label", "assigned_label").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


# ---------------------------------------------------------------------------
# Triangle counting over the LSH near-neighbor graph.
# ---------------------------------------------------------------------------


@register(
    "triangle_count",
    oracle=f"""
    WITH {_lsh_pairs_sql(0.2, 4)}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
            JOIN pairs e3 ON e3.id_a = e1.id_a
                         AND e3.id_b = e2.id_b) AS n_triangles
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the LSH near-neighbor graph (edges = the
    same deterministic cosine>=0.2 same-bucket pairs the
    ``embedding_components_ann`` family uses): edges, wedges (2-paths),
    and closed triangles — the clustering-coefficient numerator, the
    standard density diagnostic for a near-dup graph before committing
    to transitive closure (a triangle-poor pair graph means clusters
    are chains of borderline matches; triangle-rich means genuine
    clique-like duplicate groups).

    The distributed-join formulation (node-iterator): with every edge
    oriented id_a < id_b, a wedge is e1 JOIN e2 ON e1.id_b = e2.id_a
    and a triangle is a wedge whose closing edge (e1.id_a, e2.id_b)
    exists — three hash joins on edge endpoints, each shuffleable by
    key, no adjacency list ever materialized in one task. At real
    scale the orientation should be by DEGREE (low-degree node first,
    the Cohen/GraphX trick bounding wedges by sum of min-degree^2);
    with the band-bucket-capped pair generators feeding this, the
    id-orientation's wedge count is already bounded by the caps.
    Counts are integers — engine-exact."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_pairs_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # pinned: the edge list feeds FOUR consumers (both wedge sides, the
    # closing-edge probe, and the edge count) and each recompute would
    # re-run the Python bucket-scoring stage — the opposite trade from
    # the ngram no-persist case (large narrow explode); here the frame
    # is SMALL (pairs only) and the recompute is the expensive part
    e = pin(
        embedding_pairs_lsh(
            emb, "vec_id", "embedding", dim=64, threshold=0.2, num_planes=4
        )
    )
    e1 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = e.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    wedges = e1.join(e2, F.col("b") == F.col("b2"))
    closing = e.select(
        F.col("id_a").alias("a3"), F.col("id_b").alias("c3")
    )
    # ONE pass over the wedge frame for both counts (r14, guide §2.4):
    # the former shape aggregated `wedges` once for n_wedges and joined
    # it against `closing` again for n_triangles — the wedge join (the
    # largest frame here) executed twice. A LEFT join preserves every
    # wedge row exactly once when unmatched, and the pair generator
    # guarantees (id_a, id_b) distinct, so count(*) is still the wedge
    # count and count(a3) is exactly the inner-join triangle count.
    closed = wedges.join(
        closing,
        (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        "left",
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    wt = closed.agg(
        F.count(F.lit(1)).alias("n_wedges"),
        F.count("a3").alias("n_triangles"),
    )
    return n_edges.crossJoin(wt)

#: Shared exact-Jaccard-pairs oracle scaffold (3-gram shingles, t=0.5),
#: parameterized only by an extra WHERE clause. Built on by
#: ``prefix_jaccard_pairs`` (no restriction) and ``incremental_neardup``
#: (pairs with a new-batch member).
JACCARD_PAIRS_ORACLE_TEMPLATE = _JACCARD_BASE_CTES + """
    SELECT s.id_a, s.id_b, s.shared,
           sa.n AS size_a, sb.n AS size_b,
           CAST(s.shared AS DOUBLE) / CAST(sa.n + sb.n - s.shared AS DOUBLE)
             AS jaccard
    FROM shared s
    JOIN sizes sa ON s.id_a = sa.doc_id
    JOIN sizes sb ON s.id_b = sb.doc_id
    WHERE CAST(s.shared AS DOUBLE) / CAST(sa.n + sb.n - s.shared AS DOUBLE)
          >= 0.5{extra_where}
    """


# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join (AllPairs/PPJoin rule).
# ---------------------------------------------------------------------------


@register(
    "prefix_jaccard_pairs",
    oracle=JACCARD_PAIRS_ORACLE_TEMPLATE.format(extra_where=""),
)
def prefix_jaccard_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.5 pairs via PREFIX FILTERING — the
    third member of the near-dup join family and the second exact one:

    - ``ngram_jaccard``: full inverted-index join (exact baseline,
      every shared shingle generates candidates);
    - ``minhash_recall`` / ``decontaminate``: banded LSH
      (probabilistic, certified by recall floor);
    - this query: candidates ONLY from each document's rarest-first
      prefix (lossless by the pigeonhole/prefix theorem), then exact
      verification — sub-quadratic candidate generation WITHOUT giving
      up recall = 1.

    The oracle is the declarative full O(shared-shingle) join at the
    same threshold, so the driver's hash check IS the losslessness
    proof of the prefix rule at sf (any missed pair would drop a row).
    Determinism per the operator docstring: integer prefix lengths,
    array_intersect counts, one IEEE division.
    """
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        prefix_filter_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_pairs(
        docs, "doc_id", "text", n=3, t_num=1, t_den=2
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: daily batch vs history, lossless prefix filter.
# ---------------------------------------------------------------------------


@register(
    "incremental_neardup",
    # the full-join oracle restricted to pairs with a new-batch member,
    # built from prefix_jaccard_pairs' shared scaffold so the
    # restriction law cannot drift
    oracle=JACCARD_PAIRS_ORACLE_TEMPLATE.format(
        extra_where="""
      AND (s.id_a % 10 = 0 OR s.id_b % 10 = 0)"""
    ),
)
def incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl INCREMENTAL near-dup: exact 3-gram Jaccard >= 0.5
    pairs touching today's batch (docs with ``doc_id % 10 = 0`` stand in
    for the new crawl; the rest are history), via the lossless prefix
    filter probing the full prefix index — history x history pairs,
    already adjudicated on previous days, are never recomputed.

    The near-dup sibling of ``incremental_dedup`` (exact-hash version):
    together they give the daily-ingest shape both dedup families need
    at 100 TB — join the new batch against a persisted index instead of
    rescanning all pairs. The oracle is the declarative full join
    restricted to pairs with a new member, so the driver's hash check
    proves the incremental candidate rule drops nothing (recall = 1)
    while generating only new x all candidates.
    """
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        prefix_filter_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        t_num=1,
        t_den=2,
        probe_pred=lambda id_col: id_col % 10 == 0,
    )


# ---------------------------------------------------------------------------
# Capped MinHash recall: the 100 TB twin of minhash_recall.
# ---------------------------------------------------------------------------


def _capped_recall_oracle() -> str:

    return _RECALL_ORACLE_TMPL.format(toks=_TOKS_SQL, min_tokens=3)


@register("minhash_recall_capped", oracle=_capped_recall_oracle())
def minhash_recall_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_recall`` with the PRODUCTION hot-bucket cap
    (``max_bucket=100``, `skew.py:cap_keys`). At every
    shipped SF the corpus's identical-text clusters have exactly 2
    members (doc + constructed copy), far under the cap, so the result
    — and the oracle — are identical to the uncapped baseline's
    (recall 1.0). The cap exists for what the uncapped baseline cannot
    survive: SCALE.md's 100x replica makes every cluster 200 identical
    docs, where the complete-candidate set is Θ(clusters·clone²) —
    3.2e9 band-join rows, quadratic BY DESIGN since the baseline must
    emit every true pair. The cap routes such clusters out of pairwise
    scoring (cluster-by-bucket handling is the right tool for 200-way
    clones), keeping the pair generator's output bounded by
    clusters·cap² — this query is the tier-2 scale-probe member for the
    MinHash family (SCALE.md), the uncapped baseline stays the
    completeness certificate at 1x/10x."""
    from bcg_contacts_data_pipeline_spark.functions.text import tokens
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        minhash_lsh_pairs_from_sigs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    # signatures once per text, ids exploded after (_sigs_with_copy)
    pairs = minhash_lsh_pairs_from_sigs(
        _sigs_with_copy(
            minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=64)
        ),
        "doc_id",
        num_hashes=64,
        bands=16,
        verify_threshold=0.5,
        max_bucket=100,
    )
    truth = docs.filter(
        (F.length(F.trim("text")) > 0) & (F.size(tokens(F.col("text"))) >= 3)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(_COPY_OFFSET)).alias("id_b"),
    )
    return _recall_frame(pairs, truth)

#: Declarative twin of the incremental_components query: min-label CC,
#: recomputed FROM SCRATCH by recursive CTE, over the union of
#: (a) yesterday's exact-dup star edges among history docs (same text →
#: min-id representative) and (b) today's t=0.5 jaccard edges touching
#: the new batch (doc_id % 10 = 0) — the same shared edge CTEs, so the
#: edge definition cannot drift from the pair queries'.
INCREMENTAL_CC_ORACLE = _JACCARD_BASE_CTES + f""",
    jedges AS (
      SELECT s.id_a, s.id_b FROM shared s
      JOIN sizes sa ON s.id_a = sa.doc_id
      JOIN sizes sb ON s.id_b = sb.doc_id
      WHERE CAST(s.shared AS DOUBLE) / CAST(sa.n + sb.n - s.shared AS DOUBLE)
            >= 0.5
        AND (s.id_a % 10 = 0 OR s.id_b % 10 = 0)),
    hrep AS (
      SELECT text, MIN(doc_id) AS m FROM documents
      WHERE doc_id % 10 != 0 GROUP BY text),
    hstar AS (
      SELECT h.m AS id_a, d.doc_id AS id_b
      FROM documents d JOIN hrep h ON d.text = h.text
      WHERE d.doc_id % 10 != 0 AND d.doc_id != h.m),
    edges AS (SELECT id_a, id_b FROM jedges
              UNION ALL SELECT id_a, id_b FROM hstar),
    {reach_sql("documents")}
    SELECT node AS doc_id, comp FROM reach
    """


# ---------------------------------------------------------------------------
# Incremental connected components: merge today's edges into yesterday's
# labeling — the clustering leg of the daily-crawl shape.
# ---------------------------------------------------------------------------


@register("incremental_components", oracle=INCREMENTAL_CC_ORACLE)
def q_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl INCREMENTAL clustering: history documents
    (``doc_id % 10 != 0``) carry yesterday's labeling — exact-dup
    clusters, derived by one groupBy (min doc_id per text), the shape a
    warehouse persists; today's batch (``% 10 = 0``) contributes only
    the NEW near-dup edges (the same prefix-filtered incremental
    generator ``incremental_neardup`` certifies — history×history pairs
    are never recomputed). ``graph.incremental_components`` merges them
    by CONTRACTING each old component to its min-id label and
    propagating labels over the tiny contracted graph only. The oracle
    recomputes CC(old-star ∪ new-jaccard edges) from scratch by
    recursive CTE over the shared edge definitions, so the driver's
    hash check proves the contraction algebra exact: the incremental
    merge is bit-identical to the full recompute.

    Scale: the contracted graph has one vertex per AFFECTED component —
    proportional to today's batch and its collisions, never to the
    historical corpus. With a persisted (node, comp) table this keeps
    corpus clustering O(batch) per day at 100 TB.
    """
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        incremental_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        prefix_filter_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 10 != 0)
    # yesterday's labeling: exact-dup components need no CC at all —
    # component label = min doc_id per identical text (NULL text rows
    # hash to NULL, join nothing and label themselves, same as the
    # oracle's star join). The group/join key is sha2-256 of the text,
    # not the text itself (r14, guide §2.3 "shuffle keys, not
    # payloads"): both exchanges carried the FULL document as the key;
    # the hash is the same collision-resistant equality decision
    # paragraph_dedup documents, at 64 bytes per row
    hist_h = hist.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("__h")
    )
    rep = hist_h.groupBy("__h").agg(F.min("doc_id").alias("__m"))
    old_labels = hist_h.join(rep, "__h", "left").select(
        F.col("doc_id").alias("node"),
        F.coalesce("__m", "doc_id").alias("comp"),
    )
    # today's edges: pairs with >= 1 new-batch member (never history
    # x history) — the certified incremental generator
    new_pairs = prefix_filter_pairs(
        docs, "doc_id", "text", n=3, t_num=1, t_den=2,
        probe_pred=lambda c: c % 10 == 0,
    ).select("id_a", "id_b")
    # new docs that collide with nothing still need a label
    new_singletons = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    merged = incremental_components(
        old_labels, new_pairs.unionByName(new_singletons)
    )
    return merged.select(F.col("node").alias("doc_id"), "comp")

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
# SemDeDup-style semantic dedup: the dedup rung above near-dup.
# ---------------------------------------------------------------------------

_SEM_K = 8
_SEM_TAU = 0.8
#: rep-cap for within-cluster scoring; measured doubled-corpus cluster
#: maxima: 140 at sf0.01, 584 at sf0.1 — idle at every shipped SF, so
#: the uncapped DuckDB oracle applies verbatim (the ann_lsh_capped twin
#: recipe). Engages only on the 100x clone replica, where any clone's
#: original sorts into the cap-smallest-id base and scores 1.0.
_SEM_CAP = 1024


def _semantic_dedup_oracle() -> str:
    dot_ee = _DOT_SQL.format(a="embedding", b="embedding")
    dot_ec = _DOT_SQL.format(a="e.embedding", b="c.cvec")
    dot_xy = _DOT_SQL.format(a="x.embedding", b="y.embedding")
    return f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_COPY_OFFSET} AS vec_id, embedding FROM embeddings),
    e AS (
      SELECT vec_id, embedding, sqrt({dot_ee}) AS nrm FROM base),
    c AS (
      SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm
      FROM e ORDER BY vec_id LIMIT {_SEM_K}),
    a AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {dot_ec} / (e.nrm * c.cnrm) DESC, c.cid) AS rn
        FROM e, c) WHERE rn = 1),
    m AS (
      SELECT a.vec_id, a.cluster, e.embedding, e.nrm
      FROM a JOIN e USING (vec_id)),
    p AS (
      SELECT x.vec_id, MAX({dot_xy} / (x.nrm * y.nrm)) AS mp
      FROM m x JOIN m y
        ON x.cluster = y.cluster AND y.vec_id < x.vec_id
      GROUP BY x.vec_id)
    SELECT m.vec_id, m.cluster,
           COALESCE(p.mp, -1.0) AS max_prior,
           COALESCE(p.mp, -1.0) < {_SEM_TAU} AS keep
    FROM m LEFT JOIN p ON m.vec_id = p.vec_id
    """


@register("semantic_dedup", oracle=_semantic_dedup_oracle())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (`operators/similarity.py:
    semantic_dedup`) over the constructed-duplicate corpus (the
    ``minhash_recall`` proof shape): corpus ∪ id-offset copy, so every
    copy has an exact semantic duplicate with a LOWER id — identical
    vectors land in the same cluster for ANY codebook, the copy's
    max-prior cosine is exactly 1.0 >= τ and it must be dropped, while
    every original (no prior above 0.50 on this corpus, measured) must
    be kept. The DuckDB oracle restates the ENTIRE pipeline — seeded
    centroids, cosine assignment with (cos DESC, cid ASC) ties,
    within-cluster lower-id max — so the driver's hash check certifies
    assignment, grouping, scoring and the keep decision bit-for-bit
    (scores on both engines accumulate dimension-sequentially; see
    ``_seq_scores``).

    Scale shape: one broadcast-codebook corpus pass, one shuffle
    (groupBy cluster), per-cluster scoring capped at
    |cluster| x 1024 by the rep-cap ``_SEM_CAP`` (idle at shipped SFs —
    cluster max 584 at sf0.1 vs cap 1024; engages on the 100x clone replica
    where clusters grow ~100x, exact for clone families)."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semantic_dedup(
        _emb_with_copy(emb),
        "vec_id",
        "embedding",
        n_clusters=_SEM_K,
        threshold=_SEM_TAU,
        max_cluster=_SEM_CAP,
    )


# ---------------------------------------------------------------------------
# IVF capped twin: the 100 TB production path for the IVF ANN family.
# ---------------------------------------------------------------------------

#: member-side cap for per-cell scoring. Measured doubled-corpus cell
#: maxima (16 cells, 1 Lloyd iteration): 74 at sf0.01, 290 at sf0.1 —
#: the cap never triggers at any shipped SF, so the query is
#: bit-identical to `embedding_ann_ivf` and SHARES its
#: constructed-duplicate recall oracle. On the 100x clone replica every
#: clone family concentrates in one cell (identical vectors, identical
#: centroid distances) and uncapped in-cell scoring goes locally
#: quadratic — there the cap routes members to representative scoring
#: (|queries| x cap, exact for clones). Same constant as
#: `embedding_ann_lsh_capped`'s max_bucket.
_IVF_MAX_CELL = 512


@register(
    "embedding_ann_ivf_capped",
    oracle="""
    SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_true,
           CAST(2 * COUNT(*) AS BIGINT) AS n_found,
           CAST(2 * COUNT(*) AS DOUBLE) / (2 * COUNT(*)) AS recall
    FROM embeddings
    """,
)
def q_embedding_ann_ivf_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embedding_ann_ivf`` with the PRODUCTION member-side cap
    (``max_cell=512``): bit-identical to the uncapped baseline at every
    shipped SF (cell max 290 at sf0.1 vs cap 512 — the cap is idle, so
    the constructed-duplicate recall proof and its oracle apply
    verbatim), engaged only by the clone-cell degeneracy the 100x
    scale replica manufactures. This query is the tier-2 scale-probe
    member for the IVF family (VERDICT r11 ask #6); the uncapped
    baseline stays the completeness certificate at 1x/10x. Same twin
    recipe as ``embedding_ann_lsh_capped`` / ``minhash_recall_capped``.
    """
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_ann_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = embedding_ann_ivf(
        _emb_with_copy(emb),
        "vec_id",
        "embedding",
        n_centroids=16,
        n_probe=4,
        k=5,
        max_cell=_IVF_MAX_CELL,
    )
    pairs = out.select(
        F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    # both truth directions from ONE pass over the id column (r14: the
    # fwd ∪ reversed(fwd) union planned the scan twice)
    truth = emb.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_id").alias("id_a"),
                    (F.col("vec_id") + F.lit(_COPY_OFFSET)).alias("id_b"),
                ),
                F.struct(
                    (F.col("vec_id") + F.lit(_COPY_OFFSET)).alias("id_a"),
                    F.col("vec_id").alias("id_b"),
                ),
            )
        ).alias("__t")
    ).select("__t.id_a", "__t.id_b")
    return _recall_frame(pairs, truth)
