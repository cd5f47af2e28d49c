"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2 plus
the training-data-pipeline ops) over the driver-generated testdata
tables; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for every
entry — every exposed query has an exact oracle (per-document DP folds
replay as recursive CTEs, the hash families as XXH64 SQL stage chains).

Column names/types are aligned on both sides; float outputs are either
single IEEE divisions of exact integers (bit-identical across engines)
or casts of exact decimal sums.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from symspellpy_spark.config import (
    DEFAULT_CORPUS_N,
    DistanceAlgorithm,
    EngineConfig,
    Verbosity,
)
from symspellpy_spark.operators.cluster import connected_components
from symspellpy_spark.operators.compound import lookup_compound_batch
from symspellpy_spark.operators.dedup import (
    exact_duplicates,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    normalized_tokens,
    shingles,
    simhash_candidate_pairs,
    simhash_signatures,
    text_to_signatures,
)
from symspellpy_spark.operators.deletes import delete_neighborhood
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import lookup_batch
from symspellpy_spark.operators.segmentation import word_segmentation_batch

TOKEN_RE = "[a-z0-9]+"

# ---------------------------------------------------------------- helpers


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("term"),
    )


def _vocab(docs: DataFrame) -> DataFrame:
    return _tokens(docs).groupBy("term").agg(F.count("*").alias("count"))


_DICT_CACHE: dict[tuple, SparkDictionary] = {}


def _dictionary(
    spark: SparkSession, sf_dir: str, algo: DistanceAlgorithm
) -> SparkDictionary:
    key = (sf_dir, algo)
    if key not in _DICT_CACHE:
        docs = _read(spark, sf_dir, "documents")
        cfg = EngineConfig(
            max_dictionary_edit_distance=2, prefix_length=7, distance_algorithm=algo
        )
        _DICT_CACHE[key] = SparkDictionary.from_words(
            spark, _vocab(docs), cfg
        ).cache()
    return _DICT_CACHE[key]


def _misspelled_queries(docs: DataFrame) -> DataFrame:
    """Deterministic typo set: drop the 2nd char of frequent long terms."""
    return (
        _vocab(docs)
        .where((F.length("term") >= 5) & (F.col("count") >= 10))
        .select(
            F.concat(
                F.substring("term", 1, 1),
                F.expr("substring(term, 3, 2147483647)"),
            ).alias("query")
        )
        .distinct()
    )


_ORACLE_VOCAB = f"""
    WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ),
    vocab AS (
        SELECT term, CAST(count(*) AS BIGINT) AS count FROM tok GROUP BY term
    )
"""

_ORACLE_QUERIES = f"""
    queries AS (
        SELECT DISTINCT substr(term, 1, 1) || substr(term, 3, 2147483647) AS query
        FROM vocab WHERE length(term) >= 5 AND count >= 10
    )
"""

_ORACLE_GRAMS_BODY = f"""
    tok AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
              FROM tok WHERE len(ts) >= 3)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM grams a JOIN grams b USING (g)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT i.doc_a, i.doc_b,
               CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    )
"""

_ORACLE_GRAMS = "\n    WITH " + _ORACLE_GRAMS_BODY

JACCARD_T = 0.15

# ---------------------------------------------------------------- queries


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/D1: corpus -> frequency dictionary (groupBy agg)."""
    return _vocab(_read(spark, sf_dir, "documents"))


def q_deletes_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/D4: symmetric-delete index at d=1, prefix=7 (pure Catalyst)."""
    docs = _read(spark, sf_dir, "documents")
    vocab = _vocab(docs).where(F.col("count") >= 3).select("term")
    cfg = EngineConfig(max_dictionary_edit_distance=1, prefix_length=7)
    return delete_neighborhood(vocab, cfg).select("term", "delete_key")


def q_lookup_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 TOP: best correction per misspelled query (Levenshtein, d=2)."""
    docs = _read(spark, sf_dir, "documents")
    d = _dictionary(spark, sf_dir, DistanceAlgorithm.LEVENSHTEIN)
    return lookup_batch(
        _misspelled_queries(docs), d, Verbosity.TOP, max_edit_distance=2
    ).select("query", "term", F.col("distance").cast("int").alias("distance"), "count")


def q_lookup_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1/Q2 CLOSEST: all suggestions at minimal distance."""
    docs = _read(spark, sf_dir, "documents")
    d = _dictionary(spark, sf_dir, DistanceAlgorithm.LEVENSHTEIN)
    return lookup_batch(
        _misspelled_queries(docs), d, Verbosity.CLOSEST, max_edit_distance=2
    ).select("query", "term", F.col("distance").cast("int").alias("distance"), "count")


def q_lookup_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 ALL: every suggestion within d<=1."""
    docs = _read(spark, sf_dir, "documents")
    d = _dictionary(spark, sf_dir, DistanceAlgorithm.LEVENSHTEIN)
    return lookup_batch(
        _misspelled_queries(docs), d, Verbosity.ALL, max_edit_distance=1
    ).select("query", "term", F.col("distance").cast("int").alias("distance"), "count")


def q_membership_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: max_edit_distance=0 membership + frequency fetch."""
    docs = _read(spark, sf_dir, "documents")
    d = _dictionary(spark, sf_dir, DistanceAlgorithm.LEVENSHTEIN)
    probes = (
        _vocab(docs)
        .where(F.length("term") >= 7)
        .select(F.col("term").alias("query"))
    )
    return lookup_batch(probes, d, Verbosity.TOP, max_edit_distance=0).select(
        "query", "term", F.col("distance").cast("int").alias("distance"), "count"
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 hash-groupBy (all group assignments)."""
    docs = _read(spark, sf_dir, "documents")
    h = docs.select("doc_id", F.md5("text").alias("text_md5"))
    groups = h.groupBy("text_md5").agg(
        F.min("doc_id").alias("group_id"), F.count("*").alias("n_dups")
    )
    return h.join(groups, "text_md5").select("doc_id", "group_id", "n_dups")


def _jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact token-3-gram Jaccard pairs over ``docs`` (the relation the
    ngram_jaccard_pairs / dedup_clusters / corpus_survivors entries
    share): explode -> equi-join-on-gram -> count."""
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0).alias(
            "tokens"
        ),
    ).where(F.size("tokens") >= 3)
    grams = (
        shingles(toks, k=3)
        .select("id", F.explode("shingle_hashes").alias("g"))
        .distinct()
    )
    sizes = grams.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        grams.select("g", F.col("id").alias("doc_a"))
        .join(grams.select("g", F.col("id").alias("doc_b")), "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-3-gram Jaccard pairs (brute-force near-dup baseline).

    Explode->equi-join-on-gram->count shape: only docs sharing a gram
    ever pair up (vs. an O(n^2) cross join), the same plan a 100x corpus
    needs. Gram strings are xxhash64'd before the shuffle so the join
    keys are fixed-width longs.
    """
    return _jaccard_pairs(_read(spark, sf_dir, "documents"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (hash-min label propagation) over the exact
    Jaccard edges."""
    edges = q_ngram_jaccard_pairs(spark, sf_dir)
    return connected_components(
        edges, id_a="doc_a", id_b="doc_b"
    ).select(F.col("id").alias("doc_id"), "cluster_id")


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus (operators/cluster.py::select_canonical):
    every doc in no duplicate cluster plus one deterministic
    representative per cluster — longest text, ties -> smallest id,
    selected via a single min(struct) hash aggregation (no window
    sort). The oracle replays the cluster recursive CTE and picks
    representatives with a row_number window."""
    docs = _read(spark, sf_dir, "documents")
    from symspellpy_spark.operators.cluster import select_canonical

    clusters = q_dedup_clusters(spark, sf_dir)
    return select_canonical(docs, clusters, id_col="doc_id").select("doc_id")


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 10 vectors."""
    emb = _read(spark, sf_dir, "embeddings")
    to_d = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id"), to_d("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), to_d("embedding").alias("cv"))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    from pyspark.sql import Window

    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .withColumn("cos", dot / (norm(F.col("qv")) * norm(F.col("cv"))))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("vec_id", "neighbor_id")
    )


_LSH_DIM, _LSH_TABLES, _LSH_BITS, _LSH_SEED, _LSH_K = 64, 4, 8, 99, 5


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: hyperplane-LSH bucketed candidates + exact
    cosine re-rank (operators/knn.py:109). Oracle-checked EXACTLY: the
    fixed (seed, dim) hyperplanes are embedded as literals in the
    oracle SQL, which replays sign-bucket assignment, the bucket
    equi-join, and the re-rank — so a broken bucket id, candidate join,
    or rank tie-break diverges. This is the plan a 100-TB corpus needs
    (the brute-force cross join in embedding_topk is the baseline)."""
    from symspellpy_spark.operators.knn import lsh_cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return lsh_cosine_topk(
        q,
        emb,
        dim=_LSH_DIM,
        k=_LSH_K,
        n_tables=_LSH_TABLES,
        n_bits=_LSH_BITS,
        seed=_LSH_SEED,
    ).select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))


_IVF_K, _IVF_CENTROIDS, _IVF_PROBE, _IVF_SAMPLE, _IVF_ITERS, _IVF_SEED = (
    5,
    8,
    3,
    400,
    10,
    7,
)


def _ivf_centroids_from(vecs) -> "object":
    """Shared quantizer fit: identical numpy ops on identical input on
    both the Spark side and the oracle side -> bit-identical centroids."""
    import numpy as np

    x = np.asarray(vecs, dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(_IVF_SEED)
    k = min(_IVF_CENTROIDS, len(x))
    cents = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(_IVF_ITERS):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(k):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                n = np.linalg.norm(v)
                if n > 1e-12:
                    cents[c] = v / n
    return cents


def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path B: IVF (operators/knn.py) — coarse-quantizer
    lists + n_probe search + exact re-rank, oracle-checked EXACTLY: the
    quantizer is fit on a deterministic (vec_id-ordered) sample with
    fixed-seed numpy Lloyd's, so the oracle refits the identical
    centroids, embeds them as literals, and replays list assignment,
    the probe equi-join and the re-rank in SQL."""
    from symspellpy_spark.operators.knn import ivf_cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    sample = [
        r["embedding"]
        for r in emb.orderBy("vec_id").limit(_IVF_SAMPLE).collect()
    ]
    cents = _ivf_centroids_from(sample)
    q = emb.where(F.col("vec_id") < 10)
    return ivf_cosine_topk(
        q, emb, cents, k=_IVF_K, n_probe=_IVF_PROBE
    ).select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))


_SEMDEDUP_T = 0.4  # within-list cos values sit >=5e-4 from this at sf<=0.01


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped (operators/knn.py): IVF-cluster
    the embeddings (same deterministic quantizer fit as
    ``ivf_cosine_topk``), drop every vector with a within-list neighbor
    at cos >= threshold and a smaller id. The oracle refits identical
    centroids, embeds them as literals, and replays assignment, the
    within-list pair join and the threshold in SQL."""
    from symspellpy_spark.operators.knn import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings")
    sample = [
        r["embedding"]
        for r in emb.orderBy("vec_id").limit(_IVF_SAMPLE).collect()
    ]
    cents = _ivf_centroids_from(sample)
    return semantic_dedup(emb, cents, threshold=_SEMDEDUP_T).select(
        "vec_id",
        "centroid_id",
        F.col("kept").cast("int").alias("kept"),
    )


def q_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style repeated-segment boilerplate detection
    (operators/dedup.py:boilerplate_segments) over the documents table:
    aligned 8-token segments, boilerplate = appears in >= 2 distinct
    docs; per-doc counts + ratio."""
    from symspellpy_spark.operators.dedup import boilerplate_segments

    docs = _read(spark, sf_dir, "documents")
    return boilerplate_segments(
        docs, seg_len=8, min_docs=2, token_re=TOKEN_RE
    )


def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check
    (operators/dedup.py:ngram_contamination): documents from source
    'src0' play the benchmark; every other document is scored by how
    many of its sliding 8-token grams appear anywhere in the
    benchmark."""
    from symspellpy_spark.operators.dedup import ngram_contamination

    docs = _read(spark, sf_dir, "documents")
    return ngram_contamination(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n=8,
        token_re=TOKEN_RE,
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf-idf with a
    rational idf surrogate ``floor(1e6 * N / df)`` — integer arithmetic
    end-to-end so Spark and the oracle agree bit-exactly. The surrogate
    ranks like ``ln(N/df)`` while adjacent df values map to distinct
    integers (df <= ~sqrt(1e6*N)); beyond that the quantized idf can
    tie terms a float idf would separate — ties break deterministically
    on the term, identically in both engines. Shape: tf and df are two
    hash aggregations with map-side combine; df joins back on the term
    key; per-doc top-3 is a rank window with WindowGroupLimit pushdown;
    N enters as a lazy 1-row broadcast scalar (no eager count job at
    plan-build time), mirroring the oracle's scalar subquery."""
    docs = _read(spark, sf_dir, "documents")
    n_rel = docs.agg(F.count("*").alias("_n"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    from pyspark.sql import Window

    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_rel))
        .withColumn(
            "score", F.expr("tf * ((1000000 * CAST(_n AS BIGINT)) DIV df)")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "score", F.col("rank").cast("int").alias("rank"))
    )


_MIX_RATES = {"en": 60, "de": 30, "fr": 30, "es": 10, "zh": 5}


def q_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture sampling
    (operators/sampling.py:hash_stratified_sample): per-language
    keep-rates decided by ``pmod(xxhash64(doc_id), 100) < rate`` — a
    pure function of the key, so retries/reruns/cluster sizes select
    identical rows. The oracle replays Spark's xxhash64 over the
    little-endian long bit-exactly in SQL (single-8-byte-block XXH64,
    seed 42 — the long twin of the string chain used by the
    simhash_pairs oracle)."""
    from symspellpy_spark.operators.sampling import hash_stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return hash_stratified_sample(
        docs, _MIX_RATES, key_col="doc_id", strata_col="lang"
    ).select("doc_id", "lang", "source")


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    quality-filter family): per document, the most-frequent-bigram
    fraction and the duplicate-8-gram fraction — high values mark
    degenerate/templated text a training filter drops. Counts are exact
    integers; each fraction is ONE division of exact ints (safe for the
    value-hash compare). Shape: pure Catalyst — explode bounded by doc
    length, two partial-combine aggregations, no self-join (repetition
    is per-document, never cross-document)."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0).alias(
            "ts"
        ),
    ).where(F.size("ts") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("ts", 1, F.size("ts") - 1),
                F.slice("ts", 2, F.size("ts") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    bstats = (
        big.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_bigram_count"),
        )
    )
    g8 = (
        toks.where(F.size("ts") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("ts") - 8),
                    lambda i: F.concat_ws(" ", F.slice("ts", i + 1, 8)),
                )
            ).alias("g"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_8grams"),
            F.count_distinct("g").alias("n_distinct_8grams"),
        )
    )
    return (
        bstats.join(g8, "doc_id", "left")
        .select(
            "doc_id",
            "n_bigrams",
            "top_bigram_count",
            (
                F.col("top_bigram_count").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("top_bigram_frac"),
            F.coalesce("n_8grams", F.lit(0)).alias("n_8grams"),
            (
                F.coalesce("n_8grams", F.lit(0))
                - F.coalesce("n_distinct_8grams", F.lit(0))
            ).alias("n_dup_8grams"),
            F.when(F.coalesce("n_8grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                (F.col("n_8grams") - F.col("n_distinct_8grams")).cast("double")
                / F.col("n_8grams").cast("double")
            )
            .alias("dup_8gram_frac"),
        )
    )


def q_gopher_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher/MassiveText repetition family
    (operators/quality.py:gopher_ngram_stats): top-{2,3,4}-gram and
    duplicate-{5..10}-gram CHARACTER fractions (the published measures,
    whitespace-free accounting; duplicate coverage is a position union
    over REPEAT occurrences only — first occurrence excluded, matching
    the published repeat-only calibration)
    plus the gram-count diagnostics, in long form — one row per
    (document, n) with exact integer counts and single-division
    fractions, extending the single-n ``gopher_repetition`` pattern to
    the published filter set. Shape: one fan-out explode bounded by
    |ns| * doc_len, map-side-combined aggregations, and a
    doc-id-keyed occurrence join whose skew is bounded by doc length —
    no self-join."""
    from symspellpy_spark.operators.quality import gopher_ngram_stats

    docs = _read(spark, sf_dir, "documents")
    return gopher_ngram_stats(docs, token_re=TOKEN_RE).withColumnRenamed(
        "id", "doc_id"
    )


def q_gopher_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition-filter verdict
    (operators/quality.py:gopher_quality_filter): keep iff no signal
    exceeds its published MassiveText threshold (top-{2,3,4}-gram
    character fraction, duplicate-{5..10}-gram character fraction;
    strict-greater drop).
    One rollup over the stats relation; docs too short for any n are
    kept. The oracle regenerates the identical threshold CASE ladder
    from the same GOPHER_THRESHOLDS constant."""
    from symspellpy_spark.operators.quality import gopher_quality_filter

    docs = _read(spark, sf_dir, "documents")
    return gopher_quality_filter(docs, token_re=TOKEN_RE).select(
        F.col("id").alias("doc_id"), F.col("keep").cast("int").alias("keep")
    )


def q_passage_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token passage windows per document
    (operators/corpus_prep.py:passage_chunks) — the chunking stage that
    feeds embedding / retrieval indexing and sequence-length-capped
    training examples. Narrow pure-Catalyst plan: no shuffle, fan-out
    bounded by len/stride; chunk boundaries are integer arithmetic so
    the oracle reproduces them bit-exactly."""
    from symspellpy_spark.operators.corpus_prep import passage_chunks

    docs = _read(spark, sf_dir, "documents")
    return passage_chunks(docs, chunk_tokens=64, stride=48)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup, detection half (Lee et al.
    2022 style; operators/corpus_prep.py:duplicate_spans): corpus-
    duplicated 8-token grams — every occurrence except the globally
    first (smallest (id, pos)) — merged into maximal [start, end)
    token spans per document via SQL island detection. Shape: one
    map-side-combined aggregation keyed on the gram + a join back on
    the same key, then a per-document window over ONLY the duplicated
    positions (a small fraction of the corpus). This contract entry
    runs ``hash_grams=False`` so the DuckDB replay is collision-free;
    the production 8-byte ``xxhash64`` shuffle key is pinned equal by
    ``tests/test_corpus_prep.py::test_dup_spans_hash_and_string_grams_agree``."""
    from symspellpy_spark.operators.corpus_prep import duplicate_spans

    docs = _read(spark, sf_dir, "documents")
    return duplicate_spans(docs, k=8, hash_grams=False)


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup, excision half
    (operators/corpus_prep.py:remove_duplicate_spans): documents with
    their duplicated spans cut out, keep-first semantics — the
    globally first occurrence of each duplicated passage survives
    byte-identical, as does every untouched document (the pipeline's
    byte-identical-text invariant). Pure Catalyst: merged spans
    aggregate to one array per affected doc, left-join back on id
    (AQE broadcasts the small side), excision is a filter/exists
    higher-order expression over the token array — no Python."""
    from symspellpy_spark.operators.corpus_prep import remove_duplicate_spans

    docs = _read(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, k=8, hash_grams=False)


def _synth_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url): deterministic fetch-variant URLs from doc_id —
    the synthesis the url_dedup and corpus_survivors entries share."""
    d = F.col("doc_id")
    page = d % 40  # ~12 fetch-variants of each logical page at sf0.01
    return docs.select(
        "doc_id",
        F.concat(
            # noise dimensions vary by doc_id and all canonicalize away;
            # the page identity (host tier, path, ref param) is a pure
            # function of `page`, so variants merge to one canonical URL
            F.when(d % 2 == 0, F.lit("HTTPS://")).otherwise(
                F.lit("https://")
            ),
            F.when(d % 5 == 0, F.lit("WWW.Site")).otherwise(F.lit("site")),
            (page % 5).cast("string"),
            F.lit(".Example.COM"),
            F.when(d % 4 == 0, F.lit(":443"))
            .when(d % 16 == 1, F.lit(":8080"))  # real port: stays distinct
            .otherwise(F.lit("")),
            F.lit("/Articles/"),
            page.cast("string"),
            F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(
                page % 2 == 0,
                F.when(
                    d % 3 == 1,
                    F.concat(
                        F.lit("?utm_source=feed&ref="),
                        (page % 4).cast("string"),
                    ),
                ).otherwise(
                    F.concat(
                        F.lit("?ref="),
                        (page % 4).cast("string"),
                        F.when(d % 3 == 2, F.lit("&utm_campaign=x")).otherwise(
                            F.lit("")
                        ),
                    )
                ),
            ).otherwise(F.lit("")),
            F.when(
                (d % 6).isin(1, 2),
                F.concat(F.lit("#Sec-"), (d % 3).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (operators/corpus_prep.py:url_dedup): URLs
    derived deterministically from doc_id (scheme/host-case, www.,
    default-port, utm_*, fragment and trailing-slash variants), then
    canonicalized with codegen regexp chains and reduced by ONE hash
    aggregation — min-id survivor + dup count per canonical URL. The
    oracle replays the same RE2∩Java pattern text in DuckDB."""
    from symspellpy_spark.operators.corpus_prep import url_dedup

    urls = _synth_urls(_read(spark, sf_dir, "documents"))
    return url_dedup(urls, url_col="url", id_col="doc_id")


def q_corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus assembly (the jobs/corpus_job.py stage chain),
    oracle-checked as ONE composition: canonical-URL dedup -> near-dup
    survivors (exact-Jaccard edges + connected components + canonical
    pick) -> boilerplate filter (ratio <= 0.5) -> benchmark
    decontamination (8-gram overlap vs the src0 slice, drop any hit)
    -> deterministic language-mixture sample. Every stage is
    individually oracle-green elsewhere on this sheet; this entry pins
    the COMPOSITION — survivor semantics and filter ordering across
    left-semi joins — by replaying the whole chain as chained CTEs in
    DuckDB (recursive CC, boilerplate rollup, contamination anti-join,
    XXH64 mixture filter). Shape: each stage is a semi-join against a
    small survivor relation; nothing rescans the corpus twice."""
    from symspellpy_spark.operators.cluster import select_canonical
    from symspellpy_spark.operators.corpus_prep import url_dedup
    from symspellpy_spark.operators.dedup import (
        boilerplate_segments,
        ngram_contamination,
    )
    from symspellpy_spark.operators.sampling import hash_stratified_sample

    docs = _read(spark, sf_dir, "documents")
    # 0. canonical-URL dedup (min-id survivor per canonical URL)
    surv0 = url_dedup(
        _synth_urls(docs), url_col="url", id_col="doc_id"
    ).select(F.col("survivor_id").alias("doc_id"))
    d1 = docs.join(surv0, "doc_id", "left_semi")
    # 1. near-dup survivors over the remaining set
    clusters = connected_components(
        _jaccard_pairs(d1), id_a="doc_a", id_b="doc_b"
    ).select(F.col("id").alias("doc_id"), "cluster_id")
    d2 = docs.join(
        select_canonical(d1, clusters, id_col="doc_id").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    # 2. boilerplate filter (CCNet-style repeated segments within d2)
    bp = boilerplate_segments(d2, seg_len=8, min_docs=2, token_re=TOKEN_RE)
    d3 = d2.join(
        bp.where(F.col("boiler_ratio") <= 0.5).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    # 3. decontamination: benchmark = src0 docs of the ORIGINAL table
    contam = ngram_contamination(
        d3, docs.where(F.col("source") == "src0"), n=8, token_re=TOKEN_RE
    )
    d4 = d3.join(
        contam.where(F.col("n_contaminated") == 0).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    # 4. deterministic language mixture
    return hash_stratified_sample(
        d4, _MIX_RATES, key_col="doc_id", strata_col="lang"
    ).select("doc_id", "lang", "source")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/corpus_prep.py:pii_scrub): emails /
    IPv4s / phone numbers injected deterministically from doc_id (the
    synthetic corpus contains none), then scrubbed by the codegen
    regexp chain; result carries per-kind counts plus md5(clean_text)
    so the value compare covers the exact redacted bytes. Narrow plan,
    no shuffle. Patterns live in the RE2∩Java subset; the oracle runs
    the identical pattern text with DuckDB's 'g' flag."""
    from symspellpy_spark.operators.corpus_prep import pii_scrub

    d = F.col("doc_id")
    aug = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" Contact USER"),
                    (d % 5).cast("string"),
                    F.lit("@Mail"),
                    (d % 4).cast("string"),
                    F.lit(".org now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 4 == 1,
                F.concat(
                    F.lit(" from 10."),
                    (d % 256).cast("string"),
                    F.lit(".0."),
                    (d % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 2,
                F.concat(
                    F.lit(" call +44 123-456-"),
                    (1000 + d % 9000).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(aug).select(
        "id",
        F.md5("clean_text").alias("clean_md5"),
        "n_email",
        "n_ipv4",
        "n_phone",
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token counts + length ratios per document."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        (
            F.aggregate(
                F.transform(toks, lambda t: F.length(t)),
                F.lit(0),
                lambda a, b: a + b,
            ).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
        (F.col("n_chars").cast("double") / F.size(toks)).alias("chars_per_token"),
    ).where(F.size(toks) > 0)


_EN_STOP = "the of and to in is was for it with as on be at by".split()


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language id: stopword-hit fraction."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    stop = F.array(*[F.lit(w) for w in _EN_STOP])
    hits = F.size(F.array_intersect(F.array_distinct(toks), stop))
    return docs.select(
        "doc_id",
        hits.alias("stopword_hits"),
        F.when(hits >= 2, F.lit("en")).otherwise(F.lit("other")).alias("lang_guess"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization over events: 30-min inactivity gap."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("ts_s"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    flagged = ev.withColumn("prev", F.lag("ts_s").over(w)).withColumn(
        "new_s",
        F.when(
            F.col("prev").isNull() | (F.col("ts_s") - F.col("prev") > 1800), 1
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts_s").alias("start_s"),
        F.max("ts_s").alias("end_s"),
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style rollup (decimal-exact sums, cast to double)."""
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(20,4)")  # noqa: E731
    g = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(20,4)") - dec("l_discount"))).cast(
                    "decimal(38,8)"
                )
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )
    return g


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact-Jaccard verify, oracle-checked.

    At threshold 0.9 the 32-band/4-row banding detects a qualifying
    pair with probability 1 - (1 - 0.9^4)^32 ≈ 1 - 1e-15, and the
    hashes are deterministic, so the LSH output equals the brute-force
    J >= 0.9 pair set — a REAL oracle check of the banding machinery
    (a broken minhash or band join loses pairs and fails row count)."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0).alias(
            "tokens"
        ),
    ).where(F.size("tokens") >= 3)
    sig = minhash_signatures(shingles(toks, k=3))
    cand = lsh_candidate_pairs(sig, bands=32, num_perm=128)
    return jaccard_verify(cand, sig, threshold=0.9).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball pairs through the FULL production
    configuration — xxhash64 token hashing (simhash_signatures'
    default), the strict-majority sign-sum kernel and the pigeonhole
    block-probe join — oracle-checked: the oracle re-implements XXH64
    (seed 42, Spark-bit-exact, validated length 1..15) as a chain of
    UBIGINT/HUGEINT SQL stages (``_xxh64_nested_sql``), recomputes the
    64-bit majority-vote signature relationally, and compares against
    the brute-force Hamming ball. Buckets are uncapped at gate scale,
    so the operator's probed pair set must EQUAL the ball exactly."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("tokens"),
    ).where(F.size("tokens") >= 1)
    sig = simhash_signatures(toks).select("id", "simhash")
    return simhash_candidate_pairs(sig, max_hamming=8).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def q_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball pairs through the PRODUCTION kernel and
    block-probe join (operators/dedup.py:771,804), oracle-checked: the
    token hash family is md5-derived (first 15 hex nibbles as int64 —
    identical in Spark and DuckDB), so the oracle recomputes the
    strict-majority sign-sum signature relationally and compares the
    operator's pigeonhole-probed pair set against the brute-force
    Hamming ball (buckets are uncapped at this scale, so the sets must
    be EQUAL — a broken vote, block split, or pair join diverges)."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("tokens"),
    ).where(F.size("tokens") >= 1)
    hashed = toks.withColumn(
        "th",
        F.transform(
            F.col("tokens"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        ),
    )
    sig = simhash_signatures(hashed, hashes_col="th").select("id", "simhash")
    return simhash_candidate_pairs(sig, max_hamming=8).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints through the production operator
    (operators/dedup.py::winnowing_fingerprints) with the md5-derived
    gram-hash family, oracle-checked: the oracle replays gram hashing,
    the sliding-window min, and the rightmost-tie selection in SQL."""
    docs = _read(spark, sf_dir, "documents")
    from symspellpy_spark.operators.dedup import winnowing_fingerprints

    return winnowing_fingerprints(
        docs, k=8, window=4, hash_family="md5"
    ).select(
        F.col("id").alias("doc_id"),
        F.col("pos").cast("long").alias("pos"),
        "fingerprint",
    )


def q_winnowing_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION winnowing end-to-end: the doc-local Arrow kernel
    (operators/dedup.py::_winnowing_kernel — vectorized XXH64 over
    every gram, strided rolling-min under signed-int64 order, rightmost
    ties) with the xxhash64 family, oracle-checked: the oracle computes
    XXH64(seed 42) per length-8 gram via the SQL stage chain
    (_xxh64_nested_sql), wraps to signed, and replays the window-min +
    rightmost-tie selection."""
    docs = _read(spark, sf_dir, "documents")
    from symspellpy_spark.operators.dedup import winnowing_fingerprints

    return winnowing_fingerprints(docs, k=8, window=4).select(
        F.col("id").alias("doc_id"),
        F.col("pos").cast("long").alias("pos"),
        F.col("fingerprint"),
    )


def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing candidate-pair generation end-to-end through the
    PRODUCTION path (operators/dedup.py::winnowing_candidate_pairs):
    doc-local Arrow kernel fingerprints (xxhash64 family), distinct
    (id, fingerprint), capped-bucket self-join (_bucket_pairs), shared-
    fingerprint counts. k=15/window=8 keeps 15-char grams
    discriminative on the synthetic corpus, and max_bucket_size=20 is
    BELOW the corpus's largest fingerprint bucket (37), so the
    monster-bucket drop — the 100-TB boilerplate defense — is exercised
    and verified, not inert. The oracle replays gram XXH64 via the SQL
    stage chain, the window min, the bucket-size window filter, and the
    self-join."""
    docs = _read(spark, sf_dir, "documents")
    from symspellpy_spark.operators.dedup import winnowing_candidate_pairs

    return winnowing_candidate_pairs(
        docs, k=15, window=8, id_col="doc_id", max_bucket_size=20
    ).select(
        F.col("id_a"),
        F.col("id_b"),
        F.col("shared_fingerprints"),
    )


def _stream_source(
    spark: SparkSession,
    docs: DataFrame,
    n_batch_files: int | None = 6,
    files_per_trigger: int = 1,
):
    """The streaming contract entries' shared micro-batching protocol
    (defined ONCE — the drained-fixpoint oracles depend on it): write
    the relation as parquet — repartitioned to ``n_batch_files`` on
    ``doc_id`` when set, so the drain sees a deterministic number of
    micro-batches — and open it back as a ``maxFilesPerTrigger``-limited
    file stream. Returns ``(stream, base_dir)``; ``base_dir`` holds
    ``src`` and is free for the caller's checkpoint/output dirs."""
    import tempfile

    base = tempfile.mkdtemp(prefix="sgraft_stream_")
    src = os.path.join(base, "src")
    w = docs if n_batch_files is None else docs.repartition(
        n_batch_files, "doc_id"
    )
    w.write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    return stream, base


def _drain_to_memory(
    spark: SparkSession, df: DataFrame, base: str, output_mode: str
) -> DataFrame:
    """Run a streaming relation to completion (availableNow) into a
    uniquely-named memory sink and return the accumulated table. The
    scratch ``base`` (source files + stream checkpoint) is removed
    before returning — the memory sink holds the rows, so nothing on
    disk is needed afterwards (no ``sgraft_stream_*`` residue)."""
    import shutil
    import uuid

    name = "drain_" + uuid.uuid4().hex
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(base, ignore_errors=True)
    return spark.table(name)


def _drain_stream(spark: SparkSession, docs: DataFrame, run_fn, n_batches=6):
    """Drain a docs relation through the shared file-source protocol,
    one file per trigger, run the incremental foreachBatch job to
    completion, and return the accumulated ``(index_df, pairs_df)``
    relations. Each is eagerly localCheckpointed first so the whole
    scratch dir — source files, checkpoint, output parquet — can be
    removed before returning (no ``sgraft_stream_*`` residue after a
    gate run); a missing output dir yields None."""
    import shutil

    stream, base = _stream_source(spark, docs, n_batch_files=n_batches)
    idx = os.path.join(base, "idx")
    pairs = os.path.join(base, "pairs")
    ckpt = os.path.join(base, "ckpt")
    q = run_fn(stream, idx, pairs, ckpt)
    q.awaitTermination()
    out = []
    for p in (idx, pairs):
        out.append(
            spark.read.parquet(p).localCheckpoint(eager=True)
            if os.path.isdir(p)
            else None
        )
    shutil.rmtree(base, ignore_errors=True)
    return tuple(out)


def q_streaming_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming MinHash-LSH
    (streaming/stream_dedup.py:run_incremental_lsh) drained to its
    batch fixpoint, oracle-checked: the documents table streams in as
    micro-batches, each batch's banded signatures probe the
    accumulated band index (batch-vs-history, history never shuffles)
    plus a batch-internal self-join, and new pairs append. The
    accumulated candidate set is batching-invariant — any pair sharing
    a band shares it whether the docs arrive together or epochs apart —
    so after the same exact-Jaccard verify the drained stream must
    EQUAL the batch operator's oracle (brute-force J >= 0.9 pairs, the
    minhash_lsh_pairs SQL verbatim). Signature config is pinned to the
    batch entry's via ``signatures_fn``."""
    from symspellpy_spark.streaming.stream_dedup import run_incremental_lsh

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")

    def sig_of(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col("doc_id").alias("id"),
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(TOKEN_RE), 0
            ).alias("tokens"),
        ).where(F.size("tokens") >= 3)
        return minhash_signatures(shingles(toks, k=3))

    _, pairs_df = _drain_stream(
        spark,
        docs,
        lambda st, idx, pairs, ckpt: run_incremental_lsh(
            spark,
            st,
            idx,
            pairs,
            bands=32,
            num_perm=128,
            checkpoint=ckpt,
            compact_every=0,
            signatures_fn=sig_of,
            available_now=True,
        ),
    )
    cand = pairs_df.distinct()
    return jaccard_verify(cand, sig_of(docs), threshold=0.9).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


def q_streaming_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming winnowing
    (streaming/stream_dedup.py:run_incremental_winnowing) drained to
    its batch fixpoint, oracle-checked: each micro-batch's kernel
    fingerprints append to the accumulated index after probing it; the
    per-(id, fingerprint) index end-state is batching-invariant (each
    doc streams exactly once, the kernel is per-document), so the
    drained index must EQUAL the batch winnowing_xxhash oracle's
    distinct (doc_id, fingerprint) set. Cap/compaction are sized out
    of the way so the equality is exact."""
    from symspellpy_spark.streaming.stream_dedup import (
        run_incremental_winnowing,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    idx_df, _ = _drain_stream(
        spark,
        docs,
        lambda st, idx, pairs, ckpt: run_incremental_winnowing(
            spark,
            st,
            idx,
            pairs,
            k=8,
            window=4,
            id_col="doc_id",
            text_col="text",
            checkpoint=ckpt,
            compact_every=0,
            max_bucket_size=1 << 30,
            available_now=True,
        ),
    )
    return idx_df.select(
        F.col("id").alias("doc_id"), "fingerprint"
    ).distinct()


def q_streaming_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STATEFUL streaming operator
    (streaming/stream_dedup.py:streaming_simhash_pairs,
    applyInPandasWithState) drained to its batch fixpoint,
    oracle-checked: every SimHash bit-block bucket keeps its seen
    (id, signature) pairs as group state and compares each arriving doc
    against that state. With uncapped buckets the pigeonhole guarantee
    makes the drained distinct pair set EQUAL the brute-force Hamming
    ball — the simhash_pairs oracle verbatim (XXH64 SQL chain +
    relational majority vote). Signature config pinned to the batch
    entry's via ``sig_fn``; pairs emitted once per shared intact block
    collapse under distinct."""
    from symspellpy_spark.streaming.stream_dedup import (
        streaming_simhash_pairs,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    stream, base = _stream_source(spark, docs, n_batch_files=6)

    def sig_of(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(TOKEN_RE), 0
                )
            ).alias("tokens"),
        ).where(F.size("tokens") >= 1)
        return simhash_signatures(toks).select("id", "simhash")

    pairs = streaming_simhash_pairs(
        stream, max_hamming=8, max_bucket_size=1 << 30, sig_fn=sig_of
    )
    return (
        _drain_to_memory(spark, pairs, base, "append")
        .distinct()
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.col("hamming").cast("int").alias("hamming"),
        )
    )


def q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup
    (streaming/stream_dedup.py:streaming_exact_dedup): a watermarked
    complete-mode aggregation keyed on md5(text) — first-seen url +
    duplicate count per content hash, drained to its batch fixpoint
    (event times span < the 1h watermark delay, so nothing is late and
    the end-state equals the batch GROUP BY exactly)."""
    from symspellpy_spark.streaming.stream_dedup import (
        streaming_exact_dedup,
    )

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        "text",
        F.timestamp_seconds(F.pmod("doc_id", F.lit(3600))).alias("warc_ts"),
    )
    stream, base = _stream_source(
        spark, docs, n_batch_files=None, files_per_trigger=4
    )
    agg = streaming_exact_dedup(stream)
    return _drain_to_memory(spark, agg, base, "complete").select(
        "text_md5", "first_url", "n_seen"
    )


def q_compound_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 lookup_compound on a deterministic slice, oracle-checked.

    Input: first 8 tokens per doc, with ONLY token 0 misspelled (2nd
    char dropped, len >= 5), and docs where glueing the misspelled
    token 0 onto token 1 lands exactly in the vocabulary excluded. On
    this slice the reference fold (symspellpy.py:639-865) provably
    reduces to per-token TOP lookup + concat + naive-Bayes count chain:
    the merge branch needs an exact combo hit (excluded by the filter;
    with distance_1 = 1 it fires only at combi distance 0), and split
    candidates always carry tmp_count = min(bigram_min, int(p1*p2/N)) =
    0 < any real suggestion count, so they never displace the TOP
    suggestion. A broken merge/split trigger, TOP tie-break, or count
    chain in the fold diverges from the oracle."""
    docs = _read(spark, sf_dir, "documents")
    d = _dictionary(spark, sf_dir, DistanceAlgorithm.LEVENSHTEIN)
    ts = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    base = (
        docs.where(F.col("doc_id") < 50)
        .select("doc_id", ts.alias("ts"))
        .where((F.size("ts") >= 8) & (F.length(F.element_at("ts", 1)) >= 5))
        .select(
            "doc_id",
            F.concat(
                F.substring(F.element_at("ts", 1), 1, 1),
                F.expr("substring(element_at(ts, 1), 3, 2147483647)"),
            ).alias("m0"),
            F.slice("ts", 2, 7).alias("rest"),
        )
    )
    eligible = base.join(
        F.broadcast(d.words.select("term")),
        F.concat(F.col("m0"), F.element_at("rest", 1)) == F.col("term"),
        "left_anti",
    )
    noisy = eligible.select(
        "doc_id",
        F.concat(F.col("m0"), F.lit(" "), F.array_join("rest", " ")).alias("text"),
    )
    return lookup_compound_batch(noisy, d, max_edit_distance=2).select(
        "doc_id", "term", "distance", "count"
    )


def q_compound_noisy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 lookup_compound over raw noisy substrings — the merge and
    split branches of the fold fire on real inputs, oracle-checked: the
    oracle replays the ENTIRE reference fold (symspellpy.py:639-865) as
    a recursive CTE — per-token TOP lookup, the is_last_combi merge
    gate with its naive-Bayes tie-break, the stateful split_best scan
    over every split point, unknown-word fallbacks, and the sequential
    joined-count float chain. The dictionary uses LEVENSHTEIN (not
    DAMERAU_OSA) so every inner distance is DuckDB's ``levenshtein``
    exactly; DuckDB's ``damerau_levenshtein`` is the UNRESTRICTED
    distance, which diverges from the engine's OSA kernel at distance
    2 — the OSA kernel itself is exhaustively oracle-tested in
    tests/test_distance.py, and the merge/split fold logic is algorithm-
    independent.

    Input per doc: tokens 1-2 GLUED (a run-on the split branch must
    repair), token 3 broken after its 2nd char (a split error the merge
    branch must repair), tokens 4-8 verbatim.

    The oracle computes each token's split scan as a column, not as a
    correlated scalar subquery: under DuckDB 1.0.0 that subquery
    returned the split results of other rows. A plain-Python replay of
    the same fold pins the oracle's rows
    (tests/test_entry_contract.py)."""
    docs = _read(spark, sf_dir, "documents")
    d = _dictionary(spark, sf_dir, DistanceAlgorithm.LEVENSHTEIN)
    ts = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    noisy = (
        docs.where(F.col("doc_id") < 50)
        .select("doc_id", ts.alias("ts"))
        .where((F.size("ts") >= 8) & (F.length(F.element_at("ts", 3)) >= 5))
        .select(
            "doc_id",
            F.concat(
                F.element_at("ts", 1),
                F.element_at("ts", 2),
                F.lit(" "),
                F.substring(F.element_at("ts", 3), 1, 2),
                F.lit(" "),
                F.expr("substring(element_at(ts, 3), 3, 2147483647)"),
                F.lit(" "),
                F.concat_ws(" ", F.slice("ts", 4, 5)),
            ).alias("text"),
        )
    )
    return lookup_compound_batch(noisy, d, max_edit_distance=2).select(
        "doc_id", "term", "distance", "count"
    )


def _glued_docs(docs: DataFrame) -> DataFrame:
    return docs.where(F.col("doc_id") < 50).select(
        "doc_id",
        F.replace(F.substring("text", 1, 80), F.lit(" "), F.lit("")).alias("text"),
    )


def q_word_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 word_segmentation (d=0 broadcast-DP fast path) over
    space-stripped prefixes — oracle-checked against a DuckDB
    recursive-CTE prefix DP that replays the reference's triangular
    relax loop (symspellpy.py:867-1015) including its separator-length
    tie quirk and log-prob tie-breaking."""
    docs = _read(spark, sf_dir, "documents")
    d = _dictionary(spark, sf_dir, DistanceAlgorithm.DAMERAU_OSA)
    return word_segmentation_batch(_glued_docs(docs), d, max_edit_distance=0).select(
        "doc_id", "segmented_string", "corrected_string", "distance_sum"
    )


def q_word_segmentation_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 fuzzy (d=1) word_segmentation: hoisted-lookup relational path,
    oracle-checked — the DuckDB recursive-CTE prefix DP replays the
    reference's relax loop with ``damerau_levenshtein`` candidate edges
    (identical to OSA at threshold <= 1); live parity vs the reference
    is additionally pinned in pytest."""
    docs = _read(spark, sf_dir, "documents")
    d = _dictionary(spark, sf_dir, DistanceAlgorithm.DAMERAU_OSA)
    return word_segmentation_batch(_glued_docs(docs), d, max_edit_distance=1).select(
        "doc_id", "segmented_string", "corrected_string", "distance_sum"
    )




def q_bigram_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4/D1: adjacent-token bigram frequency table (the `_bigrams`
    analogue, reference symspellpy.py:1070-1108): zip_with over the
    token array keeps pair formation JVM-side; one groupBy shuffle."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0).alias("ts")
    ).where(F.size("ts") >= 2)
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("ts", 1, F.size("ts") - 1),
                F.slice("ts", 2, F.size("ts") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    return pairs.groupBy("bigram").agg(F.count("*").alias("count"))


def q_acronym_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4 is_acronym (both variants) over cased part-catalog tokens
    (reference helpers.py:153-168). Word-char-only tokens make the
    unanchored rlike and the reference's anchored re.match coincide."""
    part = _read(spark, sf_dir, "part")
    toks = part.select(
        F.explode(
            F.regexp_extract_all(
                F.concat_ws(" ", "p_brand", "p_type"), F.lit("[A-Za-z0-9]+"), 0
            )
        ).alias("token")
    ).distinct()
    from symspellpy_spark.functions.text import is_acronym_expr

    return toks.select(
        "token",
        is_acronym_expr(F.col("token")).cast("int").alias("is_acronym"),
        is_acronym_expr(F.col("token"), contain_digits=True)
        .cast("int")
        .alias("is_acronym_digits"),
    )


def q_lookup_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 to_similarity = 1 - distance/length over TOP lookup results
    (reference helpers.py:253-265); single IEEE division of exact ints."""
    top = q_lookup_top(spark, sf_dir)
    return top.select(
        "query",
        "term",
        (
            F.lit(1.0)
            - F.col("distance").cast("double") / F.length("term").cast("double")
        ).alias("similarity"),
    )


def q_delete_entry_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 delete_dictionary_entry (reference symspellpy.py:258-282):
    remove the 5 most frequent terms from the vocabulary and drop their
    rows from the delete index via a broadcast anti-join — the
    set-at-a-time analogue of per-bucket list removal."""
    docs = _read(spark, sf_dir, "documents")
    vocab = _vocab(docs).where(F.col("count") >= 3)
    from pyspark.sql import Window

    ranked = vocab.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("count"), F.asc("term")))
    )
    deleted = ranked.where(F.col("rn") <= 5).select("term")
    cfg = EngineConfig(max_dictionary_edit_distance=1, prefix_length=7)
    full = delete_neighborhood(vocab.select("term"), cfg).select("term", "delete_key")
    return full.join(F.broadcast(deleted), "term", "left_anti")


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON path over the events props
    column (JVM-side get_json_object; no reference analogue — engine
    breadth for web-scale metadata columns)."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


def q_lang_term_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (engine breadth): bigrams of 'en' documents
    INTERSECT bigrams of 'es' documents, EXCEPT bigrams of the 'fr'
    documents of a single source — bigram sets differ per slice, so
    both set operators discriminate."""
    docs = _read(spark, sf_dir, "documents")

    def bigrams_of(cond) -> DataFrame:
        toks = docs.where(cond).select(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(TOKEN_RE), 0
            ).alias("ts")
        ).where(F.size("ts") >= 2)
        return toks.select(
            F.explode(
                F.zip_with(
                    F.slice("ts", 1, F.size("ts") - 1),
                    F.slice("ts", 2, F.size("ts") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bigram")
        ).distinct()

    return (
        bigrams_of(F.col("lang") == "en")
        .intersect(bigrams_of(F.col("lang") == "es"))
        .exceptAll(
            bigrams_of((F.col("lang") == "fr") & (F.col("source") == "src0"))
        )
    )


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation over lineitem (engine breadth:
    grouping sets; subtotal rows carry NULL group keys on both engines)."""
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(20,4)")  # noqa: E731
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
    )


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force, exact)."""
    emb = _read(spark, sf_dir, "embeddings")
    to_d = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    a = emb.select(F.col("vec_id").alias("id_a"), to_d("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), to_d("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot / (norm(F.col("va")) * norm(F.col("vb"))))
        .where(F.col("cos") >= 0.35)
        .select("id_a", "id_b")
    )


def q_lm_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model coverage scoring for training-data quality: per
    document, how many of its adjacent-token bigrams are corpus-frequent
    (count >= 2) and how frequent (exact integer sum — float log-prob
    sums are deliberately avoided so the oracle compares exactly).
    Engine shape: corpus bigram table (one groupBy) broadcast against
    per-doc exploded pairs; the doc-side aggregation is map-side
    partial."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0).alias("ts"),
    ).where(F.size("ts") >= 2)
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("ts", 1, F.size("ts") - 1),
                F.slice("ts", 2, F.size("ts") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    bigrams = q_bigram_build(spark, sf_dir).withColumnRenamed("count", "bcount")
    return (
        pairs.join(F.broadcast(bigrams), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum((F.col("bcount") >= 2).cast("long")).alias("n_frequent"),
            F.sum("bcount").alias("sum_pair_count"),
        )
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish symbol split."""
    docs = _read(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    syms = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit("[^a-z0-9 ]"), 0
    )
    return docs.select(
        "doc_id",
        F.size(words).alias("n_word_tokens"),
        F.size(syms).alias("n_symbol_tokens"),
        (F.size(words) + F.size(syms)).alias("n_total"),
    )


def q_shingle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 5-token-shingle count per doc via the fused Arrow
    signature kernel (text_to_signatures): oracle-checkable because the
    shingle hash is injective modulo 2^-64 collisions, so
    size(shingle_hashes) == count(distinct 5-gram strings)."""
    docs = _read(spark, sf_dir, "documents")
    sig = text_to_signatures(docs, k=5, id_col="doc_id", text_col="text")
    return sig.select(
        F.col("id").alias("doc_id"), F.size("shingle_hashes").alias("n_shingles")
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content-sampled 24-char-gram md5 prints
    (oracle-friendly md5 variant of the rolling-hash substring stage)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.where(F.length("text") >= 24)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text") - 23)).alias("p"),
            F.col("text"),
        )
        .select("doc_id", F.md5(F.expr("substring(text, p, 24)")).alias("fp"))
        .where(F.substring("fp", 1, 1) == "0")
        .select("doc_id", F.col("fp").alias("fingerprint"))
        .distinct()
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry ORDER matters: the driver's correctness gate checks a
    # bounded window from the FRONT of this dict (50 entries in r4/r5).
    # Entries that missed a driver window are rotated to the front the
    # following round so every entry holds a driver-green row within any
    # two consecutive rounds (VERDICT_r04 "Next round #1").  Round 6:
    # the 7 entries absent from CORRECTNESS_r05.json lead, and — per
    # VERDICT_r05 "Next #1" — every entry whose operator files changed
    # this round sits inside the 50-entry window; the 7 tail entries are
    # untouched-this-round, r5-driver-green pure-Catalyst queries.
    return {
        "word_segmentation": q_word_segmentation,
        "word_segmentation_fuzzy": q_word_segmentation_fuzzy,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "bigram_build": q_bigram_build,
        "acronym_tokens": q_acronym_tokens,
        "lookup_similarity": q_lookup_similarity,
        "delete_entry_maintenance": q_delete_entry_maintenance,
        "doc_fingerprints": q_doc_fingerprints,
        "shingle_count": q_shingle_count,
        "vocab_build": q_vocab_build,
        "deletes_index": q_deletes_index,
        "lookup_top": q_lookup_top,
        "lookup_closest": q_lookup_closest,
        "lookup_all": q_lookup_all,
        "membership_probe": q_membership_probe,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "dedup_survivors": q_dedup_survivors,
        "embedding_topk": q_embedding_topk,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        "ivf_cosine_topk": q_ivf_cosine_topk,
        "semantic_dedup": q_semantic_dedup,
        "boilerplate_segments": q_boilerplate_segments,
        "ngram_contamination": q_ngram_contamination,
        "tfidf_top_terms": q_tfidf_top_terms,
        "data_mix": q_data_mix,
        "gopher_repetition": q_gopher_repetition,
        "gopher_ngram_stats": q_gopher_ngram_stats,
        "gopher_quality_keep": q_gopher_quality_keep,
        "passage_chunks": q_passage_chunks,
        "dup_spans": q_dup_spans,
        "dup_span_removal": q_dup_span_removal,
        "url_dedup": q_url_dedup,
        "corpus_survivors": q_corpus_survivors,
        "pii_scrub": q_pii_scrub,
        "sessionize": q_sessionize,
        "tpch_q1": q_tpch_q1,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_pairs": q_simhash_pairs,
        "simhash_md5_pairs": q_simhash_md5_pairs,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "winnowing_xxhash": q_winnowing_xxhash,
        "winnowing_pairs": q_winnowing_pairs,
        "streaming_lsh_pairs": q_streaming_lsh_pairs,
        "streaming_winnow_fps": q_streaming_winnow_fps,
        "streaming_simhash_pairs": q_streaming_simhash_pairs,
        "streaming_exact_dedup": q_streaming_exact_dedup,
        "compound_correct": q_compound_correct,
        "compound_noisy": q_compound_noisy,
        "props_extract": q_props_extract,
        "revenue_rollup": q_revenue_rollup,
        "lang_term_overlap": q_lang_term_overlap,
        "lm_bigram_coverage": q_lm_bigram_coverage,
        "token_count": q_token_count,
        "text_quality": q_text_quality,
        "langid": q_langid,
    }


# ---------------------------------------------------------------- oracles


def _lsh_cosine_topk_oracle() -> str:
    """Exact SQL replication of lsh_cosine_topk (operators/knn.py:109):
    the (seed, dim)-fixed hyperplanes are embedded as double literals
    (repr round-trips IEEE doubles exactly), sign buckets and the
    bucket equi-join are replayed relationally, then the exact-cosine
    re-rank mirrors the embedding_topk oracle."""
    import numpy as np

    dim, nt, nb = _LSH_DIM, _LSH_TABLES, _LSH_BITS
    c = nt * nb
    planes = np.random.default_rng(_LSH_SEED).standard_normal((dim, c))
    lit = "[" + ",".join(repr(float(w)) for w in planes.reshape(-1)) + "]"
    return f"""
    WITH pl AS (
        SELECT i // {c} AS d, i % {c} AS c, flat[i + 1] AS w
        FROM (SELECT {lit} AS flat), unnest(range(0, {dim * c})) AS t(i)
    ),
    proj AS (
        SELECT v.vec_id, p.c, sum(CAST(v.embedding[p.d + 1] AS DOUBLE) * p.w) AS s
        FROM embeddings v, pl p GROUP BY v.vec_id, p.c
    ),
    buckets AS (
        SELECT vec_id,
               (CAST(c // {nb} AS BIGINT) << {nb})
               + sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (c % {nb}))
                          ELSE 0 END) AS bucket
        FROM proj GROUP BY vec_id, c // {nb}
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buckets q JOIN buckets c ON q.bucket = c.bucket
        WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
    ),
    flatp AS (
        SELECT cd.query_id, cd.neighbor_id,
               CAST(unnest(qv.embedding) AS DOUBLE) AS a,
               CAST(unnest(nv.embedding) AS DOUBLE) AS b
        FROM cand cd
        JOIN embeddings qv ON qv.vec_id = cd.query_id
        JOIN embeddings nv ON nv.vec_id = cd.neighbor_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))) AS cos
        FROM flatp GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id
        ) AS rank FROM scored
    ) WHERE rank <= {_LSH_K}"""


def _ivf_cosine_topk_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Exact SQL replication of q_ivf_cosine_topk at the driver's gate
    scale: refits the identical centroids (same numpy ops on the same
    vec_id-ordered sample), embeds them as double literals, and replays
    list assignment (top-sim centroid per corpus vector, top-n_probe per
    query vector — normalization skipped: it scales every sim of a
    vector by the same positive factor, leaving the order unchanged),
    the centroid_id equi-join and the exact-cosine re-rank."""
    import duckdb

    con = duckdb.connect()
    sample = con.execute(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {_IVF_SAMPLE}"
    ).fetchall()
    cents = _ivf_centroids_from([r[0] for r in sample])
    k, dim = cents.shape
    lit = "[" + ",".join(repr(float(w)) for w in cents.reshape(-1)) + "]"
    return f"""
    WITH cent AS (
        SELECT i // {dim} AS cid, i % {dim} AS d, flat[i + 1] AS w
        FROM (SELECT {lit} AS flat), unnest(range(0, {k * dim})) AS t(i)
    ),
    sims AS (
        SELECT v.vec_id, c.cid,
               sum(CAST(v.embedding[c.d + 1] AS DOUBLE) * c.w) AS sim
        FROM embeddings v, cent c GROUP BY v.vec_id, c.cid
    ),
    corpus_assign AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid
            ) AS rn FROM sims
        ) WHERE rn = 1
    ),
    query_assign AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid
            ) AS rn FROM sims WHERE vec_id < 10
        ) WHERE rn <= {_IVF_PROBE}
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM query_assign q JOIN corpus_assign c USING (cid)
        WHERE q.vec_id != c.vec_id
    ),
    flatp AS (
        SELECT cd.query_id, cd.neighbor_id,
               CAST(unnest(qv.embedding) AS DOUBLE) AS a,
               CAST(unnest(nv.embedding) AS DOUBLE) AS b
        FROM cand cd
        JOIN embeddings qv ON qv.vec_id = cd.query_id
        JOIN embeddings nv ON nv.vec_id = cd.neighbor_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))) AS cos
        FROM flatp GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id
        ) AS rank FROM scored
    ) WHERE rank <= {_IVF_K}"""


def _semantic_dedup_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Exact SQL replication of q_semantic_dedup: identical centroid
    refit (numpy, vec_id-ordered sample) embedded as literals, list
    assignment replayed as in the IVF oracle (normalization skipped —
    it cannot change the argmax), then the within-list pair join, the
    exact-cosine threshold and the min-id-survives rule."""
    import duckdb

    con = duckdb.connect()
    sample = con.execute(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {_IVF_SAMPLE}"
    ).fetchall()
    cents = _ivf_centroids_from([r[0] for r in sample])
    k, dim = cents.shape
    lit = "[" + ",".join(repr(float(w)) for w in cents.reshape(-1)) + "]"
    return f"""
    WITH cent AS (
        SELECT i // {dim} AS cid, i % {dim} AS d, flat[i + 1] AS w
        FROM (SELECT {lit} AS flat), unnest(range(0, {k * dim})) AS t(i)
    ),
    sims AS (
        SELECT v.vec_id, c.cid,
               sum(CAST(v.embedding[c.d + 1] AS DOUBLE) * c.w) AS sim
        FROM embeddings v, cent c GROUP BY v.vec_id, c.cid
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid
            ) AS rn FROM sims
        ) WHERE rn = 1
    ),
    cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assign a JOIN assign b USING (cid)
        WHERE a.vec_id < b.vec_id
    ),
    flatp AS (
        SELECT cd.id_a, cd.id_b,
               CAST(unnest(av.embedding) AS DOUBLE) AS x,
               CAST(unnest(bv.embedding) AS DOUBLE) AS y
        FROM cand cd
        JOIN embeddings av ON av.vec_id = cd.id_a
        JOIN embeddings bv ON bv.vec_id = cd.id_b
    ),
    scored AS (
        SELECT id_a, id_b,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
        FROM flatp GROUP BY id_a, id_b
    ),
    dropped AS (
        SELECT DISTINCT id_b AS vec_id FROM scored WHERE cos >= {_SEMDEDUP_T}
    )
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS centroid_id,
           CAST(d.vec_id IS NULL AS INT) AS kept
    FROM assign a LEFT JOIN dropped d USING (vec_id)"""


_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = 1 << 64


def _xx_mul(a: str, b: str) -> str:
    """(a*b) mod 2^64 over UBIGINT SQL exprs via 32-bit split in
    HUGEINT (DuckDB BIGINT/UBIGINT arithmetic raises on overflow, and a
    full 64x64 product can exceed signed-HUGEINT range — the cross
    terms and low product each stay < 2^64, so HUGEINT never
    overflows)."""
    A = f"CAST({a} AS HUGEINT)"
    B = f"CAST({b} AS HUGEINT)"
    return (
        f"CAST(((({A}%4294967296)*({B}%4294967296)"
        f" + (((({A}//4294967296)*({B}%4294967296)"
        f" + ({A}%4294967296)*({B}//4294967296))%4294967296)*4294967296)"
        f") % {_M64}) AS UBIGINT)"
    )


def _xx_rotl(x: str, r: int) -> str:
    X = f"CAST({x} AS HUGEINT)"
    return f"CAST(((({X}*{1 << r}) % {_M64}) + ({X}//{1 << (64 - r)})) AS UBIGINT)"


def _xx_le_bytes(col: str, start, nbytes: int) -> str:
    """Little-endian integer from ``nbytes`` ASCII bytes of ``col``
    starting at 1-based position ``start`` (int or SQL column name)."""
    def pos(j: int) -> str:
        return str(start + j) if isinstance(start, int) else f"({start} + {j})"

    return "(" + " + ".join(
        f"(unicode(substr({col}, {pos(j)}, 1))::UBIGINT * {1 << (8 * j)}::UBIGINT)"
        for j in range(nbytes)
    ) + ")"


def _xxh64_cols(tok: str = "tokv") -> list[str]:
    """XXH64(tok, seed=42) for ASCII tokens of length <= 15 as a list of
    'expr AS alias' stages (final aliases: ``xxh`` UBIGINT). Bit-exact
    vs Spark's ``xxhash64`` (validated against it for lengths 1..15
    over random [a-z0-9] tokens); lengths > 15 raise via error() so a
    future dataset can never silently diverge. Only the short path
    (< 32 bytes: optional 8-byte chunk, optional 4-byte chunk, <= 3
    tail bytes, avalanche) is needed for [a-z0-9]+ tokens."""
    P1, P2, P3, P4 = (f"{p}::UBIGINT" for p in (_XXP1, _XXP2, _XXP3, _XXP4))
    P5 = f"{_XXP5}::UBIGINT"
    cols: list[str] = []
    add = lambda name, expr: cols.append(f"{expr} AS {name}")  # noqa: E731
    add("tl", f"length({tok})")
    # the length guard must be LOAD-BEARING (an unused guard column is
    # pruned by the optimizer and never evaluates): h0 consumes it
    add(
        "h0",
        f"({42 + _XXP5}::UBIGINT + CASE WHEN tl > 15"
        f" THEN error('xxh64 oracle supports len<=15')"
        f" ELSE tl END::UBIGINT)",
    )
    add("k8", f"CASE WHEN tl >= 8 THEN {_xx_le_bytes(tok, 1, 8)} ELSE 0::UBIGINT END")
    add("k8c", _xx_mul(_xx_rotl(_xx_mul("k8", P2), 31), P1))
    h1core = _xx_mul(_xx_rotl("xor(h0, k8c)", 27), P1)
    add(
        "h1",
        f"CASE WHEN tl >= 8 THEN CAST((CAST({h1core} AS HUGEINT) + {_XXP4})"
        f" % {_M64} AS UBIGINT) ELSE h0 END",
    )
    add("off4", "CASE WHEN tl >= 8 THEN 9 ELSE 1 END")
    add("rem1", "CASE WHEN tl >= 8 THEN tl - 8 ELSE tl END")
    add("k4", f"CASE WHEN rem1 >= 4 THEN {_xx_le_bytes(tok, 'off4', 4)} ELSE 0::UBIGINT END")
    h2core = _xx_mul(_xx_rotl(f"xor(h1, {_xx_mul('k4', P1)})", 23), P2)
    add(
        "h2",
        f"CASE WHEN rem1 >= 4 THEN CAST((CAST({h2core} AS HUGEINT) + {_XXP3})"
        f" % {_M64} AS UBIGINT) ELSE h1 END",
    )
    add("offb", "CASE WHEN rem1 >= 4 THEN off4 + 4 ELSE off4 END")
    add("rem2", "CASE WHEN rem1 >= 4 THEN rem1 - 4 ELSE rem1 END")
    prev = "h2"
    for j in range(3):
        add(
            f"b{j}",
            f"CASE WHEN rem2 >= {j + 1} THEN unicode(substr({tok}, offb + {j}, 1))::UBIGINT"
            f" ELSE 0::UBIGINT END",
        )
        hj = _xx_mul(_xx_rotl(f"xor({prev}, {_xx_mul(f'b{j}', P5)})", 11), P1)
        add(f"h3_{j}", f"CASE WHEN rem2 >= {j + 1} THEN {hj} ELSE {prev} END")
        prev = f"h3_{j}"
    add("a1", f"xor({prev}, {prev} >> 33)")
    add("a2", _xx_mul("a1", P2))
    add("a3", "xor(a2, a2 >> 29)")
    add("a4", _xx_mul("a3", P3))
    add("xxh", "xor(a4, a4 >> 32)")
    return cols


def _xxh64_nested_sql(base_sql: str) -> str:
    """Wrap ``base_sql`` (a relation with a ``tokv`` column) in one
    nested SELECT per XXH64 stage. One stage per subquery matters:
    DuckDB expands same-SELECT lateral aliases TEXTUALLY, and each
    mul/rotl references its operand ~3 times, so a single flattened
    SELECT blows up ~3^stages at bind time; projection boundaries keep
    each stage referenced once."""
    inner = base_sql
    for c in _xxh64_cols():
        inner = f"SELECT *, {c} FROM ({inner})"
    return inner


def _xxh64_long_cols(col: str) -> list[str]:
    """XXH64(little-endian 8 bytes of BIGINT ``col``, seed=42) as
    'expr AS alias' stages, final alias ``xxh_signed`` (signed int64 —
    Spark's ``xxhash64`` over a long column, pinned bit-exact in
    ``tests/test_xxh64_parity.py``). The single-8-byte-block short
    path: one round-mixed chunk, then the avalanche."""
    P1, P2, P3, P4 = (f"{p}::UBIGINT" for p in (_XXP1, _XXP2, _XXP3, _XXP4))
    cols: list[str] = []
    add = lambda name, expr: cols.append(f"{expr} AS {name}")  # noqa: E731
    # two's-complement reinterpret: BIGINT -> UBIGINT
    add("k1", f"CAST(((CAST({col} AS HUGEINT) % {_M64}) + {_M64}) % {_M64}"
              f" AS UBIGINT)")
    add("xacc", _xx_mul(_xx_rotl(_xx_mul("k1", P2), 31), P1))
    add("xh1", f"xor({42 + _XXP5 + 8}::UBIGINT, xacc)")
    add(
        "xh2",
        f"CAST((CAST({_xx_mul(_xx_rotl('xh1', 27), P1)} AS HUGEINT)"
        f" + {_XXP4}) % {_M64} AS UBIGINT)",
    )
    add("xh3", f"xor(xh2, xh2 // {1 << 33}::UBIGINT)")
    add("xh4", _xx_mul("xh3", P2))
    add("xh5", f"xor(xh4, xh4 // {1 << 29}::UBIGINT)")
    add("xh6", _xx_mul("xh5", P3))
    add("xh7", f"xor(xh6, xh6 // {1 << 32}::UBIGINT)")
    add(
        "xxh_signed",
        f"CAST(CASE WHEN xh7 >= {1 << 63}::UBIGINT"
        f" THEN CAST(xh7 AS HUGEINT) - {_M64}"
        f" ELSE CAST(xh7 AS HUGEINT) END AS BIGINT)",
    )
    return cols


# Shared CTE prefix for the dup_spans / dup_span_removal oracles:
# whitespace tokens -> 8-grams -> duplicated occurrences (all but the
# globally first per gram, via row_number over (id, pos)) -> maximal
# spans via the same island-detection window the Spark operator runs
# (a position opens a new span iff it lies past the running max end).
_DUP_SPANS_CTE = """
    WITH tok AS (
        SELECT doc_id AS id, string_split(text, ' ') AS ts
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    grams AS (
        SELECT id, i - 1 AS pos, array_to_string(ts[i:i+7], ' ') AS g
        FROM (SELECT id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
              FROM tok WHERE len(ts) >= 8)
    ),
    dup AS (
        SELECT id, pos FROM (
            SELECT id, pos,
                   row_number() OVER (PARTITION BY g ORDER BY id, pos)
                       AS rn,
                   count(*) OVER (PARTITION BY g) AS c
            FROM grams)
        WHERE c >= 2 AND rn > 1
    ),
    flagged AS (
        SELECT id, pos, pos + 8 AS e,
               CASE WHEN max(pos + 8) OVER w IS NULL
                      OR pos > max(pos + 8) OVER w THEN 1 ELSE 0 END AS ns
        FROM dup
        WINDOW w AS (PARTITION BY id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    sp AS (
        SELECT id, span_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(e) AS BIGINT) AS span_end,
               count(*) AS n_grams
        FROM (SELECT id, pos, e,
                     CAST(sum(ns) OVER (PARTITION BY id ORDER BY pos
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT)
                         AS span_id
              FROM flagged)
        GROUP BY id, span_id
    )"""


# Shared CTE body for the url_dedup / corpus_survivors oracles: the
# deterministic fetch-variant URL synthesis (_synth_urls) and its
# canonicalization split into scheme/host prefix `p` + rest `r`.
_URL_PARTS_CTE = """urls AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
                     ELSE 'https://' END)
               || (CASE WHEN doc_id % 5 = 0 THEN 'WWW.Site'
                        ELSE 'site' END)
               || cast((doc_id % 40) % 5 AS varchar) || '.Example.COM'
               || (CASE WHEN doc_id % 4 = 0 THEN ':443'
                        WHEN doc_id % 16 = 1 THEN ':8080'
                        ELSE '' END)
               || '/Articles/' || cast(doc_id % 40 AS varchar)
               || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
               || (CASE WHEN (doc_id % 40) % 2 = 0 THEN
                       CASE WHEN doc_id % 3 = 1
                            THEN '?utm_source=feed&ref='
                                 || cast((doc_id % 40) % 4 AS varchar)
                            ELSE '?ref='
                                 || cast((doc_id % 40) % 4 AS varchar)
                                 || (CASE WHEN doc_id % 3 = 2
                                          THEN '&utm_campaign=x'
                                          ELSE '' END)
                       END
                   ELSE '' END)
               || (CASE WHEN doc_id % 6 IN (1, 2)
                        THEN '#Sec-' || cast(doc_id % 3 AS varchar)
                        ELSE '' END) AS url
        FROM documents
    ),
    pfx AS (
        SELECT doc_id, url,
               regexp_extract(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0) AS p0
        FROM urls
    ),
    parts AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(lower(p0), '://www\\.', '://'),
                   ':(80|443)$', '') AS p,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               substring(url, length(p0) + 1),
                               '#.*$', ''),
                           'utm_[a-z_]+=[^&#]*&?', '', 'g'),
                       '[?&]+$', ''),
                   '/+$', '') AS r
        FROM pfx
    )"""


def _corpus_survivors_oracle() -> str:
    """The q_corpus_survivors replay: one WITH RECURSIVE chain — URL
    canonicalization -> min-id survivors (s0/d1) -> 3-gram Jaccard
    edges + recursive connected components + longest-text canonical
    pick (s1/d2) -> boilerplate ratio filter (s2/d3) -> 8-gram
    benchmark-overlap decontamination (d4) -> XXH64(doc_id) mixture
    filter. Stage bodies are the SAME SQL the per-stage oracles run,
    retargeted at each stage's survivor relation."""
    grams_d1 = _ORACLE_GRAMS_BODY.replace("FROM documents", "FROM d1")
    inner = "SELECT doc_id, lang, source FROM d4"
    for c in _xxh64_long_cols("doc_id"):
        inner = f"SELECT *, {c} FROM ({inner})"
    ladder = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_MIX_RATES.items())
    )
    return f"""
    WITH RECURSIVE {_URL_PARTS_CTE},
    s0 AS (SELECT min(doc_id) AS doc_id FROM parts GROUP BY p || r),
    d1 AS (SELECT d.* FROM documents d JOIN s0 USING (doc_id)),
    {grams_d1},
    e0 AS (SELECT doc_a AS a, doc_b AS b FROM jac
           WHERE jaccard >= {JACCARD_T}),
    edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    ),
    clus AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    ranked AS (
        SELECT c.doc_id,
               row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY length(d.text) DESC, c.doc_id ASC
               ) AS rn
        FROM clus c JOIN d1 d USING (doc_id)
    ),
    s1 AS (
        SELECT doc_id FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM clus)
        UNION ALL
        SELECT doc_id FROM ranked WHERE rn = 1
    ),
    d2 AS (SELECT d.* FROM d1 d JOIN s1 USING (doc_id)),
    tok2 AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM d2
    ),
    segs AS (
        SELECT doc_id, array_to_string(ts[i*8+1 : i*8+8], ' ') AS seg
        FROM (SELECT doc_id, ts, unnest(range(0, len(ts) // 8)) AS i
              FROM tok2 WHERE len(ts) >= 8)
    ),
    dfreq AS (
        SELECT seg, count(DISTINCT doc_id) AS seg_df FROM segs GROUP BY seg
    ),
    perdoc AS (
        SELECT doc_id, count(*) AS n_segments,
               sum(CASE WHEN seg_df >= 2 THEN 1 ELSE 0 END) AS n_boiler
        FROM segs JOIN dfreq USING (seg) GROUP BY doc_id
    ),
    s2 AS (
        SELECT t.doc_id FROM tok2 t LEFT JOIN perdoc p USING (doc_id)
        WHERE (CASE WHEN COALESCE(p.n_segments, 0) = 0 THEN 0.0
                    ELSE CAST(p.n_boiler AS DOUBLE)
                         / CAST(p.n_segments AS DOUBLE) END) <= 0.5
    ),
    d3 AS (SELECT d.* FROM d2 d JOIN s2 USING (doc_id)),
    btok AS (
        SELECT regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents WHERE source = 'src0'
    ),
    bg AS (
        SELECT DISTINCT array_to_string(ts[i+1 : i+8], ' ') AS gram
        FROM (SELECT ts, unnest(range(0, len(ts) - 7)) AS i
              FROM btok WHERE len(ts) >= 8)
    ),
    ttok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM d3
    ),
    tg AS (
        SELECT doc_id, array_to_string(ts[i+1 : i+8], ' ') AS gram
        FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS i
              FROM ttok WHERE len(ts) >= 8)
    ),
    cagg AS (
        SELECT doc_id,
               sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_cont
        FROM tg LEFT JOIN bg b USING (gram) GROUP BY doc_id
    ),
    d4 AS (
        SELECT d.doc_id, d.lang, d.source
        FROM d3 d LEFT JOIN cagg c USING (doc_id)
        WHERE COALESCE(c.n_cont, 0) = 0
    )
    SELECT doc_id, lang, source FROM ({inner})
    WHERE ((xxh_signed % 100) + 100) % 100 < (CASE {ladder} ELSE 0 END)"""


def _gopher_stats_cte() -> str:
    """Shared CTE for the gopher_ngram_stats / gopher_quality_keep
    oracles: n fan-out, per-(doc, n, gram) counts, per-(doc, n) rollup,
    plus the character signals — top gram char mass (most frequent by
    count, ties by (char len, gram) via struct max, identical to Spark's
    max(struct)) and duplicate-coverage chars (repeat-occurrence
    position union, first occurrence excluded, joined back to per-token
    lengths) — the exact-integer replay of
    operators/quality.py:gopher_ngram_stats with default ns=(2..10)."""
    return f"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts,
               CAST(length(array_to_string(
                   regexp_extract_all(lower(text), '{TOKEN_RE}'), ''
               )) AS BIGINT) AS doc_chars
        FROM documents
    ),
    fan AS (
        SELECT doc_id, ts, doc_chars, unnest([2,3,4,5,6,7,8,9,10]) AS n
        FROM tok
    ),
    occ AS (
        SELECT doc_id, n, doc_chars, i,
               array_to_string(ts[i+1 : i+n], ' ') AS g
        FROM (
            SELECT doc_id, n, ts, doc_chars,
                   unnest(range(0, len(ts) - n + 1)) AS i
            FROM fan WHERE len(ts) >= n
        )
    ),
    cnt AS (
        SELECT doc_id, n, doc_chars, g, count(*) AS c, min(i) AS first_i
        FROM occ GROUP BY doc_id, n, doc_chars, g
    ),
    stats AS (
        SELECT doc_id, CAST(n AS INTEGER) AS n, doc_chars,
               CAST(sum(c) AS BIGINT) AS n_grams,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(max(c) AS BIGINT) AS top_count,
               max({{'c': c,
                     'clen': CAST(length(g) - (n - 1) AS BIGINT),
                     'g': g}}) AS top
        FROM cnt GROUP BY doc_id, n, doc_chars
    ),
    tokpos AS (
        SELECT doc_id, j - 1 AS j,
               CAST(length(ts[j]) AS BIGINT) AS tl
        FROM tok, unnest(range(1, len(ts) + 1)) AS u(j)
    ),
    covpos AS (
        SELECT DISTINCT doc_id, n, j FROM (
            SELECT o.doc_id, o.n, unnest(range(o.i, o.i + o.n)) AS j
            FROM occ o JOIN (
                SELECT doc_id, n, g, first_i FROM cnt WHERE c >= 2
            ) d USING (doc_id, n, g)
            WHERE o.i <> d.first_i
        )
    ),
    cov AS (
        SELECT cp.doc_id, cp.n, sum(tp.tl) AS dup_chars
        FROM covpos cp JOIN tokpos tp
          ON cp.doc_id = tp.doc_id AND cp.j = tp.j
        GROUP BY cp.doc_id, cp.n
    ),
    frac AS (
        SELECT s.doc_id, s.n, s.n_grams, s.n_distinct, s.top_count,
               CAST(s.top_count AS DOUBLE) / CAST(s.n_grams AS DOUBLE)
                   AS top_frac,
               CAST(s.n_grams - s.n_distinct AS DOUBLE)
                   / CAST(s.n_grams AS DOUBLE) AS dup_frac,
               s.doc_chars,
               CAST((s.top).c * (s.top).clen AS DOUBLE)
                   / CAST(s.doc_chars AS DOUBLE) AS top_char_frac,
               CAST(coalesce(c.dup_chars, 0) AS DOUBLE)
                   / CAST(s.doc_chars AS DOUBLE) AS dup_char_frac
        FROM stats s LEFT JOIN cov c
          ON s.doc_id = c.doc_id AND s.n = c.n
    )"""


def _gopher_keep_oracle() -> str:
    """gopher_quality_keep oracle: the threshold CASE ladder is
    regenerated from the SAME GOPHER_THRESHOLDS constant the operator
    reads, so operator and oracle cannot drift."""
    from symspellpy_spark.operators.quality import GOPHER_THRESHOLDS

    conds = [
        f"(n = {n} AND top_char_frac > {t})"
        for n, t in sorted(GOPHER_THRESHOLDS["top_char_frac"].items())
    ] + [
        f"(n = {n} AND dup_char_frac > {t})"
        for n, t in sorted(GOPHER_THRESHOLDS["dup_char_frac"].items())
    ]
    ladder = " OR ".join(conds)
    return (
        _gopher_stats_cte()
        + f""",
    viol AS (
        SELECT doc_id,
               max(CASE WHEN {ladder} THEN 1 ELSE 0 END) AS v
        FROM frac GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(CASE WHEN coalesce(v.v, 0) = 0 THEN 1 ELSE 0 END AS INTEGER)
               AS keep
    FROM documents d LEFT JOIN viol v USING (doc_id)"""
    )


def _pii_scrub_oracle() -> str:
    """DuckDB replay of q_pii_scrub: identical injection arithmetic and
    the SAME pattern text as operators/corpus_prep.py:PII_PATTERNS
    (placeholder substitution, not f-strings — the patterns contain
    braces and percent signs)."""
    from symspellpy_spark.operators.corpus_prep import PII_PATTERNS

    sql = """
    WITH aug AS (
        SELECT doc_id, text
            || (CASE WHEN doc_id % 3 = 0
                     THEN ' Contact USER' || cast(doc_id % 5 AS varchar)
                          || '@Mail' || cast(doc_id % 4 AS varchar)
                          || '.org now'
                     ELSE '' END)
            || (CASE WHEN doc_id % 4 = 1
                     THEN ' from 10.' || cast(doc_id % 256 AS varchar)
                          || '.0.' || cast(doc_id % 100 AS varchar)
                     ELSE '' END)
            || (CASE WHEN doc_id % 5 = 2
                     THEN ' call +44 123-456-'
                          || cast(1000 + doc_id % 9000 AS varchar)
                     ELSE '' END) AS t
        FROM documents
    )
    SELECT doc_id AS id,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '@EMAIL@', '<EMAIL>', 'g'),
               '@IPV4@', '<IP>', 'g'),
               '@PHONE@', '<PHONE>', 'g')) AS clean_md5,
           CAST(len(regexp_extract_all(t, '@EMAIL@')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '@IPV4@')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, '@PHONE@')) AS BIGINT) AS n_phone
    FROM aug"""
    for key, (pat, _) in PII_PATTERNS.items():
        sql = sql.replace(f"@{key.upper()}@", pat)
    return sql


def _data_mix_oracle() -> str:
    """data_mix oracle: the XXH64-of-long chain replays Spark's
    ``pmod(xxhash64(doc_id), 100)`` exactly; the CASE ladder mirrors
    the operator's per-language rates (unknown strata default 0)."""
    inner = "SELECT doc_id, lang, source FROM documents"
    for c in _xxh64_long_cols("doc_id"):
        inner = f"SELECT *, {c} FROM ({inner})"
    ladder = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_MIX_RATES.items())
    )
    return f"""
    SELECT doc_id, lang, source FROM ({inner})
    WHERE ((xxh_signed % 100) + 100) % 100 < (CASE {ladder} ELSE 0 END)"""


def _simhash_xxh_oracle() -> str:
    """simhash_pairs oracle: per-doc distinct [a-z0-9]+ tokens, XXH64
    (seed 42) per token via the SQL stage chain, 64-bit strict-majority
    bit vote (``ones*2 > n`` — the kernel votes ``ones > n/2.0``),
    wrap to signed int64, brute-force Hamming ball <= 8. Uncapped
    buckets at gate scale => the operator's block-probed pair set must
    equal this exactly."""
    base = f"""SELECT doc_id, n, unnest(ts) AS tokv FROM (
        SELECT doc_id,
               list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS ts,
               len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS n
        FROM documents
    ) WHERE n >= 1"""
    hashed = _xxh64_nested_sql(base)
    return f"""
    WITH h AS (SELECT doc_id, n, xxh AS hv FROM ({hashed})),
    bits AS (
        SELECT doc_id, n, b,
               sum(CASE WHEN (hv >> CAST(b AS UBIGINT)) & 1::UBIGINT = 1::UBIGINT
                        THEN 1 ELSE 0 END) AS ones
        FROM h, unnest(range(0, 64)) AS t(b)
        GROUP BY doc_id, n, b
    ),
    usig AS (
        SELECT doc_id,
               sum(CASE WHEN ones * 2 > n
                        THEN (1::HUGEINT << CAST(b AS INTEGER))
                        ELSE 0 END) AS us
        FROM bits GROUP BY doc_id
    ),
    sigs AS (
        SELECT doc_id,
               CAST(CASE WHEN us >= {1 << 63} THEN us - {_M64} ELSE us END
                    AS BIGINT) AS simhash
        FROM usig
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8"""


def _winnowing_xxh_oracle() -> str:
    """winnowing_xxhash oracle: XXH64 per length-8 gram via the SQL
    stage chain, signed wrap (the kernel orders candidates by SIGNED
    int64, matching Catalyst), then the window-min + rightmost-tie
    replay of the md5-family winnowing oracle."""
    base = """SELECT doc_id, p, substr(text, p, 8) AS tokv
        FROM (SELECT doc_id, text FROM documents WHERE length(text) >= 11),
             unnest(range(1, length(text) - 6)) AS t(p)"""
    hashed = _xxh64_nested_sql(base)
    return f"""
    WITH grams AS (
        SELECT doc_id, p,
               CAST(CASE WHEN xxh >= {1 << 63}
                         THEN CAST(xxh AS HUGEINT) - {_M64}
                         ELSE CAST(xxh AS HUGEINT) END AS BIGINT) AS h
        FROM ({hashed})
    ),
    win AS (
        SELECT doc_id, p, h,
               min(h) OVER (
                   PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
               ) AS wmin,
               max(p) OVER (PARTITION BY doc_id) AS m
        FROM grams
    ),
    starts AS (
        SELECT doc_id, p AS s, wmin FROM win WHERE p <= m - 3
    ),
    chosen AS (
        SELECT st.doc_id, st.s, st.wmin, max(g.p) AS pos
        FROM starts st
        JOIN grams g
          ON g.doc_id = st.doc_id
         AND g.p BETWEEN st.s AND st.s + 3
         AND g.h = st.wmin
        GROUP BY st.doc_id, st.s, st.wmin
    )
    SELECT DISTINCT doc_id, pos, wmin AS fingerprint FROM chosen"""


def _winnowing_pairs_oracle(k: int = 15, window: int = 8, cap: int = 20) -> str:
    """winnowing_pairs oracle: XXH64 per length-``k`` gram (SQL stage
    chain, <=15 supported), signed wrap, window-min over ``window``
    gram positions, DISTINCT (doc_id, fingerprint) — pair generation
    needs the fingerprint set only, so the rightmost-tie position
    replay is unnecessary here — then the capped-bucket self-join:
    buckets with 1 < size <= ``cap`` pair their members, larger buckets
    (boilerplate) are dropped, matching _bucket_pairs exactly."""
    min_len = k + window - 1
    base = f"""SELECT doc_id, p, substr(text, p, {k}) AS tokv
        FROM (SELECT doc_id, text FROM documents WHERE length(text) >= {min_len}),
             unnest(range(1, length(text) - {k - 2})) AS t(p)"""
    hashed = _xxh64_nested_sql(base)
    return f"""
    WITH grams AS (
        SELECT doc_id, p,
               CAST(CASE WHEN xxh >= {1 << 63}
                         THEN CAST(xxh AS HUGEINT) - {_M64}
                         ELSE CAST(xxh AS HUGEINT) END AS BIGINT) AS h
        FROM ({hashed})
    ),
    win AS (
        SELECT doc_id,
               min(h) OVER (
                   PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING
               ) AS wmin,
               p, max(p) OVER (PARTITION BY doc_id) AS m
        FROM grams
    ),
    fp AS (
        SELECT DISTINCT doc_id AS id, wmin AS fingerprint
        FROM win WHERE p <= m - {window - 1}
    ),
    sized AS (
        SELECT id, fingerprint,
               count(*) OVER (PARTITION BY fingerprint) AS bs
        FROM fp
    ),
    capped AS (
        SELECT id, fingerprint FROM sized WHERE bs > 1 AND bs <= {cap}
    )
    SELECT a.id AS id_a, b.id AS id_b,
           count(*) AS shared_fingerprints
    FROM capped a JOIN capped b
      ON a.fingerprint = b.fingerprint AND a.id < b.id
    GROUP BY a.id, b.id"""


def oracle_sql() -> dict[str, str]:
    lookup_base = (
        _ORACLE_VOCAB
        + ", "
        + _ORACLE_QUERIES
        + """,
    cand AS (
        SELECT q.query, v.term,
               CAST(levenshtein(q.query, v.term) AS INTEGER) AS distance,
               v.count
        FROM queries q CROSS JOIN vocab v
        WHERE abs(length(q.query) - length(v.term)) <= {d}
          AND levenshtein(q.query, v.term) <= {d}
    )
"""
    )
    return {
        "vocab_build": _ORACLE_VOCAB + "SELECT term, count FROM vocab",
        "deletes_index": _ORACLE_VOCAB
        + """,
    above AS (SELECT term FROM vocab WHERE count >= 3),
    pref AS (SELECT term, substr(term, 1, 7) AS p FROM above),
    lvl1 AS (
        SELECT term,
               substr(p, 1, i - 1) || substr(p, i + 1, 2147483647) AS delete_key
        FROM (SELECT term, p, unnest(range(1, length(p) + 1)) AS i FROM pref)
    )
    SELECT DISTINCT term, delete_key FROM (
        SELECT term, p AS delete_key FROM pref
        UNION ALL SELECT term, delete_key FROM lvl1
        UNION ALL SELECT term, '' FROM above WHERE length(term) <= 1
    )""",
        "lookup_top": lookup_base.format(d=2)
        + """
    SELECT query, term, distance, count FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query ORDER BY distance, count DESC, term
        ) AS rn FROM cand
    ) WHERE rn = 1""",
        "lookup_closest": lookup_base.format(d=2)
        + """
    SELECT query, term, distance, count FROM (
        SELECT *, min(distance) OVER (PARTITION BY query) AS mind FROM cand
    ) WHERE distance = mind""",
        "lookup_all": lookup_base.format(d=1)
        + """
    SELECT query, term, distance, count FROM cand""",
        "membership_probe": _ORACLE_VOCAB
        + """
    SELECT term AS query, term, 0 AS distance, count
    FROM vocab WHERE length(term) >= 7""",
        "exact_dedup": """
    WITH h AS (SELECT doc_id, md5(text) AS text_md5 FROM documents),
    g AS (SELECT text_md5, min(doc_id) AS group_id, count(*) AS n_dups
          FROM h GROUP BY text_md5)
    SELECT h.doc_id, g.group_id, g.n_dups FROM h JOIN g USING (text_md5)""",
        "ngram_jaccard_pairs": _ORACLE_GRAMS
        + f"""
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {JACCARD_T}""",
        "minhash_lsh_pairs": _ORACLE_GRAMS
        + """
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.9""",
        "dedup_clusters": "\n    WITH RECURSIVE "
        + _ORACLE_GRAMS_BODY
        + f""",
    e0 AS (SELECT doc_a AS a, doc_b AS b FROM jac WHERE jaccard >= {JACCARD_T}),
    edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    )
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""",
        "dedup_survivors": "\n    WITH RECURSIVE "
        + _ORACLE_GRAMS_BODY
        + f""",
    e0 AS (SELECT doc_a AS a, doc_b AS b FROM jac WHERE jaccard >= {JACCARD_T}),
    edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    ),
    clus AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    ranked AS (
        SELECT c.doc_id, c.cluster_id,
               row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY length(d.text) DESC, c.doc_id ASC
               ) AS rn
        FROM clus c JOIN documents d USING (doc_id)
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM clus)
    UNION ALL
    SELECT doc_id FROM ranked WHERE rn = 1""",
        "embedding_topk": """
    WITH q AS (SELECT vec_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    pairs AS (
        SELECT q.vec_id, c.vec_id AS neighbor_id, q.qv, c.embedding AS cv
        FROM q CROSS JOIN embeddings c WHERE q.vec_id != c.vec_id
    ),
    flat AS (
        SELECT vec_id, neighbor_id,
               CAST(unnest(qv) AS DOUBLE) AS a, CAST(unnest(cv) AS DOUBLE) AS b
        FROM pairs
    ),
    scored AS (
        SELECT vec_id, neighbor_id,
               sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))) AS cos
        FROM flat GROUP BY vec_id, neighbor_id
    )
    SELECT vec_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos DESC, neighbor_id
        ) AS rn FROM scored
    ) WHERE rn <= 5""",
        "text_quality": f"""
    WITH t AS (
        SELECT doc_id, n_chars,
               regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / len(toks) AS avg_token_len,
           CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_token
    FROM t WHERE len(toks) > 0""",
        "langid": f"""
    WITH t AS (
        SELECT doc_id,
               list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS toks
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(len(list_intersect(toks,
                   ['the','of','and','to','in','is','was','for','it','with','as','on','be','at','by']
               )) AS INTEGER) AS stopword_hits
        FROM t
    )
    SELECT doc_id, stopword_hits,
           CASE WHEN stopword_hits >= 2 THEN 'en' ELSE 'other' END AS lang_guess
    FROM h""",
        "sessionize": """
    WITH e AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id FROM events
    ),
    lagd AS (
        SELECT *, lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev
        FROM e
    ),
    flagged AS (
        SELECT *, CASE WHEN prev IS NULL OR ts_s - prev > 1800 THEN 1 ELSE 0 END AS new_s
        FROM lagd
    ),
    sess AS (
        -- DuckDB's windowed sum over INTEGER yields HUGEINT; Spark yields
        -- BIGINT. The driver's value-hash is type-sensitive, so cast.
        SELECT *, CAST(sum(new_s) OVER (
            PARTITION BY user_id ORDER BY ts_s, event_id ROWS UNBOUNDED PRECEDING
        ) AS BIGINT) AS session_idx FROM flagged
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           min(ts_s) AS start_s, max(ts_s) AS end_s
    FROM sess GROUP BY user_id, session_idx""",
        "lsh_cosine_topk": _lsh_cosine_topk_oracle(),
        "ivf_cosine_topk": _ivf_cosine_topk_oracle(),
        "semantic_dedup": _semantic_dedup_oracle(),
        "boilerplate_segments": f"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents
    ),
    segs AS (
        SELECT doc_id, array_to_string(ts[i*8+1 : i*8+8], ' ') AS seg
        FROM (SELECT doc_id, ts, unnest(range(0, len(ts) // 8)) AS i
              FROM tok WHERE len(ts) >= 8)
    ),
    dfreq AS (
        SELECT seg, count(DISTINCT doc_id) AS seg_df FROM segs GROUP BY seg
    ),
    perdoc AS (
        SELECT doc_id, count(*) AS n_segments,
               CAST(sum(CASE WHEN seg_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boilerplate
        FROM segs JOIN dfreq USING (seg) GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
           COALESCE(p.n_segments, 0) AS n_segments,
           COALESCE(p.n_boilerplate, 0) AS n_boilerplate,
           CASE WHEN COALESCE(p.n_segments, 0) = 0 THEN 0.0
                ELSE CAST(p.n_boilerplate AS DOUBLE)
                     / CAST(p.n_segments AS DOUBLE)
           END AS boiler_ratio
    FROM tok t LEFT JOIN perdoc p USING (doc_id)""",
        "ngram_contamination": f"""
    WITH tok AS (
        SELECT doc_id, source,
               regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents
    ),
    bg AS (
        SELECT DISTINCT array_to_string(ts[i+1 : i+8], ' ') AS gram
        FROM (SELECT ts, unnest(range(0, len(ts) - 7)) AS i
              FROM tok WHERE source = 'src0' AND len(ts) >= 8)
    ),
    tg AS (
        SELECT doc_id, array_to_string(ts[i+1 : i+8], ' ') AS gram
        FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS i
              FROM tok WHERE source != 'src0' AND len(ts) >= 8)
    ),
    agg AS (
        SELECT doc_id, count(*) AS n_grams,
               CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated
        FROM tg LEFT JOIN bg b USING (gram) GROUP BY doc_id
    )
    SELECT t.doc_id, COALESCE(a.n_grams, 0) AS n_grams,
           COALESCE(a.n_contaminated, 0) AS n_contaminated
    FROM (SELECT doc_id FROM documents WHERE source != 'src0') t
    LEFT JOIN agg a USING (doc_id)""",
        "data_mix": _data_mix_oracle(),
        "passage_chunks": """
    WITH toks AS (
        SELECT doc_id AS id, string_split(text, ' ') AS ts
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    sized AS (
        SELECT id, ts,
               1 + greatest(0, (len(ts) - 64 + 48 - 1) // 48) AS n_chunks
        FROM toks
    ),
    fanned AS (
        SELECT id, ts,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        FROM sized
    )
    SELECT id, chunk_id,
           array_to_string(list_slice(ts, chunk_id * 48 + 1,
                                      chunk_id * 48 + 64), ' ')
               AS chunk_text,
           len(list_slice(ts, chunk_id * 48 + 1, chunk_id * 48 + 64))
               AS n_tokens
    FROM fanned""",
        "dup_spans": _DUP_SPANS_CTE
        + """
    SELECT id, span_id, span_start, span_end, n_grams FROM sp""",
        "dup_span_removal": _DUP_SPANS_CTE
        + """,
    tokpos AS (
        SELECT id, ts, unnest(generate_series(1, len(ts))) AS i FROM tok
    ),
    kept AS (
        SELECT p.id, p.i AS pos, p.ts[p.i] AS tok
        FROM tokpos p
        WHERE NOT EXISTS (
            SELECT 1 FROM sp s
            WHERE s.id = p.id AND p.i - 1 >= s.span_start
              AND p.i - 1 < s.span_end)
    ),
    agg AS (
        SELECT id, string_agg(tok, ' ' ORDER BY pos) AS ct,
               count(*) AS nk
        FROM kept GROUP BY id
    )
    SELECT t.id,
           coalesce(a.ct, '') AS clean_text,
           CAST(len(t.ts) AS BIGINT) AS n_tokens,
           CAST(len(t.ts) - coalesce(a.nk, 0) AS BIGINT)
               AS n_tokens_removed
    FROM tok t LEFT JOIN agg a USING (id)
    UNION ALL
    SELECT doc_id AS id, text AS clean_text,
           CAST(0 AS BIGINT) AS n_tokens,
           CAST(0 AS BIGINT) AS n_tokens_removed
    FROM documents WHERE text IS NULL OR length(text) = 0""",
        "url_dedup": "\n    WITH "
        + _URL_PARTS_CTE
        + """
    SELECT p || r AS canonical_url, min(doc_id) AS survivor_id,
           count(*) AS n_dups
    FROM parts GROUP BY p || r""",
        "corpus_survivors": _corpus_survivors_oracle(),
        "pii_scrub": _pii_scrub_oracle(),
        "gopher_ngram_stats": _gopher_stats_cte()
        + """
    SELECT doc_id, n, n_grams, n_distinct, top_count, top_frac, dup_frac,
           doc_chars, top_char_frac, dup_char_frac
    FROM frac""",
        "gopher_quality_keep": _gopher_keep_oracle(),
        "gopher_repetition": f"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents WHERE len(regexp_extract_all(lower(text),
                                                    '{TOKEN_RE}')) >= 2
    ),
    big AS (
        SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM tok)
    ),
    bstats AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
               CAST(max(c) AS BIGINT) AS top_bigram_count
        FROM (SELECT doc_id, bg, count(*) AS c FROM big
              GROUP BY doc_id, bg)
        GROUP BY doc_id
    ),
    g8 AS (
        SELECT doc_id, count(*) AS n_8grams,
               count(DISTINCT g) AS n_distinct
        FROM (
            SELECT doc_id, array_to_string(ts[i+1 : i+8], ' ') AS g
            FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS i
                  FROM tok WHERE len(ts) >= 8)
        ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_bigrams, b.top_bigram_count,
           CAST(b.top_bigram_count AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE)
               AS top_bigram_frac,
           COALESCE(g.n_8grams, 0) AS n_8grams,
           COALESCE(g.n_8grams, 0) - COALESCE(g.n_distinct, 0)
               AS n_dup_8grams,
           CASE WHEN COALESCE(g.n_8grams, 0) = 0 THEN 0.0
                ELSE CAST(g.n_8grams - g.n_distinct AS DOUBLE)
                     / CAST(g.n_8grams AS DOUBLE)
           END AS dup_8gram_frac
    FROM bstats b LEFT JOIN g8 g USING (doc_id)""",
        "tfidf_top_terms": f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT t.doc_id, t.term,
               t.tf * ((SELECT count(*) FROM documents) * 1000000 // d.df)
                   AS score
        FROM tf t JOIN dfreq d USING (term)
    )
    SELECT doc_id, term, score, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term
        ) AS rn FROM scored
    ) WHERE rn <= 3""",
        "embedding_dup_pairs": """
    WITH pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS va, b.embedding AS vb
        FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id < b.vec_id
    ),
    flat AS (
        SELECT id_a, id_b,
               CAST(unnest(va) AS DOUBLE) AS x, CAST(unnest(vb) AS DOUBLE) AS y
        FROM pairs
    ),
    scored AS (
        SELECT id_a, id_b,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
        FROM flat GROUP BY id_a, id_b
    )
    SELECT id_a, id_b FROM scored WHERE cos >= 0.35""",
        "lm_bigram_coverage": f"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents
    ),
    corpus_pairs AS (
        SELECT ts[i] || ' ' || ts[i+1] AS bigram
        FROM (SELECT ts, unnest(range(1, len(ts))) AS i
              FROM tok WHERE len(ts) >= 2)
    ),
    bigrams AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS bcount
        FROM corpus_pairs GROUP BY bigram
    ),
    doc_pairs AS (
        SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bigram
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
              FROM tok WHERE len(ts) >= 2)
    )
    SELECT d.doc_id,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN b.bcount >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_frequent,
           CAST(sum(b.bcount) AS BIGINT) AS sum_pair_count
    FROM doc_pairs d LEFT JOIN bigrams b USING (bigram)
    GROUP BY d.doc_id""",
        "token_count": """
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INTEGER) AS n_word_tokens,
           CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS INTEGER) AS n_symbol_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
              + len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS INTEGER) AS n_total
    FROM documents""",
        "shingle_count": """
    WITH tok AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9_' || chr(39) || ']+') AS ts
        FROM documents
    ),
    pos AS (
        SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS i
        FROM tok WHERE len(ts) >= 5
    ),
    counted AS (
        SELECT doc_id, count(DISTINCT array_to_string(ts[i:i+4], ' ')) AS n
        FROM pos GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(CASE WHEN len(t.ts) = 0 THEN 0
                     WHEN len(t.ts) < 5 THEN 1
                     ELSE c.n END AS INTEGER) AS n_shingles
    FROM tok t LEFT JOIN counted c USING (doc_id)""",
        "doc_fingerprints": """
    WITH pos AS (
        SELECT doc_id, text, unnest(range(1, length(text) - 22)) AS p
        FROM documents WHERE length(text) >= 24
    ),
    fp AS (SELECT doc_id, md5(substr(text, p, 24)) AS fingerprint FROM pos)
    SELECT DISTINCT doc_id, fingerprint FROM fp WHERE substr(fingerprint, 1, 1) = '0'""",
        "bigram_build": f"""
    WITH tok AS (
        SELECT regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts FROM documents
    ),
    pairs AS (
        SELECT ts[i] || ' ' || ts[i+1] AS bigram
        FROM (SELECT ts, unnest(range(1, len(ts))) AS i
              FROM tok WHERE len(ts) >= 2)
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS count FROM pairs GROUP BY bigram""",
        "acronym_tokens": r"""
    WITH toks AS (
        SELECT DISTINCT unnest(
            regexp_extract_all(p_brand || ' ' || p_type, '[A-Za-z0-9]+')
        ) AS token
        FROM part
    )
    SELECT token,
           CAST(regexp_matches(token, '\b[A-Z0-9]{2,}\b') AS INTEGER) AS is_acronym,
           CAST(regexp_matches(token, '\b[A-Z0-9]{2,}\b')
                OR regexp_matches(token, '\d') AS INTEGER) AS is_acronym_digits
    FROM toks""",
        "lookup_similarity": lookup_base.format(d=2)
        + """
    SELECT query, term,
           1.0 - CAST(distance AS DOUBLE) / length(term) AS similarity
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query ORDER BY distance, count DESC, term
        ) AS rn FROM cand
    ) WHERE rn = 1""",
        "delete_entry_maintenance": _ORACLE_VOCAB
        + """,
    ranked AS (
        SELECT term, row_number() OVER (ORDER BY count DESC, term) AS rn
        FROM vocab WHERE count >= 3
    ),
    keep AS (SELECT term FROM ranked WHERE rn > 5),
    pref AS (SELECT term, substr(term, 1, 7) AS p FROM keep),
    lvl1 AS (
        SELECT term,
               substr(p, 1, i - 1) || substr(p, i + 1, 2147483647) AS delete_key
        FROM (SELECT term, p, unnest(range(1, length(p) + 1)) AS i FROM pref)
    )
    SELECT DISTINCT term, delete_key FROM (
        SELECT term, p AS delete_key FROM pref
        UNION ALL SELECT term, delete_key FROM lvl1
        UNION ALL SELECT term, '' FROM keep WHERE length(term) <= 1
    )""",
        # Production winnowing kernel with the xxhash64 family (see
        # q_winnowing_xxhash): XXH64 SQL stage chain per gram.
        "winnowing_xxhash": _winnowing_xxh_oracle(),
        "winnowing_pairs": _winnowing_pairs_oracle(),
        # drained-stream fixpoints: the accumulated end-state must equal
        # the batch operator, so the batch oracles apply verbatim
        "streaming_lsh_pairs": _ORACLE_GRAMS
        + """
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.9""",
        "streaming_winnow_fps": f"""
    SELECT DISTINCT doc_id, fingerprint
    FROM ({_winnowing_xxh_oracle()}) wfp""",
        "streaming_simhash_pairs": _simhash_xxh_oracle(),
        "streaming_exact_dedup": """
    SELECT md5(text) AS text_md5,
           min(CAST(doc_id AS VARCHAR)) AS first_url,
           count(*) AS n_seen
    FROM documents GROUP BY md5(text)""",
        # Winnowing (see q_winnowing_fingerprints): same gram hashes,
        # window-min, rightmost tie, distinct selections.
        "winnowing_fingerprints": """
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE length(text) >= 11
    ),
    grams AS (
        SELECT doc_id, p,
               CAST(concat('0x', substr(md5(substr(text, p, 8)), 1, 15))
                    AS BIGINT) AS h
        FROM d, unnest(range(1, length(text) - 6)) AS t(p)
    ),
    win AS (
        SELECT doc_id, p, h,
               min(h) OVER (
                   PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
               ) AS wmin,
               max(p) OVER (PARTITION BY doc_id) AS m
        FROM grams
    ),
    starts AS (
        SELECT doc_id, p AS s, wmin FROM win WHERE p <= m - 3
    ),
    chosen AS (
        SELECT st.doc_id, st.s, st.wmin, max(g.p) AS pos
        FROM starts st
        JOIN grams g
          ON g.doc_id = st.doc_id
         AND g.p BETWEEN st.s AND st.s + 3
         AND g.h = st.wmin
        GROUP BY st.doc_id, st.s, st.wmin
    )
    SELECT DISTINCT doc_id, pos, wmin AS fingerprint FROM chosen""",
        # Production SimHash machinery over an md5-derived hash family
        # (see q_simhash_md5_pairs): signature = strict-majority bit
        # vote over per-token 60-bit hashes; expected pairs = the
        # brute-force Hamming ball (uncapped buckets => operator output
        # must equal it exactly).
        # Production SimHash end-to-end — xxhash64 hash family included
        # (XXH64 seed 42 re-implemented as SQL stages, see
        # _simhash_xxh_oracle/_xxh64_cols): expected pairs = brute-force
        # Hamming ball over relationally recomputed signatures.
        "simhash_pairs": _simhash_xxh_oracle(),
        "simhash_md5_pairs": f"""
    WITH tok AS (
        SELECT doc_id,
               list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS ts
        FROM documents
    ),
    t2 AS (
        SELECT doc_id, len(ts) AS n, unnest(ts) AS tokv
        FROM tok WHERE len(ts) >= 1
    ),
    h AS (
        SELECT doc_id, n,
               CAST(concat('0x', substr(md5(tokv), 1, 15)) AS BIGINT) AS hv
        FROM t2
    ),
    bits AS (
        SELECT doc_id, n, b,
               sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE 0 END) AS ones
        FROM h, unnest(range(0, 60)) AS t(b)
        GROUP BY doc_id, n, b
    ),
    sigs AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN ones * 2 > n
                             THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""",
        # Deterministic lookup_compound slice (see q_compound_correct):
        # per-token TOP lookup + concat + the reference's sequential
        # naive-Bayes count chain (joined_count *= count/N in token
        # order, truncated to int64 — replayed with list_reduce so the
        # float op order is bit-identical).
        "compound_correct": f"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents WHERE doc_id < 50
    ),
    vtok AS (
        SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ),
    vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS count FROM vtok GROUP BY term),
    base AS (
        SELECT doc_id,
               substr(ts[1], 1, 1) || substr(ts[1], 3, 2147483647) AS m0,
               ts[2:8] AS rest
        FROM tok WHERE len(ts) >= 8 AND length(ts[1]) >= 5
    ),
    eligible AS (
        SELECT b.doc_id, b.m0, b.rest FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM vocab v WHERE v.term = b.m0 || b.rest[1])
    ),
    cand AS (
        SELECT e.doc_id, v.term, levenshtein(e.m0, v.term) AS d, v.count
        FROM eligible e CROSS JOIN vocab v
        WHERE abs(length(e.m0) - length(v.term)) <= 2
          AND levenshtein(e.m0, v.term) <= 2
    ),
    top0 AS (
        SELECT doc_id, term, d, count FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY d, count DESC, term
            ) AS rn FROM cand
        ) WHERE rn = 1
    ),
    restc AS (
        SELECT e.doc_id, i, v.count
        FROM eligible e, unnest(range(1, len(e.rest) + 1)) AS t(i)
        JOIN vocab v ON v.term = e.rest[i]
    ),
    chain AS (
        SELECT doc_id, list(CAST(count AS DOUBLE) ORDER BY i) AS cs
        FROM restc GROUP BY doc_id
    )
    SELECT e.doc_id,
           t.term || ' ' || array_to_string(e.rest, ' ') AS term,
           CAST(levenshtein(e.m0 || ' ' || array_to_string(e.rest, ' '),
                            t.term || ' ' || array_to_string(e.rest, ' ')) AS INT)
               AS distance,
           CAST(trunc(list_reduce(
               list_prepend(CAST({DEFAULT_CORPUS_N} AS DOUBLE),
                            list_prepend(CAST(t.count AS DOUBLE), c.cs)),
               (acc, x) -> acc * (x / {DEFAULT_CORPUS_N}))) AS BIGINT) AS count
    FROM eligible e
    JOIN top0 t USING (doc_id)
    JOIN chain c USING (doc_id)""",
        # FULL lookup_compound fold replay (symspellpy.py:639-865) over
        # raw noisy substrings — merge AND split branches live. Per
        # token: TOP lookup (distance, count DESC, term); merge gate
        # (combi_dist+1 vs best1+best2 with the naive-Bayes count
        # tie-break and is_last_combi carry); stateful split_best scan
        # over split points in j order (the skip / invalidate / count-
        # compare state machine), Naive-Bayes split count
        # trunc(p1/N*p2) (no bigram table => the bigram_count_min
        # branch, 2^63-1, never binds); unknown fallback
        # (term, d+1, 10//10^len). The sequential fold is a recursive
        # CTE carrying (parts list, is_last_combi); the final joined
        # count replays the float chain N * prod(c/N) in part order.
        # LEVENSHTEIN dictionary => every distance is DuckDB
        # levenshtein() exactly (see q_compound_noisy docstring).
        # The split scan's result (`fin`) is a plain column of `rowsj`,
        # not a correlated scalar subquery: DuckDB 1.0.0 returned other
        # rows' split results from that subquery.
        "compound_noisy": f"""
    WITH RECURSIVE tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ),
    vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS count FROM tok GROUP BY term),
    ph AS (
        SELECT doc_id,
               ts[1] || ts[2] || ' ' || substr(ts[3], 1, 2) || ' '
               || substr(ts[3], 3, 2147483647) || ' '
               || array_to_string(ts[4:8], ' ') AS phrase
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
              FROM documents WHERE doc_id < 50)
        WHERE len(ts) >= 8 AND length(ts[3]) >= 5
    ),
    toks AS (
        SELECT doc_id, phrase, i - 1 AS pos, ts[i] AS term1,
               CASE WHEN i > 1 THEN ts[i - 1] || ts[i] END AS combo
        FROM (SELECT doc_id, phrase,
                     regexp_extract_all(phrase, '{TOKEN_RE}') AS ts
              FROM ph),
             unnest(range(1, len(ts) + 1)) AS t(i)
    ),
    oov AS (
        SELECT DISTINCT term1 FROM toks t
        WHERE length(term1) > 1
          AND NOT EXISTS (SELECT 1 FROM vocab v WHERE v.term = t.term1)
    ),
    split_rows AS (
        SELECT term1, j, substr(term1, 1, j) AS part1,
               substr(term1, j + 1, 2147483647) AS part2
        FROM oov, unnest(range(1, length(term1))) AS t(j)
    ),
    strs AS (
        SELECT DISTINCT q FROM (
            SELECT term1 AS q FROM toks
            UNION ALL SELECT combo FROM toks WHERE combo IS NOT NULL
            UNION ALL SELECT part1 FROM split_rows
            UNION ALL SELECT part2 FROM split_rows
        ) WHERE q IS NOT NULL
    ),
    lut AS (
        SELECT q AS query, term AS s_term,
               CAST(d AS INTEGER) AS s_dist, count AS s_count
        FROM (
            SELECT s.q, v.term, levenshtein(s.q, v.term) AS d, v.count,
                   row_number() OVER (
                       PARTITION BY s.q
                       ORDER BY levenshtein(s.q, v.term), v.count DESC, v.term
                   ) AS rn
            FROM strs s JOIN vocab v
              ON abs(length(s.q) - length(v.term)) <= 2
             AND levenshtein(s.q, v.term) <= 2
        ) WHERE rn = 1
    ),
    split_scored AS (
        SELECT sr.term1, sr.j,
               l1.s_term || ' ' || l2.s_term AS tmp_term,
               CAST(least(levenshtein(sr.term1, l1.s_term || ' ' || l2.s_term),
                          3) AS INTEGER) AS tmp_dist,
               floor(CAST(l1.s_count AS DOUBLE) / {DEFAULT_CORPUS_N}
                     * CAST(l2.s_count AS DOUBLE)) AS tmp_cnt
        FROM split_rows sr
        JOIN lut l1 ON l1.query = sr.part1
        JOIN lut l2 ON l2.query = sr.part2
    ),
    split_red AS (
        SELECT ss.term1,
               list(struct_pack(has := true, term := ss.tmp_term,
                                dist := ss.tmp_dist,
                                cnt := ss.tmp_cnt) ORDER BY ss.j) AS cands
        FROM split_scored ss GROUP BY ss.term1
    ),
    rowsj AS (
        SELECT t.doc_id, t.pos, t.term1,
               lc.s_term AS combi_term, lc.s_dist AS combi_dist,
               lc.s_count AS combi_count,
               ls.s_term, ls.s_dist, ls.s_count,
               list_reduce(
                   list_prepend(
                       struct_pack(
                           has := ls.s_term IS NOT NULL,
                           term := COALESCE(ls.s_term, ''),
                           dist := COALESCE(ls.s_dist, CAST(999 AS INTEGER)),
                           cnt := CASE WHEN ls.s_term IS NOT NULL
                                       THEN CAST(ls.s_count AS DOUBLE)
                                       ELSE -1.0 END),
                       COALESCE(sr.cands,
                                CAST([] AS STRUCT(has BOOLEAN,
                                     term VARCHAR, dist INTEGER,
                                     cnt DOUBLE)[]))),
                   (acc, c) -> CASE
                       WHEN acc.has AND c.dist > acc.dist THEN acc
                       WHEN (NOT acc.has) OR c.dist < acc.dist
                            OR c.cnt > acc.cnt
                       THEN struct_pack(has := true, term := c.term,
                                        dist := c.dist, cnt := c.cnt)
                       ELSE acc END) AS fin
        FROM toks t
        LEFT JOIN lut ls ON ls.query = t.term1
        LEFT JOIN lut lc ON lc.query = t.combo
        LEFT JOIN split_red sr ON sr.term1 = t.term1
    ),
    rowsx AS (
        SELECT doc_id, pos, term1, combi_term, combi_dist, combi_count,
               struct_pack(
                   dist := COALESCE(s_dist, 3),
                   cnt := CASE WHEN s_term IS NOT NULL
                               THEN CAST(s_count AS DOUBLE)
                               WHEN length(term1) = 1 THEN 1.0
                               ELSE 0.0 END
               ) AS b2,
               CASE
                 WHEN s_term IS NOT NULL
                      AND (s_dist = 0 OR length(term1) = 1)
                 THEN struct_pack(term := s_term,
                                  dist := s_dist,
                                  cnt := CAST(s_count AS DOUBLE))
                 WHEN length(term1) > 1 AND fin.has
                 THEN struct_pack(term := fin.term,
                                  dist := fin.dist,
                                  cnt := fin.cnt)
                 WHEN length(term1) > 1
                 THEN struct_pack(term := term1,
                                  dist := CAST(3 AS INTEGER),
                                  cnt := 0.0)
                 ELSE struct_pack(term := term1, dist := CAST(3 AS INTEGER),
                                  cnt := 1.0)
               END AS part_nm
        FROM rowsj
    ),
    fold AS (
        SELECT doc_id, -1 AS t,
               CAST([] AS STRUCT(term VARCHAR, dist INTEGER, cnt DOUBLE)[]) AS hist,
               false AS lastcombi
        FROM ph
        UNION ALL
        SELECT f.doc_id, f.t + 1,
               CASE WHEN f.t >= 0 AND NOT f.lastcombi
                         AND r.combi_term IS NOT NULL
                         AND (r.combi_dist + 1
                                < f.hist[len(f.hist)].dist + r.b2.dist
                              OR (r.combi_dist + 1
                                    = f.hist[len(f.hist)].dist + r.b2.dist
                                  AND CAST(r.combi_count AS DOUBLE)
                                        > f.hist[len(f.hist)].cnt
                                          / {DEFAULT_CORPUS_N} * r.b2.cnt))
                    THEN list_append(f.hist[1:len(f.hist) - 1],
                                     struct_pack(term := r.combi_term,
                                                 dist := CAST(r.combi_dist + 1
                                                              AS INTEGER),
                                                 cnt := CAST(r.combi_count
                                                             AS DOUBLE)))
                    ELSE list_append(f.hist, r.part_nm) END,
               (f.t >= 0 AND NOT f.lastcombi AND r.combi_term IS NOT NULL
                AND (r.combi_dist + 1 < f.hist[len(f.hist)].dist + r.b2.dist
                     OR (r.combi_dist + 1
                           = f.hist[len(f.hist)].dist + r.b2.dist
                         AND CAST(r.combi_count AS DOUBLE)
                               > f.hist[len(f.hist)].cnt
                                 / {DEFAULT_CORPUS_N} * r.b2.cnt)))
        FROM fold f JOIN rowsx r ON r.doc_id = f.doc_id AND r.pos = f.t + 1
    ),
    final AS (
        SELECT f.doc_id, f.hist
        FROM fold f
        JOIN (SELECT doc_id, max(pos) AS mp FROM toks GROUP BY doc_id) mx
          ON mx.doc_id = f.doc_id AND f.t = mx.mp
    )
    SELECT p.doc_id,
           array_to_string(list_transform(f.hist, x -> x.term), ' ') AS term,
           CAST(levenshtein(p.phrase,
                array_to_string(list_transform(f.hist, x -> x.term), ' '))
                AS INT) AS distance,
           CAST(trunc(list_reduce(
               list_prepend(CAST({DEFAULT_CORPUS_N} AS DOUBLE),
                            list_transform(f.hist, x -> x.cnt)),
               (acc, c) -> acc * (c / {DEFAULT_CORPUS_N}))) AS BIGINT) AS count
    FROM final f JOIN ph p USING (doc_id)""",
        # Replays the reference's triangular segmentation DP
        # (symspellpy.py:867-1015) as a recursive-CTE prefix DP: best[p]
        # (the Composition for the length-p prefix) is folded left over
        # candidates (j, i=p-j) in ascending-j order — the exact write
        # order of the circular-buffer loop — with the reference's
        # replace condition, including the separator-length equality
        # quirk (`dist IN (cand, cand - 1)`) and log-prob tie-break.
        # Valid for THIS corpus (ASCII, no whitespace after gluing, no
        # punctuation), where NFKC / capitalization-retention / the
        # punctuation concat branch are all identity.
        "word_segmentation": f"""
    WITH RECURSIVE tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ),
    vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS count FROM tok GROUP BY term),
    maxw AS (SELECT max(length(term)) AS L FROM vocab),
    ph AS (
        SELECT doc_id, replace(substr(text, 1, 80), ' ', '') AS phrase,
               length(replace(substr(text, 1, 80), ' ', '')) AS n
        FROM documents
        WHERE doc_id < 50 AND length(replace(substr(text, 1, 80), ' ', '')) > 0
    ),
    cells AS (
        SELECT p.doc_id, j, i, substr(p.phrase, j + 1, i) AS part
        FROM ph p, maxw m,
             unnest(range(0, p.n)) AS tj(j),
             unnest(range(1, least(p.n - tj.j, m.L) + 1)) AS ti(i)
    ),
    scored AS (
        SELECT c.doc_id, c.j, c.i, c.part,
               CASE WHEN v.term IS NULL THEN length(c.part) ELSE 0 END AS top_ed,
               CASE WHEN v.term IS NULL
                    THEN 1.0 - log10(CAST({DEFAULT_CORPUS_N} AS DOUBLE))
                         - CAST(length(c.part) AS DOUBLE)
                    ELSE log10(CAST(v.count AS DOUBLE) / {DEFAULT_CORPUS_N})
               END AS top_logp
        FROM cells c LEFT JOIN vocab v ON v.term = c.part
    ),
    dp AS (
        SELECT doc_id, 0 AS t,
               [{{'seg': '', 'corr': '', 'dist': 0,
                  'logp': CAST(0.0 AS DOUBLE), 'cmp': 0}}] AS hist
        FROM ph
        UNION ALL
        SELECT d.doc_id, d.t + 1,
               list_append(d.hist, (
                   SELECT list_reduce(
                       list({{'seg': CASE WHEN s.j = 0 THEN s.part
                                          ELSE d.hist[s.j + 1].seg || ' ' || s.part END,
                             'corr': CASE WHEN s.j = 0 THEN s.part
                                          ELSE d.hist[s.j + 1].corr || ' ' || s.part END,
                             'dist': CASE WHEN s.j = 0 THEN s.top_ed
                                          ELSE d.hist[s.j + 1].dist + 1 + s.top_ed END,
                             'logp': CASE WHEN s.j = 0 THEN s.top_logp
                                          ELSE d.hist[s.j + 1].logp + s.top_logp END,
                             'cmp': CASE WHEN s.j = 0 THEN s.top_ed
                                         ELSE d.hist[s.j + 1].dist + 1 + s.top_ed END}}
                            ORDER BY s.j),
                       (acc, c) -> CASE WHEN c.cmp < acc.dist
                                         OR (acc.dist IN (c.cmp, c.cmp - 1)
                                             AND acc.logp < c.logp)
                                   THEN c ELSE acc END)
                   FROM scored s
                   WHERE s.doc_id = d.doc_id AND s.j + s.i = d.t + 1
               ))
        FROM dp d JOIN ph p ON p.doc_id = d.doc_id
        WHERE d.t < p.n
    )
    SELECT p.doc_id,
           d.hist[p.n + 1].seg AS segmented_string,
           d.hist[p.n + 1].corr AS corrected_string,
           CAST(d.hist[p.n + 1].dist AS INT) AS distance_sum
    FROM dp d JOIN ph p ON p.doc_id = d.doc_id
    WHERE d.t = p.n""",
        # Q4 FUZZY (d=1) segmentation — the same recursive-CTE DP replay
        # as d=0 with per-cell scoring swapped for a TOP-1 fuzzy lookup:
        # an in-vocab part scores (ed=0, log10(count/N)); an OOV part
        # takes its best damerau_levenshtein<=1 vocab term by the
        # engine's OOV tie-break (all matches have ed exactly 1, so TOP
        # = count DESC, term ASC — segmentation.py resolve_fuzzy_d1) and
        # scores (ed=1, log10(count/N)); no match scores the closed
        # unknown-word formula. DuckDB's damerau_levenshtein is the
        # UNRESTRICTED distance while the engine verifies OSA, but at
        # threshold <=1 the two are identical (they first diverge at
        # distance 2). corrected_string folds the matched term, not the
        # raw part.
        "word_segmentation_fuzzy": f"""
    WITH RECURSIVE tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ),
    vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS count FROM tok GROUP BY term),
    maxw AS (SELECT max(length(term)) AS L FROM vocab),
    ph AS (
        SELECT doc_id, replace(substr(text, 1, 80), ' ', '') AS phrase,
               length(replace(substr(text, 1, 80), ' ', '')) AS n
        FROM documents
        WHERE doc_id < 50 AND length(replace(substr(text, 1, 80), ' ', '')) > 0
    ),
    cells AS (
        SELECT p.doc_id, j, i, substr(p.phrase, j + 1, i) AS part
        FROM ph p, maxw m,
             unnest(range(0, p.n)) AS tj(j),
             unnest(range(1, least(p.n - tj.j, m.L) + 1)) AS ti(i)
    ),
    exact AS (
        SELECT c.doc_id, c.j, c.i, c.part, v.count AS ec
        FROM cells c LEFT JOIN vocab v ON v.term = c.part
    ),
    fuzzy AS (
        SELECT part, term, count FROM (
            SELECT o.part, v.term, v.count, row_number() OVER (
                PARTITION BY o.part ORDER BY v.count DESC, v.term
            ) AS rn
            FROM (SELECT DISTINCT part FROM exact WHERE ec IS NULL) o
            JOIN vocab v
              ON abs(length(o.part) - length(v.term)) <= 1
             AND damerau_levenshtein(o.part, v.term) <= 1
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT e.doc_id, e.j, e.i, e.part,
               CASE WHEN e.ec IS NOT NULL THEN e.part
                    WHEN f.term IS NOT NULL THEN f.term
                    ELSE e.part END AS top_result,
               CASE WHEN e.ec IS NOT NULL THEN 0
                    WHEN f.term IS NOT NULL THEN 1
                    ELSE length(e.part) END AS top_ed,
               CASE WHEN e.ec IS NOT NULL
                    THEN log10(CAST(e.ec AS DOUBLE) / {DEFAULT_CORPUS_N})
                    WHEN f.term IS NOT NULL
                    THEN log10(CAST(f.count AS DOUBLE) / {DEFAULT_CORPUS_N})
                    ELSE 1.0 - log10(CAST({DEFAULT_CORPUS_N} AS DOUBLE))
                         - CAST(length(e.part) AS DOUBLE)
               END AS top_logp
        FROM exact e LEFT JOIN fuzzy f ON f.part = e.part
    ),
    dp AS (
        SELECT doc_id, 0 AS t,
               [{{'seg': '', 'corr': '', 'dist': 0,
                  'logp': CAST(0.0 AS DOUBLE), 'cmp': 0}}] AS hist
        FROM ph
        UNION ALL
        SELECT d.doc_id, d.t + 1,
               list_append(d.hist, (
                   SELECT list_reduce(
                       list({{'seg': CASE WHEN s.j = 0 THEN s.part
                                          ELSE d.hist[s.j + 1].seg || ' ' || s.part END,
                             'corr': CASE WHEN s.j = 0 THEN s.top_result
                                          ELSE d.hist[s.j + 1].corr || ' ' || s.top_result END,
                             'dist': CASE WHEN s.j = 0 THEN s.top_ed
                                          ELSE d.hist[s.j + 1].dist + 1 + s.top_ed END,
                             'logp': CASE WHEN s.j = 0 THEN s.top_logp
                                          ELSE d.hist[s.j + 1].logp + s.top_logp END,
                             'cmp': CASE WHEN s.j = 0 THEN s.top_ed
                                         ELSE d.hist[s.j + 1].dist + 1 + s.top_ed END}}
                            ORDER BY s.j),
                       (acc, c) -> CASE WHEN c.cmp < acc.dist
                                         OR (acc.dist IN (c.cmp, c.cmp - 1)
                                             AND acc.logp < c.logp)
                                   THEN c ELSE acc END)
                   FROM scored s
                   WHERE s.doc_id = d.doc_id AND s.j + s.i = d.t + 1
               ))
        FROM dp d JOIN ph p ON p.doc_id = d.doc_id
        WHERE d.t < p.n
    )
    SELECT p.doc_id,
           d.hist[p.n + 1].seg AS segmented_string,
           d.hist[p.n + 1].corr AS corrected_string,
           CAST(d.hist[p.n + 1].dist AS INT) AS distance_sum
    FROM dp d JOIN ph p ON p.doc_id = d.doc_id
    WHERE d.t = p.n""",
        "props_extract": """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events""",
        "revenue_rollup": """
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
        "lang_term_overlap": f"""
    WITH tok AS (
        SELECT lang, source,
               regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents
    ),
    bi AS (
        SELECT lang, source, ts[i] || ' ' || ts[i+1] AS bigram
        FROM (SELECT lang, source, ts, unnest(range(1, len(ts))) AS i
              FROM tok WHERE len(ts) >= 2)
    )
    SELECT DISTINCT bigram FROM bi WHERE lang = 'en'
    INTERSECT
    SELECT DISTINCT bigram FROM bi WHERE lang = 'es'
    EXCEPT
    SELECT DISTINCT bigram FROM bi WHERE lang = 'fr' AND source = 'src0'""",
        "tpch_q1": """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(20,4))
                * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))
                AS DECIMAL(38,8))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus""",
    }


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-dup clustering of the sf0.001 documents table."""
    return q_dedup_clusters(spark, "/root/testdata/sf0.001")
