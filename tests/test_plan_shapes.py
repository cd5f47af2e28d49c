"""Physical-plan shape guards for the scale-critical properties.

Timing regressions on a noisy VM are easy to miss; these assert the
plan structure directly: the delete-neighborhood expansion must stay
shuffle-free, filters must reach the parquet scan, and the staged
lookup must not shuffle the dictionary index when it is broadcastable.
"""

from pyspark.sql import functions as F

from symspellpy_spark.config import EngineConfig, Verbosity
from symspellpy_spark.operators.deletes import delete_neighborhood
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import (
    lookup_batch,
    lookup_batch_relational,
)

SF_DIR = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_delete_neighborhood_is_shuffle_free(spark):
    """The per-row array-expression neighborhood must not plan an
    Exchange: at corpus scale it runs on every token of every document,
    so a shuffle here multiplies the whole write path."""
    terms = spark.createDataFrame(
        [("spark",), ("flink",), ("beam",)], "term string"
    )
    plan = _physical(delete_neighborhood(terms, EngineConfig()))
    assert "Exchange" not in plan, plan


def test_parquet_filter_pushdown(spark):
    """A filtered scan must push the predicate into the parquet reader
    and prune columns (ReadSchema carries only what is selected)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = docs.where(F.col("doc_id") < 50).select("doc_id", "n_chars")
    plan = _physical(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)]" in plan, plan
    assert "text" not in plan.split("ReadSchema")[1][:200], plan


def test_staged_lookup_broadcasts_index(spark):
    """When the vocabulary fits the broadcast limit the relational
    engine's shallow pass must plan a BroadcastHashJoin on the index
    side — never a sort-merge shuffle of the dictionary per query
    batch."""
    words = spark.createDataFrame(
        [("steam", 10), ("steem", 8)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words)
    q = spark.createDataFrame([("steems",)], "query string")
    plan = _physical(lookup_batch_relational(q, d, Verbosity.TOP))
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_index_join_skips_index_exchange(spark, tmp_path, relational_route):
    """S7/S8 at-scale variant: a delete index saved bucketed+sorted by
    delete_key must sort-merge-join with no Exchange on the index side
    (only the query-key side shuffles) — the broadcast-free lookup plan
    for dictionaries too large to broadcast."""
    words = spark.createDataFrame(
        [("steam", 10), ("steem", 8), ("steams", 5)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words)
    d.save_bucketed("ps_bucketed_dict", buckets=4)
    try:
        loaded = SparkDictionary.load_bucketed(spark, "ps_bucketed_dict")
        assert loaded.config.prefix_length == d.config.prefix_length
        q = spark.createDataFrame([("steems",), ("steamz",)], "query string")
        with relational_route():
            out = lookup_batch_relational(q, loaded, Verbosity.TOP)
        plan = _physical(out)
        assert "SelectedBucketsCount" in plan, plan
        # results identical to the routed (worker-local) engine
        got = {(r["query"], r["term"], r["distance"]) for r in out.collect()}
        ref = {
            (r["query"], r["term"], r["distance"])
            for r in lookup_batch(q, d, Verbosity.TOP).collect()
        }
        assert got == ref
    finally:
        for t in ("deletes", "words", "props"):
            spark.sql(f"DROP TABLE IF EXISTS ps_bucketed_dict_{t}")


def test_ann_plans_have_no_cartesian(spark):
    """Both ANN scale paths must pair candidates via an equi-join on the
    bucket key — a cartesian/nested-loop node means the scale path
    degenerated to the brute-force baseline."""
    import numpy as np

    from symspellpy_spark.operators.knn import (
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    lsh_plan = _physical(lsh_cosine_topk(q, emb, dim=64, k=5, n_tables=2, n_bits=6))
    cents = np.eye(8, 64)  # fixed quantizer: plan shape is all that matters
    ivf_plan = _physical(ivf_cosine_topk(q, emb, cents, k=5, n_probe=2))
    for name, plan in (("lsh", lsh_plan), ("ivf", ivf_plan)):
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_semantic_dedup_plan_no_cartesian(spark):
    """semantic_dedup's pairwise compare must stay confined to the
    centroid-list equi-join — a cartesian/nested-loop node means the
    within-list pattern degenerated to all-pairs."""
    import numpy as np

    from symspellpy_spark.operators.knn import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = np.eye(8, 64)
    plan = _physical(semantic_dedup(emb, cents, threshold=0.9))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_boilerplate_segments_plan_shape(spark):
    """boilerplate_segments must plan no join wider than the segment
    equi-join and no UDF: pure Catalyst (regexp/slice/explode +
    hash aggregations), with map-side partial aggregation on the
    document-frequency groupBy."""
    from symspellpy_spark.operators.dedup import boilerplate_segments

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _physical(boilerplate_segments(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "partial_count" in plan, plan  # map-side combine on the DF agg
    # the diamond's consumers (token counts, per-doc counts, document
    # frequencies) must read the scoped-persisted relations, not
    # re-tokenize the corpus per consumer (FileScans remaining in the
    # plan string are the caches' lineage, executed once on first fill)
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_ngram_contamination_broadcasts_benchmark(spark):
    """The benchmark gram set must broadcast (eval suites are MBs vs a
    TB corpus): the training side joins via BroadcastHashJoin and never
    shuffles its exploded grams."""
    from symspellpy_spark.operators.dedup import ngram_contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _physical(
        ngram_contamination(
            docs.where(F.col("source") != "src0"),
            docs.where(F.col("source") == "src0"),
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin [gram" in plan, plan


def test_hash_stratified_sample_is_shuffle_free(spark):
    """The mixture sampler must plan as a pure filter over the scan —
    no Exchange, no UDF: its keep-decision is per-row, so at 100 TB it
    composes into any stage without adding a shuffle."""
    from symspellpy_spark.operators.sampling import hash_stratified_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _physical(hash_stratified_sample(docs, {"en": 60, "de": 30}))
    assert "Exchange" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan


def test_fuzzy_segmentation_default_plan_is_join_free(spark, relational_route):
    """The worker-local fuzzy path must not plan any join or
    per-substring relation: one MapInPandas over (doc_id, phrase) rows,
    at most a round-robin repartition."""
    from symspellpy_spark.operators.segmentation import word_segmentation_batch

    words = spark.createDataFrame(
        [("steam", 10), ("spark", 5), ("stream", 7)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words)
    docs = spark.createDataFrame([(1, "steamspark")], "doc_id long, text string")
    plan = _physical(word_segmentation_batch(docs, d, max_edit_distance=1))
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan
    with relational_route():
        rel_plan = _physical(word_segmentation_batch(docs, d, max_edit_distance=1))
    assert "Join" in rel_plan  # the fallback shape really is relational


def test_compound_default_plan_is_join_free(spark, relational_route):
    """The worker-local lookup_compound kernel must plan no token
    explode, no LUT joins and no per-document groupBy: one MapInPandas
    over (doc_id, phrase, token arrays), at most a repartition."""
    from symspellpy_spark.operators.compound import lookup_compound_batch

    words = spark.createDataFrame(
        [("steam", 10), ("spark", 5), ("stream", 7)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words)
    docs = spark.createDataFrame([(1, "steem sparkk")], "doc_id long, text string")
    plan = _physical(lookup_compound_batch(docs, d, max_edit_distance=1))
    assert "Join" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "MapInPandas" in plan, plan
    with relational_route():
        rel_plan = _physical(lookup_compound_batch(docs, d, max_edit_distance=1))
    assert "Join" in rel_plan  # the fallback shape really is relational


def test_winnowing_plans_no_join(spark):
    """Production winnowing must be the doc-local kernel: one
    MapInPandas, no explode/shuffle/sort (the relational window
    formulation shuffles one row per CHARACTER). The relational
    strategy (kept for the md5 oracle family) must itself be a window
    pass, not a starts-onto-grams join whose equi-key (id, gram-hash)
    degenerates toward O(L^2) rows on boilerplate-heavy documents."""
    from symspellpy_spark.operators.dedup import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, "abcdefghijklmnop")], "doc_id long, text string"
    )
    plan = _physical(winnowing_fingerprints(docs, k=8, window=4))
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "Window" not in plan, plan
    rel = _physical(
        winnowing_fingerprints(docs, k=8, window=4, strategy="relational")
    )
    assert "Join" not in rel, rel
    assert "Window" in rel, rel
