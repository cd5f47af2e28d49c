"""Tests for similarity search and streaming dedup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from symspellpy_spark.operators.knn import cosine_topk, lsh_cosine_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def brute_force_topk(rows, k=5):
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    out = {}
    for i, qid in enumerate(ids):
        order = sorted(
            [(j, sims[i, j]) for j in range(len(ids)) if j != i],
            key=lambda t: (-t[1], ids[t[0]]),
        )[:k]
        out[qid] = [ids[j] for j, _ in order]
    return out


def test_cosine_topk_exact(spark, emb):
    rows = emb.collect()
    oracle = brute_force_topk(rows, k=5)
    q = emb.where(F.col("vec_id") < 20)
    got = cosine_topk(q, emb, k=5).collect()
    got_map = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_map.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for qid in range(20):
        assert got_map[qid] == oracle[qid], qid


def test_lsh_cosine_topk_recall_clustered(spark):
    """Hyperplane LSH recall on clustered vectors (true neighbors at
    cosine ~0.95 — the workload ANN indexes exist for; fully random
    vectors have no meaningful neighbors and degenerate any LSH)."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((40, 64))
    vecs = []
    for i in range(400):
        c = centers[i % 40]
        vecs.append((i, (c + 0.15 * rng.standard_normal(64)).astype("float32").tolist()))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = [{"vec_id": v[0], "embedding": v[1]} for v in vecs]
    oracle = brute_force_topk(rows, k=5)
    q = emb.where(F.col("vec_id") < 50)
    got = lsh_cosine_topk(q, emb, dim=64, k=5, n_tables=12, n_bits=8).collect()
    got_map = {}
    for r in got:
        got_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in range(50):
        want = set(oracle[qid])
        hits += len(want & got_map.get(qid, set()))
        total += len(want)
    assert hits / total >= 0.9, hits / total


def test_lsh_cosine_topk_smoke_random(spark, emb):
    """On the (near-random) testdata embeddings just require the plan to
    run and return well-formed ranked rows."""
    q = emb.where(F.col("vec_id") < 5)
    got = lsh_cosine_topk(q, emb, dim=64, k=5, n_tables=8, n_bits=6).collect()
    assert all(1 <= r["rank"] <= 5 for r in got)


def test_semantic_dedup_known_groups(spark):
    """Synthetic embedding space with planted near-identical groups:
    the min id of each group survives, everything else in the group is
    dropped, and isolated vectors are kept."""
    from symspellpy_spark.operators.knn import semantic_dedup

    rng = np.random.default_rng(11)
    base = rng.standard_normal((6, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    vid = 0
    group_of = {}
    for g in range(6):
        for _ in range(3 if g < 3 else 1):  # 3 groups of 3 dups, 3 singles
            v = base[g] + rng.standard_normal(16) * 1e-3
            rows.append((vid, [float(x) for x in v]))
            group_of[vid] = g
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = base.copy()  # perfect quantizer: one list per planted group
    out = {
        r["vec_id"]: (r["centroid_id"], r["kept"])
        for r in semantic_dedup(df, cents, threshold=0.99).collect()
    }
    assert len(out) == vid
    for v, (cid, kept) in out.items():
        assert cid == group_of[v]
        members = [u for u, g in group_of.items() if g == group_of[v]]
        assert kept == (v == min(members)), (v, kept)


def test_semantic_dedup_max_list_size_keeps_group_minimum(spark):
    """Capping a hot list still links every member to the list minimum:
    the kept set is unchanged when the whole group shares one list."""
    from symspellpy_spark.operators.knn import semantic_dedup

    v = [1.0] + [0.0] * 7
    rows = [(i, v) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.eye(2, 8)
    out = semantic_dedup(df, cents, threshold=0.9, max_list_size=3).collect()
    kept = sorted(r["vec_id"] for r in out if r["kept"])
    assert kept == [0]


def test_streaming_signatures_and_exact_dedup(spark, tmp_path):
    from symspellpy_spark.sources.pages import synthesize_pages
    from symspellpy_spark.streaming.stream_dedup import (
        stream_signatures,
        streaming_exact_dedup,
    )

    src = str(tmp_path / "stream_src")
    pages = synthesize_pages(spark, n_docs=100, n_base=25, seed=3)
    pages.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)

    sig_q = (
        stream_signatures(stream)
        .writeStream.format("memory")
        .queryName("sigs")
        .outputMode("append")
        .start()
    )
    sig_q.processAllAvailable()
    sig_q.stop()
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT id) AS d FROM sigs").first()
    assert got["n"] == 100 and got["d"] == 100

    dup_q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dups")
        .outputMode("complete")
        .start()
    )
    dup_q.processAllAvailable()
    dup_q.stop()
    n = spark.sql("SELECT sum(n_seen) AS s FROM dups").first()["s"]
    assert n == 100


def test_streaming_simhash_pairs_stateful(spark, tmp_path):
    """applyInPandasWithState near-dup stream: pairs found across
    micro-batches must match the batch SimHash operator's pair set."""
    from symspellpy_spark.operators.dedup import (
        normalized_tokens,
        simhash_candidate_pairs,
        simhash_signatures,
    )
    from symspellpy_spark.sources.pages import synthesize_pages
    from symspellpy_spark.streaming.stream_dedup import streaming_simhash_pairs

    src = str(tmp_path / "sim_stream_src")
    pages = synthesize_pages(spark, n_docs=120, n_base=30, seed=11)
    # two disjoint halves -> multiple micro-batches with
    # maxFilesPerTrigger=1, so cross-batch state is genuinely exercised
    pages.where(F.crc32(F.col("url")) % 2 == 0).write.mode(
        "overwrite"
    ).parquet(src + "/p1")
    pages.where(F.crc32(F.col("url")) % 2 == 1).write.mode(
        "overwrite"
    ).parquet(src + "/p2")
    schema = spark.read.parquet(src + "/p1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        streaming_simhash_pairs(stream, max_hamming=8)
        .writeStream.format("memory")
        .queryName("sim_pairs")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT id_a, id_b FROM sim_pairs").collect()
    }

    toks = normalized_tokens(pages, id_col="url", text_col="text")
    sig = simhash_signatures(toks).select("id", "simhash")
    exp = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in simhash_candidate_pairs(sig, max_hamming=8).collect()
    }
    assert got == exp and len(exp) > 0


def _incremental_lsh_paths(tmp_path):
    return (
        str(tmp_path / "band_index"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
    )


def _run_stream_lsh(spark, tmp_path, pages, n_parts=3, **kw):
    from symspellpy_spark.streaming.stream_dedup import run_incremental_lsh

    src = str(tmp_path / "lsh_src")
    for i in range(n_parts):
        pages.where(F.crc32(F.col("url")) % n_parts == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/p{i}")
    schema = spark.read.parquet(f"{src}/p0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    index_path, pairs_path, ckpt = _incremental_lsh_paths(tmp_path)
    q = run_incremental_lsh(
        spark, stream, index_path, pairs_path, checkpoint=ckpt, **kw
    )
    try:
        q.processAllAvailable()
        exc = q.exception()
    except Exception as e:  # the query surfaced a batch failure
        exc = e
    finally:
        q.stop()
    return index_path, pairs_path, exc


def test_incremental_lsh_matches_batch_candidates(spark, tmp_path):
    """Cross-batch + within-batch streaming LSH pairs must equal the
    batch banded self-join's candidate set on the same corpus."""
    from symspellpy_spark.operators.dedup import (
        _banded,
        minhash_signatures,
        normalized_tokens,
        shingles,
    )
    from symspellpy_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, n_docs=90, n_base=20, seed=7)
    index_path, pairs_path, exc = _run_stream_lsh(spark, tmp_path, pages)
    assert exc is None
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs_path).collect()
    }

    toks = normalized_tokens(pages, id_col="url", text_col="text")
    banded = _banded(
        minhash_signatures(shingles(toks, k=5)).select("id", "minhash"), 32, 128
    )
    exp = {
        tuple(sorted((r["id"], r["id_b"])))
        for r in banded.join(
            banded.select(
                "band_id", "band_hash", F.col("id").alias("id_b")
            ),
            ["band_id", "band_hash"],
        )
        .where(F.col("id") < F.col("id_b"))
        .collect()
    }
    assert got == exp and len(exp) > 0


def test_incremental_lsh_corrupt_index_fails_loudly(spark, tmp_path):
    """A corrupt EXISTING index must fail the stream, not be silently
    treated as 'no history'."""
    import os

    from symspellpy_spark.sources.pages import synthesize_pages

    index_path, _, _ = _incremental_lsh_paths(tmp_path)
    os.makedirs(index_path)
    with open(os.path.join(index_path, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    pages = synthesize_pages(spark, n_docs=30, n_base=10, seed=9)
    _, _, exc = _run_stream_lsh(spark, tmp_path, pages, n_parts=1)
    assert exc is not None


def test_incremental_lsh_compaction_bounds_files(spark, tmp_path):
    """With compact_every=1 the index file count is bounded by the
    compaction width, not by the number of micro-batches."""
    import glob

    from symspellpy_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, n_docs=60, n_base=15, seed=13)
    index_path, pairs_path, exc = _run_stream_lsh(
        spark, tmp_path, pages, n_parts=4, compact_every=1
    )
    assert exc is None
    files = glob.glob(f"{index_path}/*.parquet")
    assert 0 < len(files) <= 32
    # compaction must not lose rows: index still holds every banded row
    n = spark.read.parquet(index_path).count()
    assert n > 0


def test_streaming_simhash_pairs_long_ids(spark, tmp_path):
    """Non-string id columns must flow through the stateful operator
    (output/state schemas are derived from the input id type)."""
    from symspellpy_spark.sources.pages import synthesize_pages
    from symspellpy_spark.streaming.stream_dedup import streaming_simhash_pairs

    src = str(tmp_path / "sim_long_src")
    pages = synthesize_pages(spark, n_docs=40, n_base=10, seed=17).select(
        F.xxhash64("url").alias("pid"), "text"
    )
    pages.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_simhash_pairs(stream, max_hamming=8, id_col="pid")
        .writeStream.format("memory")
        .queryName("sim_pairs_long")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    exc = q.exception()
    q.stop()
    assert exc is None
    rows = spark.sql("SELECT * FROM sim_pairs_long").collect()
    assert len(rows) > 0
    assert all(isinstance(r["id_a"], int) for r in rows)


def test_ivf_cosine_topk_recall_clustered(spark):
    """IVF (cosine k-means lists + n_probe search) recall on clustered
    vectors vs brute force."""
    from symspellpy_spark.operators.knn import ivf_cosine_topk, ivf_fit_centroids

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((30, 64))
    vecs = []
    for i in range(360):
        c = centers[i % 30]
        vecs.append((i, (c + 0.12 * rng.standard_normal(64)).astype("float32").tolist()))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = [{"vec_id": v[0], "embedding": v[1]} for v in vecs]
    oracle = brute_force_topk(rows, k=5)
    cents = ivf_fit_centroids(emb, n_centroids=30, seed=3)
    q = emb.where(F.col("vec_id") < 40)
    got = ivf_cosine_topk(q, emb, cents, k=5, n_probe=4).collect()
    got_map = {}
    for r in got:
        got_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in range(40):
        want = set(oracle[qid])
        hits += len(want & got_map.get(qid, set()))
        total += len(want)
    assert hits / total >= 0.9, hits / total


def _run_stream_winnow(spark, tmp_path, pages, n_parts=3, **kw):
    from symspellpy_spark.streaming.stream_dedup import run_incremental_winnowing

    src = str(tmp_path / "win_src")
    for i in range(n_parts):
        pages.where(F.crc32(F.col("url")) % n_parts == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/p{i}")
    schema = spark.read.parquet(f"{src}/p0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    index_path = str(tmp_path / "fp_index")
    pairs_path = str(tmp_path / "win_pairs")
    q = run_incremental_winnowing(
        spark,
        stream,
        index_path,
        pairs_path,
        checkpoint=str(tmp_path / "win_ckpt"),
        **kw,
    )
    try:
        q.processAllAvailable()
        exc = q.exception()
    except Exception as e:
        exc = e
    finally:
        q.stop()
    return index_path, pairs_path, exc


def test_incremental_winnowing_matches_batch(spark, tmp_path):
    """Cross-batch + within-batch streaming winnowing pairs must equal
    the batch winnowing_candidate_pairs pair set on the same corpus
    (k=16/window=8 keeps the tiny-vocab synthetic corpus
    discriminative, as in bench.py)."""
    from symspellpy_spark.operators.dedup import winnowing_candidate_pairs
    from symspellpy_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, n_docs=90, n_base=20, seed=23)
    index_path, pairs_path, exc = _run_stream_winnow(
        spark, tmp_path, pages, k=16, window=8
    )
    assert exc is None
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs_path).collect()
    }
    exp = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in winnowing_candidate_pairs(
            pages, k=16, window=8, id_col="url"
        ).collect()
    }
    assert got == exp and len(exp) > 0


def test_fingerprint_compaction_caps_buckets(spark, tmp_path):
    """With compact_every=1, the fingerprint index ends every epoch with
    no bucket over max_bucket_size (boilerplate fingerprints dropped —
    the batch monster-bucket semantics) and a bounded file count."""
    import glob

    from symspellpy_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, n_docs=60, n_base=15, seed=29)
    index_path, pairs_path, exc = _run_stream_winnow(
        spark, tmp_path, pages, n_parts=4, k=8, window=4,
        compact_every=1, max_bucket_size=8,
    )
    assert exc is None
    files = glob.glob(f"{index_path}/*.parquet")
    assert 0 < len(files) <= 32
    idx = spark.read.parquet(index_path)
    over = (
        idx.groupBy("fingerprint")
        .count()
        .where(F.col("count") > 8)
        .count()
    )
    assert over == 0 and idx.count() > 0


def test_ivf_fit_centroids_duplicate_heavy_fallback(spark):
    """The pmod-hash sample prefilter assumes distinct hashes; on a
    duplicate-heavy corpus (few DISTINCT embeddings) it can starve the
    sample. The guard must fall back to the unfiltered deterministic
    top-k and still train, deterministically."""
    from symspellpy_spark.operators.knn import ivf_fit_centroids

    # 400 rows, only 2 distinct vectors; sample=10 -> k_div=10: the 2
    # distinct hashes almost surely miss pmod==0, so the filter starves
    rows = [(i, [1.0, 0.0, 0.0, 0.0] if i % 2 else [0.0, 1.0, 0.0, 0.0])
            for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = ivf_fit_centroids(emb, n_centroids=2, sample=10, seed=7)
    c2 = ivf_fit_centroids(emb, n_centroids=2, sample=10, seed=7)
    assert c1.shape[0] >= 1 and np.isfinite(c1).all()
    assert (c1 == c2).all()
