"""End-to-end pipeline acceptance (BASELINE.json north rule):
dup-pair recall >= 0.99 at identical shingle/signature config, checkpoint
resume, and the byte-identical-text invariant."""

import pytest
from pyspark.sql import functions as F

from symspellpy_spark.operators.dedup import (
    exact_duplicates,
    lsh_candidate_pairs,
    simhash_candidate_pairs,
    substring_fingerprint_pairs,
    token_correction_map,
)
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline
from symspellpy_spark.sources.pages import synthesize_pages, truth_pairs

from tests.test_dedup import brute_force_jaccard


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, n_docs=600, n_base=150, seed=42).cache()


SIG_COLS = ("shingle_hashes", "minhash", "simhash", "bands")


def _as_dict(token_map):
    src, dst = token_map
    return dict(zip(src.tolist(), dst.tolist()))


def _metric(pipe, stage, name):
    return next(
        m["value"]
        for m in pipe.metrics
        if (m["stage"], m["metric"]) == (stage, name)
    )


def _same_cluster_pairs(clusters_rows):
    by_cluster = {}
    for r in clusters_rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["url"])
    pairs = set()
    for members in by_cluster.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                pairs.add((a, b))
                pairs.add((b, a))
    return pairs


def test_dup_pair_recall(spark, pages):
    pipe = DedupPipeline(spark, DedupConfig())
    out = pipe.run(pages)
    cluster_pairs = _same_cluster_pairs(out["clusters"].collect())

    # (1) recall vs brute-force Jaccard at the same config — the
    # "identical shingle/signature config" criterion
    oracle = brute_force_jaccard(pages.select("url", "text").collect(), k=5)
    true_sim_pairs = {k for k, v in oracle.items() if v >= 0.7}
    found = sum(1 for p in true_sim_pairs if p in cluster_pairs)
    assert len(true_sim_pairs) > 50
    recall_sim = found / len(true_sim_pairs)
    assert recall_sim >= 0.99, recall_sim

    # (2) recall vs generator ground truth (all dup kinds incl. substring)
    truth = {
        (r["url_a"], r["url_b"]) for r in truth_pairs(pages).collect()
    }
    found_truth = sum(1 for p in truth if p in cluster_pairs)
    recall_truth = found_truth / len(truth)
    assert recall_truth >= 0.99, recall_truth

    # metrics table populated
    stages = {r["stage"] for r in out["metrics"].collect()}
    assert {"signatures", "candidates", "edges", "clusters"} <= stages


def test_checkpoint_resume(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    cfg = DedupConfig()
    p1 = DedupPipeline(spark, cfg, checkpoint_dir=ckpt)
    edges1 = {(r["id_a"], r["id_b"]) for r in p1.edges(pages).collect()}

    p2 = DedupPipeline(spark, cfg, checkpoint_dir=ckpt)
    edges2 = {(r["id_a"], r["id_b"]) for r in p2.edges(pages).collect()}
    assert edges1 == edges2
    assert any(m["metric"] == "resumed_from_checkpoint" for m in p2.metrics)

    # config change invalidates the checkpoint (warn-and-recompute analogue
    # of pickle_mixin.py:140-148 version/settings gate)
    p3 = DedupPipeline(
        spark, DedupConfig(jaccard_threshold=0.5), checkpoint_dir=ckpt
    )
    p3.edges(pages)
    assert not any(m["metric"] == "resumed_from_checkpoint" for m in p3.metrics)


def test_byte_identical_text_invariant(spark, pages):
    """Pipeline outputs join back to pages without touching text bytes."""
    pipe = DedupPipeline(spark, DedupConfig())
    clusters = pipe.clusters(pages)
    joined = pages.join(clusters, "url", "left").select("url", "text")
    orig = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    for r in joined.collect():
        assert orig[r["url"]] == r["text"]


def test_pipeline_survivors(spark, pages):
    """survivors = every unclustered url + exactly one url per cluster,
    with the representative drawn from its own cluster."""
    pipe = DedupPipeline(spark, DedupConfig())
    cl = {r["url"]: r["cluster_id"] for r in pipe.clusters(pages).collect()}
    surv = [r["url"] for r in pipe.survivors(pages).collect()]
    assert len(surv) == len(set(surv))
    n_urls = pages.count()
    n_clusters = len(set(cl.values()))
    assert len(surv) == n_urls - len(cl) + n_clusters
    # one representative per cluster, and it belongs to that cluster
    seen = {}
    for u in surv:
        if u in cl:
            assert cl[u] not in seen, (u, seen[cl[u]])
            seen[cl[u]] = u
    assert len(seen) == n_clusters


def test_symspell_normalization_improves_matching(spark):
    """Noisy-token correction via the delete-key index folds typo'd docs
    onto their clean twins before shingling."""
    texts = [
        "the quick brown fox jumps over the lazy dog and runs far away home",
        "the quik brown fox jumps ovre the lazy dog and runs far away home",
    ]
    pages = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)], "url string, text string"
    )
    vocab = spark.createDataFrame(
        [(w, 100) for w in texts[0].split()], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, vocab)
    pipe = DedupPipeline(spark, DedupConfig(shingle_k=3), dictionary=d)
    # internal stage ids are xxhash64(url)
    ids = {r["url"]: r["id"] for r in pipe._id_map(pages).collect()}
    sigs = {r["id"]: r for r in pipe.signatures(pages).collect()}
    # the correction map is exactly the two typo'd tokens
    want = token_correction_map([("quik", "quick"), ("ovre", "over")])
    assert _as_dict(pipe._token_map(pages)) == _as_dict(want)
    assert _metric(pipe, "signatures", "corrected_tokens") == 2
    u0, u1 = sigs[ids["u0"]], sigs[ids["u1"]]
    for col in SIG_COLS:
        assert u0[col] == u1[col], col


def test_winnowing_sweep_catches_partial_overlap(spark):
    """With use_winnowing=True the candidate stage gains a 'winnowing'
    source and catches PARTIAL overlap: two documents sharing only a
    30-char section (shorter than substring_gram_len=40, far below the
    Jaccard threshold corpus-wide) must still pair — winnowing
    guarantees a shared fingerprint for any shared substring of length
    >= winnow_window + winnow_k - 1 = 11."""
    import random

    rng = random.Random(7)
    al = "abcdefghij "

    def rand_text(n):
        return "".join(rng.choice(al) for _ in range(n))

    shared = rand_text(30)
    rows = [
        ("u1", rand_text(400) + shared + rand_text(400)),
        ("u2", rand_text(350) + shared + rand_text(450)),
    ] + [(f"u{i}", rand_text(800)) for i in range(3, 9)]
    pages = spark.createDataFrame(rows, "url string, text string")

    base = DedupPipeline(spark, DedupConfig())
    base_pairs = base.candidate_pairs(pages).collect()
    assert not any("winnowing" in r["sources"] for r in base_pairs)

    pipe = DedupPipeline(spark, DedupConfig(use_winnowing=True))
    pairs = pipe.candidate_pairs(pages).collect()
    id_of = {
        r["url"]: r["id"]
        for r in pages.select(
            F.xxhash64("url").alias("id"), "url"
        ).collect()
    }
    want = tuple(sorted((id_of["u1"], id_of["u2"])))
    by_pair = {
        tuple(sorted((r["id_a"], r["id_b"]))): set(r["sources"]) for r in pairs
    }
    assert want in by_pair, (want, sorted(by_pair))
    assert "winnowing" in by_pair[want]


def test_per_source_pair_metrics_recorded(spark):
    """edges() records per-source candidate-pair counts in the metrics
    table (source_<name>_pairs), so each sweep's recall contribution is
    visible — including the winnowing sweep when enabled."""
    import random

    rng = random.Random(11)
    al = "abcdefghij "

    def rand_text(n):
        return "".join(rng.choice(al) for _ in range(n))

    shared = rand_text(30)
    dup = rand_text(600)
    rows = [
        ("u1", rand_text(400) + shared + rand_text(400)),
        ("u2", rand_text(350) + shared + rand_text(450)),
        ("u3", dup),
        ("u4", dup),  # exact dup: lsh/simhash/exact sources all fire
    ] + [(f"u{i}", rand_text(800)) for i in range(5, 9)]
    pages = spark.createDataFrame(rows, "url string, text string")
    pipe = DedupPipeline(spark, DedupConfig(use_winnowing=True))
    pipe.edges(pages).count()
    by_metric = {
        (m["stage"], m["metric"]): m["value"] for m in pipe.metrics
    }
    assert by_metric.get(("candidates", "source_winnowing_pairs"), 0) >= 1
    assert by_metric.get(("candidates", "source_exact_pairs"), 0) >= 1
    assert by_metric.get(("candidates", "source_minhash_lsh_pairs"), 0) >= 1


def test_salted_cap_recovers_hot_band_candidates(spark, pages):
    """A bucket cap tight enough to drop hot bands loses candidate
    pairs; turning on the salted tier (salted_bucket_cap) recovers
    them — the pipeline-level wiring of the hot-band skew story."""
    tight = DedupPipeline(spark, DedupConfig(max_bucket_size=2))
    tight_pairs = {
        (r["id_a"], r["id_b"])
        for r in tight.candidate_pairs(pages).collect()
    }
    salted = DedupPipeline(
        spark,
        DedupConfig(max_bucket_size=2, salted_bucket_cap=10**6, n_salt=4),
    )
    salted_pairs = {
        (r["id_a"], r["id_b"])
        for r in salted.candidate_pairs(pages).collect()
    }
    full = DedupPipeline(spark, DedupConfig(max_bucket_size=10**6))
    full_pairs = {
        (r["id_a"], r["id_b"])
        for r in full.candidate_pairs(pages).collect()
    }
    assert tight_pairs < salted_pairs
    # LSH + SimHash recover exactly; the fused substring/exact sources
    # share the same _bucket_pairs tiering, so the whole candidate set
    # matches the uncapped run
    assert salted_pairs == full_pairs


def test_narrow_signature_checkpoint_bytes_and_equivalence(spark, pages, tmp_path):
    """The default (narrow, zstd, packed-minhash) signatures checkpoint
    must (a) be substantially smaller on disk than the legacy full
    checkpoint and (b) leave every pipeline output identical — the
    shingle sets re-derived at verify phase 2 are hash-identical to the
    ones the legacy checkpoint stored."""
    import os

    def du(path):
        total = 0
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    narrow_dir = str(tmp_path / "ck_narrow")
    full_dir = str(tmp_path / "ck_full")
    p_narrow = DedupPipeline(
        spark, DedupConfig(), checkpoint_dir=narrow_dir
    )
    p_full = DedupPipeline(
        spark,
        DedupConfig(checkpoint_shingles=True, checkpoint_codec="snappy"),
        checkpoint_dir=full_dir,
    )
    out_n = {
        (r["url"], r["cluster_id"])
        for r in p_narrow.run(pages)["clusters"].collect()
    }
    out_f = {
        (r["url"], r["cluster_id"])
        for r in p_full.run(pages)["clusters"].collect()
    }
    assert out_n == out_f and len(out_n) > 0
    b_narrow = du(os.path.join(narrow_dir, "signatures"))
    b_full = du(os.path.join(full_dir, "signatures"))
    assert b_narrow < 0.55 * b_full, (b_narrow, b_full)


@pytest.mark.parametrize(
    "caps",
    [
        {},
        {"max_bucket_size": 3},
        {"max_bucket_size": 3, "salted_bucket_cap": 10**6, "n_salt": 4},
    ],
    ids=["default", "capped", "salted"],
)
def test_fused_candidates_equal_legacy(spark, pages, caps):
    """The one tagged bucket join over the signatures (LSH bands,
    SimHash blocks, substring grams) plus the exact-hash star edges give
    the tagged candidate set of the per-source operators: LSH and
    SimHash over the signatures, and the standalone substring and exact
    text scans — the shared _ContentHasher guarantees identical gram
    hash values on ASCII text. Under a small cap, with or without the
    salted tier, the tag keeps each source's buckets and caps apart."""
    # plus an exact copy, so every source has pairs
    url = pages.select(F.min("url")).first()[0]
    pages = pages.unionByName(
        pages.where(F.col("url") == url).withColumn("url", F.lit(url + "#copy"))
    )
    c = DedupConfig(**caps)
    pipe = DedupPipeline(spark, c)
    fused = {
        (r["id_a"], r["id_b"], tuple(sorted(r["sources"])))
        for r in pipe.candidate_pairs(pages).collect()
    }
    narrow = pipe.signatures(pages).select("id", "bands", "simhash")
    pages64 = pipe._pages64(pages)
    caps = dict(
        max_bucket_size=c.max_bucket_size,
        salted_bucket_cap=c.salted_bucket_cap,
        n_salt=c.n_salt,
    )
    by_source = {
        "minhash_lsh": lsh_candidate_pairs(
            narrow, bands=c.bands, num_perm=c.num_perm, bands_col="bands",
            **caps,
        ),
        "simhash": simhash_candidate_pairs(
            narrow, max_hamming=c.simhash_max_hamming, **caps
        ),
        "substring": substring_fingerprint_pairs(
            pages64,
            id_col="id",
            gram_len=c.substring_gram_len,
            sample_mod=c.substring_sample_mod,
            **caps,
        ),
        "exact": exact_duplicates(pages64, id_col="id")
        .where(F.col("id") != F.col("group_id"))
        .select(F.col("group_id").alias("id_a"), F.col("id").alias("id_b")),
    }
    legacy = {}
    for source, df in by_source.items():
        for r in df.select("id_a", "id_b").collect():
            legacy.setdefault((r["id_a"], r["id_b"]), set()).add(source)
    legacy = {(a, b, tuple(sorted(s))) for (a, b), s in legacy.items()}
    assert fused == legacy
    assert {s for _, _, tags in fused for s in tags} == set(by_source)


def test_fused_candidates_read_no_text(spark, pages):
    """After the signatures relation is materialized, fused candidate
    generation is pure Catalyst over it: no Python/Arrow stage and no
    re-scan of the pages text column anywhere in the plan."""
    pipe = DedupPipeline(spark, DedupConfig(), collect_metrics=False)
    pipe.signatures(pages).count()  # materialize the localCheckpoint
    plan = (
        pipe.candidate_pairs(pages)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("ArrowEval", "EvalPython", "MapInArrow", "FlatMapsInPandas",
                   "sampled_grams", "text#"):
        assert marker not in plan, marker
