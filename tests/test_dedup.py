"""Dedup-stage correctness vs. brute-force oracles (SURVEY.md §5 item d)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from symspellpy_spark.operators import cluster
from symspellpy_spark.operators.cluster import connected_components
from symspellpy_spark.operators.dedup import (
    exact_duplicates,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    normalized_tokens,
    shingles,
    simhash_candidate_pairs,
    simhash_signatures,
    substring_fingerprint_pairs,
    text_to_signatures,
)
from symspellpy_spark.sources.pages import synthesize_pages, truth_pairs


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, n_docs=400, n_base=100, seed=42).cache()


@pytest.fixture(scope="module")
def sigs(spark, pages):
    toks = normalized_tokens(pages)
    return minhash_signatures(shingles(toks, k=5)).cache()


def brute_force_jaccard(pages_rows, k=5):
    import re

    docs = {}
    for r in pages_rows:
        toks = re.findall(r"[\w'’]+", r["text"].lower(), re.UNICODE)
        if len(toks) >= k:
            sh = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        else:
            sh = {" ".join(toks)}
        docs[r["url"]] = sh
    urls = sorted(docs)
    out = {}
    for i, a in enumerate(urls):
        for b in urls[i + 1 :]:
            inter = len(docs[a] & docs[b])
            if inter:
                out[(min(a, b), max(a, b))] = inter / len(docs[a] | docs[b])
    return out


def test_generator_deterministic(spark):
    a = synthesize_pages(spark, n_docs=50, n_base=10, seed=7).collect()
    b = synthesize_pages(spark, n_docs=50, n_base=10, seed=7).collect()
    assert sorted((r["url"], r["text"]) for r in a) == sorted(
        (r["url"], r["text"]) for r in b
    )
    c = synthesize_pages(spark, n_docs=50, n_base=10, seed=8).collect()
    assert sorted(r["text"] for r in a) != sorted(r["text"] for r in c)


def test_jaccard_verify_exact(spark, pages, sigs):
    """jaccard_verify computes true shingle Jaccard (oracle: python sets)."""
    oracle = brute_force_jaccard(pages.select("url", "text").collect())
    all_pairs = spark.createDataFrame(
        [(a, b) for (a, b) in oracle], "id_a string, id_b string"
    )
    got = jaccard_verify(all_pairs, sigs, threshold=0.0).collect()
    for r in got:
        key = (r["id_a"], r["id_b"])
        assert abs(r["jaccard"] - oracle[key]) < 1e-9, key


def test_lsh_recall_vs_bruteforce(spark, pages, sigs):
    """LSH(32 bands x 4 rows) + exact verify at t=0.7: recall >= 0.99 vs
    brute force; precision = 1 by construction (exact verify)."""
    oracle = brute_force_jaccard(pages.select("url", "text").collect())
    true_pairs = {k for k, v in oracle.items() if v >= 0.7}
    cand = lsh_candidate_pairs(sigs, bands=32, num_perm=128)
    verified = jaccard_verify(cand, sigs, threshold=0.7)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert got <= true_pairs.union(set())  # exact verify -> no false positives
    recall = len(got & true_pairs) / max(1, len(true_pairs))
    assert len(true_pairs) > 20  # sanity: corpus really has near-dups
    assert recall >= 0.99, (recall, len(true_pairs))


def test_simhash_pairs_exact_vs_bruteforce(spark, pages):
    """Block probing is exhaustive within the Hamming ball -> exact equality
    with the O(n^2) oracle."""
    toks = normalized_tokens(pages)
    sigs = simhash_signatures(toks).select("id", "simhash").cache()
    rows = sigs.collect()
    sig_map = {r["id"]: np.uint64(np.int64(r["simhash"])) for r in rows}
    ids = sorted(sig_map)
    oracle = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(int(sig_map[a] ^ sig_map[b])).count("1") <= 3:
                oracle.add((a, b))
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_candidate_pairs(sigs, max_hamming=3).collect()
    }
    assert got == oracle


def test_substring_pass_finds_inclusions(spark, pages):
    truth = {
        (r["url_a"], r["url_b"])
        for r in truth_pairs(pages).where(F.col("kind") == "exact_substring").collect()
    }
    got_df = substring_fingerprint_pairs(pages, gram_len=40, sample_mod=8)
    got = set()
    for r in got_df.collect():
        got.add((r["id_a"], r["id_b"]))
        got.add((r["id_b"], r["id_a"]))
    found = sum(1 for p in truth if p in got)
    assert len(truth) > 10
    assert found / len(truth) >= 0.99, (found, len(truth))


def test_exact_duplicates(spark):
    docs = spark.createDataFrame(
        [("u1", "same text"), ("u2", "same text"), ("u3", "other"), ("u4", "same text")],
        "url string, text string",
    )
    got = {r["id"]: r["group_id"] for r in exact_duplicates(docs).collect()}
    assert got == {"u1": "u1", "u2": "u1", "u4": "u1"}


def test_boilerplate_segments(spark):
    """Hand-built corpus: an 8-token banner shared by two docs is
    boilerplate; unique segments are not; a doc shorter than one
    segment gets zeros; a segment repeated only WITHIN one doc does
    not count as boilerplate (document frequency, not term frequency)."""
    from symspellpy_spark.operators.dedup import boilerplate_segments

    banner = "cookie notice please accept all cookies to continue"
    uniq = lambda s, n: " ".join(f"{s}{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, banner + " " + uniq("a", 8)),        # banner + 1 unique seg
            (2, banner + " " + uniq("b", 16)),       # banner + 2 unique segs
            (3, uniq("c", 8) + " " + uniq("c", 8)),  # self-repeat, 1 doc
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_segments"], r["n_boilerplate"],
            r["boiler_ratio"],
        )
        for r in boilerplate_segments(docs, seg_len=8, min_docs=2).collect()
    }
    assert got == {
        1: (16, 2, 1, 0.5),
        2: (24, 3, 1, 1.0 / 3.0),
        3: (16, 2, 0, 0.0),
        4: (2, 0, 0, 0.0),
    }


def test_salted_bucket_pairs_exact_and_tiered(spark):
    """The salted hot-bucket tier emits exactly the full unordered pair
    set of buckets in (max_bucket_size, salted_cap] — each pair once —
    while small buckets keep the plain path and monster buckets are
    still dropped."""
    from symspellpy_spark.operators.dedup import _bucket_pairs

    rows = []
    rows += [("small", i) for i in range(5)]        # plain tier: C(5,2)
    rows += [("hot", 100 + i) for i in range(40)]   # salted tier: C(40,2)
    rows += [("monster", 1000 + i) for i in range(80)]  # dropped
    df = spark.createDataFrame(rows, "bucket string, id long")
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in _bucket_pairs(
            df, ["bucket"], "id", max_bucket_size=10, salted_cap=60, n_salt=4
        ).collect()
    )
    exp = sorted(
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [
            (100 + a, 100 + b)
            for a in range(40)
            for b in range(a + 1, 40)
        ]
    )
    assert got == exp  # exactly once each: no dups, no misses
    # without the salted tier the hot bucket is dropped entirely
    plain = _bucket_pairs(df, ["bucket"], "id", max_bucket_size=10).count()
    assert plain == 10  # C(5,2)


def test_lsh_salted_cap_recovers_hot_band_pairs(spark, sigs):
    """lsh_candidate_pairs with a salted cap is a superset of the
    plain capped run and equals the uncapped run when the salted cap
    covers every bucket."""
    plain = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, max_bucket_size=3).collect()
    }
    salted = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            sigs, max_bucket_size=3, salted_bucket_cap=10**6, n_salt=4
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, max_bucket_size=10**6).collect()
    }
    assert plain <= salted and salted == uncapped and len(salted) > len(plain)


def test_ngram_contamination(spark):
    """Planted leak: a training doc embedding a benchmark 8-gram at an
    arbitrary offset is flagged with the exact overlap count; clean and
    too-short docs get zeros."""
    from symspellpy_spark.operators.dedup import ngram_contamination

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"  # 8 toks
    uniq = lambda s, k: " ".join(f"{s}{i}" for i in range(k))  # noqa: E731
    train = spark.createDataFrame(
        [
            # leak at offset 3: exactly one 8-gram matches
            (1, uniq("x", 3) + " " + bench_text + " " + uniq("y", 3)),
            (2, uniq("z", 12)),       # clean
            (3, "short doc"),         # < 8 tokens
            (4, bench_text),          # verbatim benchmark copy
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated"])
        for r in ngram_contamination(train, bench, n=8).collect()
    }
    assert got == {1: (7, 1), 2: (5, 0), 3: (0, 0), 4: (1, 1)}


def test_hash_stratified_sample(spark):
    """Deterministic mixture sampling: identical selection across
    repartitionings, per-stratum rates within binomial tolerance,
    default rate 0 for unmapped strata, bad rates rejected."""
    from symspellpy_spark.operators.sampling import hash_stratified_sample

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("xx")
        .alias("lang"),
    )
    rates = {"en": 50, "de": 10}
    a = {r["doc_id"] for r in hash_stratified_sample(df, rates).collect()}
    b = {
        r["doc_id"]
        for r in hash_stratified_sample(df.repartition(17), rates).collect()
    }
    assert a == b  # partitioning-independent
    by_lang = {"en": 0, "de": 0, "xx": 0}
    for r in hash_stratified_sample(df, rates).collect():
        by_lang[r["lang"]] += 1
    assert by_lang["xx"] == 0  # unmapped stratum -> default 0
    # ~1333 docs per stratum; binomial sd ~18 at p=.5, ~13 at p=.1
    assert abs(by_lang["en"] - 1333 * 0.5) < 100, by_lang
    assert abs(by_lang["de"] - 1333 * 0.1) < 60, by_lang

    with pytest.raises(ValueError):
        hash_stratified_sample(df, {"en": 101})


def _bfs_components(edges, vertices=()):
    """Python BFS oracle: vertex -> min id of its component. Self-loops
    add no vertex; ``vertices`` come back as singletons when isolated."""
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    oracle = {}
    for start in sorted(adj):
        if start in oracle:
            continue
        comp, stack = [], [start]
        seen = {start}
        while stack:
            v = stack.pop()
            comp.append(v)
            for w in adj.get(v, ()):
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        m = min(comp)
        for v in comp:
            oracle[v] = m
    for v in vertices:
        oracle.setdefault(v, v)
    return oracle


@pytest.fixture
def loop_route(monkeypatch):
    """Force connected_components onto the hash-min loop."""
    monkeypatch.setattr(cluster, "DRIVER_EDGE_LIMIT", 0)


def _check_vs_bfs(spark):
    rng = np.random.default_rng(5)
    n = 300
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(200, 2)) if a != b]
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in connected_components(edf).collect()}
    assert got == _bfs_components(edges)


def test_connected_components_vs_bfs(spark):
    _check_vs_bfs(spark)


def test_connected_components_vs_bfs_loop(spark, loop_route):
    _check_vs_bfs(spark)


def _check_path(spark, **kw):
    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = connected_components(edges, **kw)
    assert got.where("cluster_id != 0").count() == 0
    assert got.count() == n


def test_connected_components_path_converges_logarithmically(spark, loop_route):
    """Pointer jumping bounds the hash-min loop at O(log diameter): a
    1000-vertex path must fully converge within 16 iterations — 3
    one-hop rounds before adaptive jumping engages, then doubling —
    where plain one-hop hash-min would need ~1000 (measured 199 s vs
    4 s on local[8]). Long chains are real in near-dup graphs:
    partial-overlap docs A~B~C~... from the winnowing/substring
    sweeps."""
    _check_path(spark, max_iterations=16)


def test_connected_components_path_driver_route(spark):
    _check_path(spark)


def test_connected_components_routes_on_edge_count(spark, monkeypatch):
    """The loop runs only when the distinct edges exceed the limit;
    duplicate rows and self-loops do not count."""
    calls = []
    loop = cluster._hash_min_labels

    def spy(*args, **kw):
        calls.append(1)
        return loop(*args, **kw)

    monkeypatch.setattr(cluster, "_hash_min_labels", spy)
    monkeypatch.setattr(cluster, "DRIVER_EDGE_LIMIT", 3)
    at_limit = [(1, 2), (2, 3), (7, 8), (1, 2), (4, 4)]
    over = at_limit + [(8, 9)]
    for edges, loops in ((at_limit, 0), (over, 1)):
        calls.clear()
        edf = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["cluster_id"] for r in connected_components(edf).collect()}
        assert got == _bfs_components(edges)
        assert len(calls) == loops, edges


def _check_singletons(spark):
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    verts = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {1: 1, 2: 1, 9: 9}


def test_connected_components_singletons(spark):
    _check_singletons(spark)


def test_connected_components_singletons_loop(spark, loop_route):
    _check_singletons(spark)


_ids = st.integers(0, 40)


@pytest.mark.parametrize("limit", [None, 0], ids=["driver", "loop"])
@settings(max_examples=15, deadline=None)
@given(
    edges=st.lists(st.tuples(_ids, _ids), max_size=40),
    vertices=st.lists(_ids, max_size=10),
)
def test_connected_components_property(spark, limit, edges, vertices):
    """Both routes equal the BFS oracle on random multigraphs: self-loops,
    duplicate and reversed edges, no edges, and extra vertices."""
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    vdf = spark.createDataFrame([(v,) for v in vertices], "id long")
    with pytest.MonkeyPatch.context() as m:
        if limit is not None:
            m.setattr(cluster, "DRIVER_EDGE_LIMIT", limit)
        rows = connected_components(edf, vertices=vdf).collect()
    got = {r["id"]: r["cluster_id"] for r in rows}
    assert len(got) == len(rows)
    assert got == _bfs_components(edges, vertices)


def test_select_canonical(spark):
    from symspellpy_spark.operators.cluster import select_canonical

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "bbbbbb"), (3, "cc"), (4, "dd"), (5, "ee"), (6, "ff")],
        "id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3)], "id long, cluster_id long"
    )
    got = sorted(
        r["id"] for r in select_canonical(docs, clusters, id_col="id").collect()
    )
    # cluster {1,2}: 2 survives (longer text); {3,4}: tie -> smaller id 3;
    # 5 and 6 are unclustered and pass through
    assert got == [2, 3, 5, 6]


def test_jaccard_verify_two_phase_equals_single(spark):
    """two_phase=True (narrow-minhash prefilter join, fat arrays only
    for survivors) must produce exactly the single-phase result."""
    from symspellpy_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        normalized_tokens,
        shingles,
    )
    from symspellpy_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, n_docs=80, n_base=20, seed=21)
    toks = normalized_tokens(pages, id_col="url", text_col="text")
    sig = minhash_signatures(shingles(toks, k=5)).localCheckpoint()
    cand = lsh_candidate_pairs(sig, bands=32, num_perm=128)
    one = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in jaccard_verify(cand, sig, threshold=0.6).collect()
    }
    two = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in jaccard_verify(cand, sig, threshold=0.6, two_phase=True).collect()
    }
    assert one == two and len(one) > 0


def test_winnowing_guarantee_and_density(spark):
    """Winnowing invariants (Schleimer et al.): (a) two documents
    sharing a substring of length >= window + k - 1 share at least one
    fingerprint; (b) selection density is well below 1 per gram."""
    from symspellpy_spark.operators.dedup import winnowing_fingerprints

    import random

    rng = random.Random(3)
    alpha = "abcdefghij "
    shared = "".join(rng.choice(alpha) for _ in range(40))
    d1 = "".join(rng.choice(alpha) for _ in range(100)) + shared + "".join(
        rng.choice(alpha) for _ in range(100)
    )
    d2 = "".join(rng.choice(alpha) for _ in range(80)) + shared + "".join(
        rng.choice(alpha) for _ in range(120)
    )
    d3 = "".join(rng.choice(alpha) for _ in range(240))
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    fps = winnowing_fingerprints(docs, k=8, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "docs sharing a 40-char substring must share a fingerprint"
    # density: far fewer selections than grams, but not degenerate
    n_grams = len(d3) - 7
    assert 0 < len(by_doc[3]) < n_grams * 0.8
    # determinism
    fps2 = winnowing_fingerprints(docs, k=8, window=4).collect()
    assert {(r["id"], r["pos"], r["fingerprint"]) for r in fps2} == {
        (r["id"], r["pos"], r["fingerprint"]) for r in fps
    }


def test_winnowing_repetitive_doc_stays_linear(spark):
    """A boilerplate-pathological document (one token repeated for
    ~100 KB, so every gram hash is one of a handful of values) must
    winnow in time linear in its length. The former join-based
    rightmost-tie selection produced O(L^2) intermediate rows here."""
    import time

    from symspellpy_spark.operators.dedup import winnowing_fingerprints

    text = "lorem " * 17000  # ~102 KB, gram hashes cycle with period 6
    docs = spark.createDataFrame(
        [(1, text), (2, "x" * 100_000)], "doc_id long, text string"
    )
    t0 = time.monotonic()
    fps = winnowing_fingerprints(docs, k=8, window=4).collect()
    took = time.monotonic() - t0
    assert took < 60, f"repetitive doc took {took:.1f}s - join degeneracy?"
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["id"], set()).add((r["pos"], r["fingerprint"]))
    # periodic text: distinct (pos, fp) selections stay dense (one per
    # window start can repeat positions only via distinct pos), but the
    # distinct FINGERPRINT count collapses to the hash period
    assert len({fp for _, fp in by_doc[1]}) <= 6
    assert len({fp for _, fp in by_doc[2]}) == 1
    # the all-identical doc selects the rightmost position of each window
    assert {p for p, _ in by_doc[2]} == set(
        range(4, 100_000 - 8 + 2)
    ), "rightmost-tie rule violated on constant hashes"


def test_winnowing_kernel_equals_relational(spark):
    """The doc-local winnowing kernel (vectorized XXH64 + strided
    rolling min) must produce EXACTLY the relational window
    formulation's selections — including signed-hash ordering,
    rightmost ties on repetitive text, and non-ASCII character grams
    (where utf8 gram bytes vary in length)."""
    import random

    from symspellpy_spark.operators.dedup import winnowing_fingerprints

    rng = random.Random(13)
    al = "abcdefghij "
    docs = [
        (1, "".join(rng.choice(al) for _ in range(300))),
        (2, "lorem " * 40),                      # heavy hash ties
        (3, "héllo wörld ünïcode " * 12),        # non-ASCII chars
        (4, "x" * 25),                            # constant
        (5, "short"),                             # below k+window-1 -> empty
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for k, w in ((8, 4), (5, 9)):
        fast = {
            (r["id"], r["pos"], r["fingerprint"])
            for r in winnowing_fingerprints(df, k=k, window=w).collect()
        }
        rel = {
            (r["id"], r["pos"], r["fingerprint"])
            for r in winnowing_fingerprints(
                df, k=k, window=w, strategy="relational"
            ).collect()
        }
        assert fast == rel, (k, w, len(fast), len(rel))
        assert len(fast) > 0


def test_pack_unpack_hashes_roundtrip(spark):
    from symspellpy_spark.operators.dedup import pack_hashes, unpack_hashes

    df = spark.createDataFrame(
        [(1, [1, -5, 2**62, 0]), (2, []), (3, None)],
        "id long, mh array<long>",
    )
    out = df.select(
        "id", unpack_hashes(pack_hashes(F.col("mh"))).alias("back")
    ).collect()
    got = {r["id"]: r["back"] for r in out}
    assert got == {1: [1, -5, 2**62, 0], 2: [], 3: None}


def test_fused_substring_grams_match_standalone(spark, pages):
    """text_to_signatures(substring_gram_len=...) emits the SAME sampled
    gram hashes as substring_fingerprint_pairs' own scan on ASCII text
    (byte == codepoint), so the fused bucket join yields identical
    pairs with identical shared_grams counts."""
    from symspellpy_spark.operators.dedup import (
        substring_pairs_from_grams,
        text_to_signatures,
    )

    docs = pages.select(F.xxhash64("url").alias("id"), "text")
    sig = text_to_signatures(
        docs, k=5, n_bands=32, substring_gram_len=40, substring_sample_mod=8
    )
    fused = {
        tuple(r)
        for r in substring_pairs_from_grams(sig, max_bucket_size=1000).collect()
    }
    standalone = {
        tuple(r)
        for r in substring_fingerprint_pairs(
            docs, id_col="id", gram_len=40, sample_mod=8, max_bucket_size=1000
        ).collect()
    }
    assert fused == standalone and len(fused) > 0


def test_exact_duplicates_from_hash_matches(spark):
    """The kernel's 64-bit full-text content hash groups byte-identical
    texts exactly like md5 grouping (documented divergence: null and ''
    share a group)."""
    from symspellpy_spark.operators.dedup import (
        exact_duplicates_from_hash,
        text_to_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "alpha beta gamma delta "),  # trailing space: distinct
            (4, "something else entirely"),
            (5, "something else entirely"),
            (6, "unique text"),
        ],
        "id long, text string",
    )
    sig = text_to_signatures(docs, k=3, n_bands=32, emit_text_hash=True)
    fused = {tuple(r) for r in exact_duplicates_from_hash(sig).collect()}
    legacy = {tuple(r) for r in exact_duplicates(docs, id_col="id").collect()}
    assert fused == legacy == {(1, 1, 2), (2, 1, 2), (4, 4, 2), (5, 4, 2)}


def test_fused_extras_non_ascii_and_empty(spark):
    """Byte-oriented fused grams still pair identical non-ASCII docs,
    and null/empty docs produce empty gram lists + a shared empty-text
    hash group (documented divergence from md5 grouping)."""
    from symspellpy_spark.operators.dedup import (
        exact_duplicates_from_hash,
        substring_pairs_from_grams,
        text_to_signatures,
    )

    t = "наша быстрая лиса прыгает через ленивую собаку снова и снова"
    docs = spark.createDataFrame(
        [(1, t + " один"), (2, t + " два"), (3, "совсем другой текст"),
         (4, ""), (5, None)],
        "id long, text string",
    )
    sig = text_to_signatures(
        docs, k=3, n_bands=32, substring_gram_len=12, substring_sample_mod=2,
        emit_text_hash=True,
    )
    pair_ids = {
        (r["id_a"], r["id_b"])
        for r in substring_pairs_from_grams(sig, max_bucket_size=100).collect()
    }
    assert (1, 2) in pair_ids and not any(3 in p or 4 in p or 5 in p for p in pair_ids)
    rows = {r["id"]: r for r in sig.collect()}
    assert rows[4]["sub_grams"] == [] and rows[5]["sub_grams"] == []
    exact = {tuple(r) for r in exact_duplicates_from_hash(sig).collect()}
    assert exact == {(4, 4, 2), (5, 4, 2)}


def _shipped_kernels(spark, monkeypatch, build):
    """The Python functions ``build()`` hands to ``mapInArrow`` or
    ``pandas_udf``: Spark pickles each into the command of every task."""
    df_cls = type(spark.range(1))
    map_in_arrow, pandas_udf = df_cls.mapInArrow, F.pandas_udf
    shipped = []

    def record_map(self, func, *args, **kwargs):
        shipped.append(func)
        return map_in_arrow(self, func, *args, **kwargs)

    def record_udf(*args, **kwargs):
        decorate = pandas_udf(*args, **kwargs)

        def wrap(func):
            shipped.append(func)
            return decorate(func)

        return wrap

    monkeypatch.setattr(df_cls, "mapInArrow", record_map)
    monkeypatch.setattr(F, "pandas_udf", record_udf)
    build()
    return shipped


@pytest.mark.parametrize(
    "build",
    [
        lambda docs: text_to_signatures(docs, n_bands=32),
        lambda docs: text_to_signatures(
            docs, n_bands=32, substring_gram_len=40, emit_text_hash=True
        ),
        lambda docs: text_to_signatures(docs, shingles_only=True),
        lambda docs: substring_fingerprint_pairs(docs, id_col="id"),
    ],
    ids=["signatures", "signatures_extras", "shingles_only", "substring"],
)
def test_pickled_kernel_under_1mb(spark, monkeypatch, build):
    """A kernel captures its arguments, not its hash tables (built per
    worker): a pickled command over
    ``spark.broadcast.UDFCompressionThreshold`` (1 MB) is broadcast
    again on every call. The test builds plans only; no job runs."""
    from pyspark import cloudpickle

    docs = spark.createDataFrame([(1, "a b c")], "id long, text string")
    shipped = _shipped_kernels(spark, monkeypatch, lambda: build(docs))
    assert shipped
    for func in shipped:
        assert len(cloudpickle.dumps(func)) < 1 << 20
