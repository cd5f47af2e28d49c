"""Batch lookup parity vs. the reference implementation
(reference tests/test_symspellpy_lookup.py)."""

import os

import pytest
from pyspark.sql import functions as F

from symspellpy_spark.config import EngineConfig, Verbosity
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import (
    lookup_batch,
    lookup_batch_relational,
)

DICT_PATH = "/root/reference/symspellpy/frequency_dictionary_en_82_765.txt"
NOISY_PATH = "/root/reference/tests/fortests/noisy_query_en_1000.txt"


@pytest.fixture(scope="module")
def small_dict(spark):
    words = spark.createDataFrame(
        [("steama", 4), ("steamb", 6), ("steamc", 2), ("steam", 10), ("steams", 5), ("steem", 8)],
        "term string, count long",
    )
    return SparkDictionary.from_words(spark, words).cache()


@pytest.fixture(scope="module")
def en_dict(spark):
    if not os.path.exists(DICT_PATH):
        pytest.skip(f"reference file absent: {DICT_PATH}")
    return SparkDictionary.load_dictionary(spark, DICT_PATH).cache()


@pytest.fixture(scope="module")
def ref_speller(reference_symspell_module):
    from symspellpy import SymSpell

    s = SymSpell(2, 7)
    s.load_dictionary(DICT_PATH, 0, 1)
    return s


def run_lookup(spark, d, query, verbosity, **kw):
    qdf = spark.createDataFrame([(query,)], "query string")
    rows = lookup_batch(qdf, d, verbosity, **kw).collect()
    return sorted(
        [(r["term"], r["distance"], r["count"]) for r in rows],
        key=lambda t: (t[1], -t[2], t[0]),
    )


def test_verbosity_cardinality(spark, small_dict):
    """steems vs {steam, steams, steem}: TOP=1, CLOSEST=2, ALL>=3
    (reference tests/test_symspellpy_lookup.py:75-90)."""
    top = run_lookup(spark, small_dict, "steems", Verbosity.TOP)
    closest = run_lookup(spark, small_dict, "steems", Verbosity.CLOSEST)
    all_ = run_lookup(spark, small_dict, "steems", Verbosity.ALL)
    assert len(top) == 1
    assert len(closest) == 2
    assert {t[0] for t in closest} == {"steams", "steem"}
    assert len(all_) >= 3


def test_exact_match_short_circuits(spark, small_dict):
    got = run_lookup(spark, small_dict, "steam", Verbosity.CLOSEST)
    assert got == [("steam", 0, 10)]
    got_all = run_lookup(spark, small_dict, "steam", Verbosity.ALL)
    assert len(got_all) > 1 and ("steam", 0, 10) in got_all


def test_most_frequent_wins_top(spark, small_dict):
    got = run_lookup(spark, small_dict, "steamx", Verbosity.TOP)
    assert got == [("steam", 1, 10)]
    # among equal-distance candidates the highest count wins
    got2 = run_lookup(spark, small_dict, "steamab", Verbosity.TOP)
    assert got2 == [("steamb", 1, 6)]


def test_distance_too_large_raises(spark, small_dict):
    with pytest.raises(ValueError):
        lookup_batch(
            spark.createDataFrame([("x",)], "query string"),
            small_dict,
            Verbosity.TOP,
            max_edit_distance=5,
        )


def test_include_unknown(spark, small_dict):
    got = run_lookup(
        spark, small_dict, "qqqqqqqqqq", Verbosity.TOP, include_unknown=True
    )
    assert got == [("qqqqqqqqqq", 3, 0)]


def test_ignore_pattern(spark, small_dict):
    got = run_lookup(
        spark, small_dict, "steamx77", Verbosity.TOP, ignore_pattern=r"\w+\d"
    )
    assert got == [("steamx77", 0, 1)]


@pytest.mark.slow
def test_parity_vs_reference_sampled(spark, en_dict, ref_speller):
    """Exact (term, distance, count) parity on noisy queries, all verbosities."""
    from symspellpy import Verbosity as RefVerbosity

    if not os.path.exists(NOISY_PATH):
        pytest.skip(f"reference file absent: {NOISY_PATH}")
    with open(NOISY_PATH) as fh:
        noisy = [line.split()[0] for line in fh if line.strip()][::10]
    qdf = spark.createDataFrame([(w,) for w in noisy], "query string")
    for verb, ref_verb in [
        (Verbosity.TOP, RefVerbosity.TOP),
        (Verbosity.CLOSEST, RefVerbosity.CLOSEST),
        (Verbosity.ALL, RefVerbosity.ALL),
    ]:
        rows = lookup_batch(qdf, en_dict, verb, max_edit_distance=2).collect()
        got = {}
        for r in rows:
            got.setdefault(r["query"], set()).add(
                (r["term"], r["distance"], r["count"])
            )
        for w in noisy:
            expected = {
                (s.term, s.distance, s.count)
                for s in ref_speller.lookup(w, ref_verb, 2)
            }
            g = got.get(w, set())
            if verb == Verbosity.TOP and expected:
                # reference TOP tie-breaks by BFS order; ours by term.
                # compare on (distance, count) which the reference defines
                # as SuggestItem equality (suggest_item.py:37-46)
                assert len(g) == 1
                gt, ge = next(iter(g)), next(iter(expected))
                assert (gt[1], gt[2]) == (ge[1], ge[2]), (w, g, expected)
            else:
                assert g == expected, (w, verb)


@pytest.mark.slow
def test_noisy_corpus_anchor(spark, en_dict):
    """Sum of CLOSEST result-set sizes over the 999 noisy queries == 4955
    (reference tests/test_symspellpy_lookup.py:149-168)."""
    if not os.path.exists(NOISY_PATH):
        pytest.skip(f"reference file absent: {NOISY_PATH}")
    qdf = (
        spark.read.text(NOISY_PATH)
        .select(F.split(F.col("value"), " ").getItem(0).alias("query"))
        .where(F.length("query") > 0)
    )
    res = lookup_batch(qdf, en_dict, Verbosity.CLOSEST, max_edit_distance=2)
    # queries repeat in the fixture; count per distinct query then re-join
    per_q = res.groupBy("query").count()
    total = (
        qdf.join(per_q, "query", "left")
        .select(F.coalesce(F.col("count"), F.lit(0)).alias("n"))
        .agg(F.sum("n"))
        .first()[0]
    )
    assert total == 4955


def test_transfer_casing(spark, en_dict, ref_speller):
    from symspellpy import Verbosity as RefVerbosity

    cases = ["Steema", "memEbers", "whereIS", "THe", "Tehre"]
    qdf = spark.createDataFrame([(w,) for w in cases], "query string")
    rows = lookup_batch(
        qdf, en_dict, Verbosity.TOP, max_edit_distance=2, transfer_casing=True
    ).collect()
    got = {r["query"]: (r["term"], r["distance"], r["count"]) for r in rows}
    for w in cases:
        ref = ref_speller.lookup(w, RefVerbosity.TOP, 2, transfer_casing=True)
        assert got[w][1:] == (ref[0].distance, ref[0].count), w
        # term parity modulo TOP tie-break
        if got[w][0] != ref[0].term:
            assert (got[w][1], got[w][2]) == (ref[0].distance, ref[0].count)


def test_staged_boundary_mixed_batch(spark, small_dict):
    """One batch mixing queries that resolve in the depth<=1 pre-pass,
    queries only resolvable by the full-depth join, and unknowns — the
    staged read path must agree with the unstaged semantics (reference
    bound-shrinking changes cost, never results, symspellpy.py:590-609).
    Both engines stage this way: the worker-local d<=1 pass plus deep
    pass, and the relational engine's stage-1 join plus full-depth join."""
    qdf = spark.createDataFrame(
        [("steam",), ("steema",), ("steaxy",), ("zzzzzz",)], "query string"
    )
    for engine in (lookup_batch, lookup_batch_relational):
        got = {
            (r["query"], r["term"], r["distance"], r["count"])
            for r in engine(qdf, small_dict, Verbosity.TOP).collect()
        }
        # steam: exact (d=0, stage 1); steema: 'steem'+a is the only d=1
        # term (stage 1); steaxy: no d<=1 term, far path finds 'steam' at
        # d=2 (count 10 beats the other d=2 candidates); zzzzzz: no
        # suggestion
        assert got == {
            ("steam", "steam", 0, 10),
            ("steema", "steem", 1, 8),
            ("steaxy", "steam", 2, 10),
        }, engine.__name__


def test_staged_closest_crosses_stages(spark, small_dict):
    """CLOSEST must return ALL terms at the minimal distance when that
    distance is 1 — the stage-1 candidate set provably contains every
    distance<=1 term, so none may be lost to the staging."""
    qdf = spark.createDataFrame([("steamx",)], "query string")
    for engine in (lookup_batch, lookup_batch_relational):
        rows = engine(qdf, small_dict, Verbosity.CLOSEST).collect()
        assert {(r["term"], r["distance"]) for r in rows} == {
            ("steam", 1), ("steama", 1), ("steamb", 1),
            ("steamc", 1), ("steams", 1),
        }, engine.__name__


def test_repeated_lookup_batch_no_cache_accretion(spark, small_dict):
    """The relational engine must not grow executor storage linearly
    with calls: the staged `near` diamond is persisted generation-scoped
    (see scoped_cache.py), so the CacheManager holds at most `keep`
    generations no matter how many calls run."""
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    before = cache_mgr.cachedData().size()
    qdf = spark.createDataFrame([("steamx",), ("steamy",)], "query string")
    for _ in range(3):
        lookup_batch_relational(
            qdf, small_dict, Verbosity.TOP, max_edit_distance=2
        ).collect()
    mid = cache_mgr.cachedData().size()
    assert mid - before <= 2, f"CacheManager grew {before} -> {mid}"
    for _ in range(4):
        lookup_batch_relational(
            qdf, small_dict, Verbosity.TOP, max_edit_distance=2
        ).collect()
    after = cache_mgr.cachedData().size()
    assert after <= mid, f"CacheManager kept growing: {mid} -> {after}"

    from symspellpy_spark.operators.scoped_cache import release_scope

    release_scope("lookup_batch.near")
    assert cache_mgr.cachedData().size() <= before + 0, "release_scope left entries"
