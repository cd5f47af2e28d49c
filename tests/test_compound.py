"""lookup_compound parity (reference tests/test_symspellpy_lookup_compound.py,
golden fixtures tests/fortests/lookup_compound*.json).

The packaged bigram dictionary is absent from the reference snapshot
(.MISSING_LARGE_BLOBS), so bigram-config cases run against a synthetic
bigram dictionary loaded into BOTH engines and compared live.
"""

import json
import os

import pytest

from symspellpy_spark.config import Verbosity
from symspellpy_spark.operators.compound import lookup_compound_batch
from symspellpy_spark.operators.dictionary import SparkDictionary

DICT_PATH = "/root/reference/symspellpy/frequency_dictionary_en_82_765.txt"
FORTESTS = "/root/reference/tests/fortests"

BIGRAM_LINES = [
    "where is 10956800",
    "the love 3101600",
    "he had 5661400",
    "for much 1421700",
    "the past 3801000",
    "couldn't read 94300",
    "sixth grade 134000",
    "in sixth 201000",
    "inspired him 20500",
]


@pytest.fixture(scope="module")
def bigram_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("bigrams") / "bigrams.txt"
    p.write_text("\n".join(BIGRAM_LINES) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def en_dict_uni(spark):
    if not os.path.exists(DICT_PATH):
        pytest.skip(f"reference file absent: {DICT_PATH}")
    return SparkDictionary.load_dictionary(spark, DICT_PATH).cache()


@pytest.fixture(scope="module")
def en_dict_bi(spark, en_dict_uni, bigram_path):
    return en_dict_uni.load_bigram_dictionary(bigram_path)


@pytest.fixture(scope="module")
def ref_uni(reference_symspell_module):
    from symspellpy import SymSpell

    s = SymSpell(2, 7)
    s.load_dictionary(DICT_PATH, 0, 1)
    return s


@pytest.fixture(scope="module")
def ref_bi(reference_symspell_module, bigram_path):
    from symspellpy import SymSpell

    s = SymSpell(2, 7)
    s.load_dictionary(DICT_PATH, 0, 1)
    s.load_bigram_dictionary(bigram_path, 0, 2)
    return s


def load_fixture(name):
    path = f"{FORTESTS}/{name}"
    if not os.path.exists(path):
        pytest.skip(f"reference file absent: {path}")
    with open(path) as fh:
        return json.load(fh)["data"]


def run_batch(spark, d, typos, **kw):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(typos)], "doc_id long, text string"
    )
    rows = lookup_compound_batch(docs, d, max_edit_distance=2, **kw).collect()
    return {r["doc_id"]: r for r in rows}


@pytest.mark.slow
def test_golden_fixture_unigram(spark, en_dict_uni):
    cases = load_fixture("lookup_compound_data.json")
    typos = [c["typo"] for c in cases]
    got = run_batch(spark, en_dict_uni, typos)
    for i, c in enumerate(cases):
        exp = c["unigram"]
        r = got[i]
        assert r["term"] == exp["term"], (c["typo"], r["term"], exp["term"])
        assert r["distance"] == exp["distance"]
        assert r["count"] == exp["count"]


@pytest.mark.slow
def test_live_parity_bigram(spark, en_dict_bi, ref_bi):
    cases = load_fixture("lookup_compound_data.json")
    typos = [c["typo"] for c in cases]
    got = run_batch(spark, en_dict_bi, typos)
    for i, t in enumerate(typos):
        exp = ref_bi.lookup_compound(t, 2)[0]
        r = got[i]
        assert (r["term"], r["distance"], r["count"]) == (
            exp.term,
            exp.distance,
            exp.count,
        ), t


@pytest.mark.slow
def test_ignore_non_words(spark, en_dict_uni, ref_uni):
    cases = load_fixture("lookup_compound_ignore_non_words_data.json")
    typos = [c["typo"] for c in cases]
    got = run_batch(spark, en_dict_uni, typos, ignore_non_words=True)
    for i, t in enumerate(typos):
        exp = ref_uni.lookup_compound(t, 2, ignore_non_words=True)[0]
        assert got[i]["term"] == exp.term, t
        assert got[i]["distance"] == exp.distance


@pytest.mark.slow
def test_transfer_casing(spark, en_dict_uni, ref_uni):
    cases = load_fixture("lookup_compound_transfer_casing_data.json")
    typos = [c["typo"] for c in cases]
    got = run_batch(spark, en_dict_uni, typos, transfer_casing=True)
    for i, t in enumerate(typos):
        exp = ref_uni.lookup_compound(t, 2, transfer_casing=True)[0]
        assert got[i]["term"] == exp.term, t


@pytest.mark.slow
def test_replaced_words_audit(spark, en_dict_uni, ref_uni):
    typo = (
        "whereis th elove hehad dated forImuch of thepast who "
        "couqdn'tread in sixthgrade and ins pired him"
    )
    got = run_batch(spark, en_dict_uni, [typo])
    ref_uni._replaced_words.clear()  # module fixture accumulates across tests
    ref_uni.lookup_compound(typo, 2)
    exp = {k: v.term for k, v in ref_uni.replaced_words.items()}
    assert dict(got[0]["replacements"]) == exp


def test_empty_and_trivial_docs(spark):
    words = spark.createDataFrame(
        [("hello", 100), ("world", 50)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words)
    got = run_batch(spark, d, ["", "helo wrld", "zzzz"])
    assert got[0]["term"] == ""
    assert got[1]["term"] == "hello world"
    assert got[2]["term"] == "zzzz" and got[2]["distance"] == 0 and got[2]["count"] == 0


def test_repeated_compound_no_cache_accretion(spark, en_dict_uni, relational_route):
    """The RELATIONAL route's persists (the nested lookup_batch.near)
    are generation-scoped: repeated calls must not grow the
    CacheManager unboundedly. (Pinned to the
    relational route: this vocab otherwise routes to the worker-local
    kernel, which persists nothing — the behavior under test would
    silently stop executing.)"""
    from symspellpy_spark.operators.compound import lookup_compound_batch

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    docs = spark.createDataFrame(
        [(1, "whereis th elove"), (2, "the bigjest playrs")],
        "doc_id long, text string",
    )
    before = cache_mgr.cachedData().size()
    with relational_route():
        for _ in range(3):
            lookup_compound_batch(
                docs, en_dict_uni, max_edit_distance=2
            ).collect()
        mid = cache_mgr.cachedData().size()
        # each call may keep `keep` generations per scope (the nested
        # lookup_batch.near), but the count must not grow per call
        for _ in range(3):
            lookup_compound_batch(
                docs, en_dict_uni, max_edit_distance=2
            ).collect()
        after = cache_mgr.cachedData().size()
    assert after <= mid, (before, mid, after)


def test_strategies_agree(spark, en_dict_bi, relational_route):
    """The worker-local route (default) and the relational route (the
    same kernel on joined-back answer maps) must be bit-identical —
    merge repairs, split repairs with and without bigram boost, unknown
    tokens, numbers/acronyms, casing."""
    texts = [
        "whereis th elove hehad dated forImuch of thepast who "
        "couqdn'tread in sixtgrade and ins pired him",
        "in te dhe",
        "can yu readthis messa ge despite thehorible sppelingmsitakes",
        "the bigjest playrs in te strogsommer film slatew ith plety of funn",
        "24th off december 123 NATO xyzzyqwertyuuu",
        "a b",
        "",
        None,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for kw in (
        {},
        {"ignore_non_words": True, "ignore_term_with_digits": True},
        {"transfer_casing": True},
    ):
        fast = {
            r["doc_id"]: (
                r["term"],
                r["distance"],
                r["count"],
                sorted((r["replacements"] or {}).items()),
            )
            for r in lookup_compound_batch(
                docs, en_dict_bi, max_edit_distance=2, **kw
            ).collect()
        }
        with relational_route():
            rel = {
                r["doc_id"]: (
                    r["term"],
                    r["distance"],
                    r["count"],
                    sorted((r["replacements"] or {}).items()),
                )
                for r in lookup_compound_batch(
                    docs, en_dict_bi, max_edit_distance=2, **kw
                ).collect()
            }
        assert fast == rel, kw


def test_strategies_agree_no_bigrams(spark, en_dict_uni, relational_route):
    """Without a bigram dictionary the Naive-Bayes split scoring clamps
    to bigram_count_min — both strategies must take that branch alike."""
    docs = spark.createDataFrame(
        [(1, "whereis th elove"), (2, "couqdn'tread insixtgrade")],
        "doc_id long, text string",
    )
    fast = {
        r["doc_id"]: (r["term"], r["distance"], r["count"])
        for r in lookup_compound_batch(
            docs, en_dict_uni, max_edit_distance=2
        ).collect()
    }
    with relational_route():
        rel = {
            r["doc_id"]: (r["term"], r["distance"], r["count"])
            for r in lookup_compound_batch(
                docs, en_dict_uni, max_edit_distance=2
            ).collect()
        }
    assert fast == rel


def test_vocab_limit_routes_to_relational(spark, monkeypatch):
    """Above BROADCAST_VOCAB_LIMIT the auto strategy must not collect the
    vocabulary: the plan falls back to the relational join shape."""
    from symspellpy_spark.operators import neighborhood
    from symspellpy_spark.operators.dictionary import SparkDictionary

    words = spark.createDataFrame(
        [("steam", 10), ("spark", 5), ("stream", 7)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words)
    docs = spark.createDataFrame([(1, "steem sparkk")], "doc_id long, text string")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    fast = lookup_compound_batch(docs, d, max_edit_distance=1)
    assert "MapInPandas" in plan(fast)
    assert "Join" not in plan(fast)
    monkeypatch.setattr(neighborhood, "BROADCAST_VOCAB_LIMIT", 2)
    rel = lookup_compound_batch(docs, d, max_edit_distance=1)
    assert "Join" in plan(rel)
    assert [tuple(r) for r in fast.collect()] == [
        tuple(r) for r in rel.collect()
    ]
