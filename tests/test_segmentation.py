"""word_segmentation parity (reference tests/test_symspellpy_word_segmentation.py,
fixture tests/fortests/word_segmentation_data.json)."""

import contextlib
import json
import os

import pytest

from symspellpy_spark.config import EngineConfig
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.segmentation import word_segmentation_batch

DICT_PATH = "/root/reference/symspellpy/frequency_dictionary_en_82_765.txt"
FORTESTS = "/root/reference/tests/fortests"


@pytest.fixture(scope="module")
def en_dict0(spark):
    if not os.path.exists(DICT_PATH):
        pytest.skip(f"reference file absent: {DICT_PATH}")
    cfg = EngineConfig(max_dictionary_edit_distance=0, prefix_length=7)
    return SparkDictionary.load_dictionary(spark, DICT_PATH, config=cfg).cache()


@pytest.fixture(scope="module")
def en_dict2(spark):
    if not os.path.exists(DICT_PATH):
        pytest.skip(f"reference file absent: {DICT_PATH}")
    return SparkDictionary.load_dictionary(spark, DICT_PATH).cache()


def run_batch(spark, d, texts, **kw):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = word_segmentation_batch(docs, d, **kw).collect()
    return {r["doc_id"]: r for r in rows}


@pytest.mark.slow
def test_golden_fixture_d0(spark, en_dict0):
    path = f"{FORTESTS}/word_segmentation_data.json"
    if not os.path.exists(path):
        pytest.skip(f"reference file absent: {path}")
    with open(path) as fh:
        cases = json.load(fh)["data"]
    texts = [c["typo"] for c in cases]
    got = run_batch(spark, en_dict0, texts, max_edit_distance=0)
    for i, c in enumerate(cases):
        assert got[i]["corrected_string"] == c["0"]["term"], c["typo"]


@pytest.mark.slow
def test_live_parity_d2(spark, en_dict2, reference_symspell_module):
    from symspellpy import SymSpell

    ref = SymSpell(2, 7)
    ref.load_dictionary(DICT_PATH, 0, 1)
    texts = [
        "thequickbrownfoxjumpsoverthelazydog",
        "itwasabrightcolddayinaprilandtheclockswerestrikingthirteen",
        "inthebeginninggodcreatedtheheavenandtheearth",
        "what ishappening who re youtalking about",
        "Scientiﬁc rEsearch-findings",  # ligature + hyphen + casing
    ]
    got = run_batch(spark, en_dict2, texts)
    for i, t in enumerate(texts):
        exp = ref.word_segmentation(t)
        r = got[i]
        assert r["segmented_string"] == exp.segmented_string, t
        assert r["corrected_string"] == exp.corrected_string, t
        assert r["distance_sum"] == exp.distance_sum, t
        assert abs(r["log_prob_sum"] - exp.log_prob_sum) < 1e-9, t


@pytest.mark.slow
def test_ignore_token(spark, en_dict2, reference_symspell_module):
    import re

    from symspellpy import SymSpell

    ref = SymSpell(2, 7)
    ref.load_dictionary(DICT_PATH, 0, 1)
    typo = "24th december"
    exp = ref.word_segmentation(typo, ignore_token=re.compile(r"\d{2}\w*\b"))
    got = run_batch(spark, en_dict2, [typo], ignore_pattern=r"\d{2}\w*\b")
    assert got[0]["corrected_string"] == exp.corrected_string == typo


def test_empty_doc(spark):
    words = spark.createDataFrame([("hi", 5)], "term string, count long")
    d = SparkDictionary.from_words(spark, words)
    got = run_batch(spark, d, ["", "-"])
    assert got[0]["corrected_string"] == ""
    assert got[1]["corrected_string"] == ""


def test_null_and_empty_docs_every_route(spark, relational_route):
    """A null text gets the same empty Composition as an empty one, on
    the d=0 and fuzzy worker-local routes and the relational shape."""
    words = spark.createDataFrame(
        [("the", 10), ("cat", 5)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words)
    docs = spark.createDataFrame(
        [(1, "thecat"), (2, None), (3, "")], "doc_id long, text string"
    )
    empty = ("", "", 0, 0.0)
    cols = ["doc_id", "segmented_string", "corrected_string", "distance_sum",
            "log_prob_sum"]
    for dist in (0, 1):
        for name, ctx in (
            ("local", contextlib.nullcontext), ("relational", relational_route)
        ):
            with ctx():
                got = {
                    r[0]: tuple(r[1:])
                    for r in word_segmentation_batch(
                        docs, d, max_edit_distance=dist
                    ).select(cols).collect()
                }
            assert sorted(got) == [1, 2, 3], (dist, name)
            assert got[1][:3] == ("the cat", "the cat", 1), (dist, name)
            assert got[2] == empty and got[3] == empty, (dist, name)


@pytest.mark.slow
def test_live_parity_d0_fast_path(spark, en_dict2, reference_symspell_module):
    """The broadcast-dict d=0 fast path must match the reference on all
    four Composition fields, including casing, spaces, punctuation and
    ignore_token handling."""
    import re

    from symspellpy import SymSpell

    ref = SymSpell(2, 7)
    ref.load_dictionary(DICT_PATH, 0, 1)
    texts = [
        "thequickbrownfoxjumpsoverthelazydog",
        "Whatis thisthing called Love",
        "it's theweather do n'tyou think",
        "abc123def 24th ofdecember",
    ]
    got = run_batch(spark, en_dict2, texts, max_edit_distance=0)
    for i, t in enumerate(texts):
        exp = ref.word_segmentation(t, max_edit_distance=0)
        r = got[i]
        assert r["segmented_string"] == exp.segmented_string, t
        assert r["corrected_string"] == exp.corrected_string, t
        assert r["distance_sum"] == exp.distance_sum, t
        assert abs(r["log_prob_sum"] - exp.log_prob_sum) < 1e-9, t
    # ignore_token through the fast path
    typo = "24th december"
    exp = ref.word_segmentation(
        typo, max_edit_distance=0, ignore_token=re.compile(r"\d{2}\w*\b")
    )
    got = run_batch(
        spark, en_dict2, [typo], max_edit_distance=0,
        ignore_pattern=r"\d{2}\w*\b",
    )
    assert got[0]["corrected_string"] == exp.corrected_string
    assert got[0]["distance_sum"] == exp.distance_sum


def test_fuzzy_strategies_agree(spark, en_dict2, relational_route):
    """The broadcast-LUT fuzzy path and the relational cell-join path
    must be bit-identical (same lookup_batch LUT, same DP)."""
    docs = spark.createDataFrame(
        [
            (1, "thequickbrownfoxjumpsoverthelazydog"),
            (2, "itwasabrightcolddayinaprilandtheclockswerestrikingthirteen"),
            (3, "inadditonI wouldliketo knowabbout"),
            (4, "xyzzyqwerty"),
        ],
        "doc_id long, text string",
    )
    cols = ["doc_id", "segmented_string", "corrected_string", "distance_sum", "log_prob_sum"]
    # d=1 exercises the full-single-delete candidate generator; d=2 the
    # prefix-neighborhood generator — both must match the relational path
    for dd in (1, 2):
        fast = {
            r["doc_id"]: tuple(r[c] for c in cols[1:])
            for r in word_segmentation_batch(
                docs, en_dict2, max_edit_distance=dd
            ).collect()
        }
        with relational_route():
            rel = {
                r["doc_id"]: tuple(r[c] for c in cols[1:])
                for r in word_segmentation_batch(
                    docs, en_dict2, max_edit_distance=dd
                ).collect()
            }
        assert fast == rel, dd


def test_fuzzy_ignore_pattern_strategies_agree(spark, en_dict2, relational_route):
    """ignore_pattern must behave identically in the worker-local and
    relational fuzzy paths (exact-hit-beats-ignore ordering included)."""
    docs = spark.createDataFrame(
        [(1, "see xk42z thequickfox"), (2, "abc123def and42and")],
        "doc_id long, text string",
    )
    cols = ["segmented_string", "corrected_string", "distance_sum", "log_prob_sum"]
    kw = dict(max_edit_distance=1, ignore_pattern=r"\w*\d\w*")
    fast = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in word_segmentation_batch(docs, en_dict2, **kw).collect()
    }
    with relational_route():
        rel = {
            r["doc_id"]: tuple(r[c] for c in cols)
            for r in word_segmentation_batch(docs, en_dict2, **kw).collect()
        }
    assert fast == rel


def test_vocab_limit_routes_to_relational(spark, monkeypatch):
    """Above BROADCAST_VOCAB_LIMIT the auto strategy must NOT collect
    the vocabulary to the driver: the plan switches to the relational
    shape (joins) and results stay identical."""
    from symspellpy_spark.operators import neighborhood
    from symspellpy_spark.operators.dictionary import SparkDictionary
    from symspellpy_spark.operators.segmentation import word_segmentation_batch

    words = spark.createDataFrame(
        [("steam", 10), ("spark", 5), ("stream", 7), ("par", 3)],
        "term string, count long",
    )
    d = SparkDictionary.from_words(spark, words)
    docs = spark.createDataFrame(
        [(1, "steamspark"), (2, "sparkpar")], "doc_id long, text string"
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for dist in (0, 1):
        fast = word_segmentation_batch(docs, d, max_edit_distance=dist)
        with monkeypatch.context() as m:
            m.setattr(neighborhood, "BROADCAST_VOCAB_LIMIT", 2)
            routed = word_segmentation_batch(docs, d, max_edit_distance=dist)
        assert "Join" not in plan(fast)
        assert "Join" in plan(routed), dist
        cols = ["doc_id", "segmented_string", "corrected_string", "distance_sum"]
        assert sorted(map(tuple, fast.select(cols).collect())) == sorted(
            map(tuple, routed.select(cols).collect())
        ), dist
