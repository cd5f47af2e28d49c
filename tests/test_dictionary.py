"""Dictionary build parity (reference tests/test_symspellpy.py:88-312)."""

import os

import pytest
from pyspark.sql import functions as F

from symspellpy_spark.config import EngineConfig
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.deletes import delete_neighborhood

DICT_PATH = "/root/reference/symspellpy/frequency_dictionary_en_82_765.txt"
FORTESTS = "/root/reference/tests/fortests"


def test_delete_neighborhood_matches_reference_edits(spark, reference_symspell_module):
    """Key set per term == reference _edits_prefix (symspellpy.py:1061-1068)."""
    from symspellpy import SymSpell

    words = ["steam", "a", "ab", "interconnection", "пример", "xyzzzy"]
    for d, prefix in [(2, 7), (1, 3), (3, 5)]:
        ref = SymSpell(d, prefix)
        cfg = EngineConfig(max_dictionary_edit_distance=d, prefix_length=prefix)
        df = spark.createDataFrame([(w,) for w in words], "term string")
        got = (
            delete_neighborhood(df, cfg)
            .groupBy("term")
            .agg(F.collect_set("delete_key").alias("keys"))
            .collect()
        )
        got_map = {r["term"]: set(r["keys"]) for r in got}
        for w in words:
            assert got_map[w] == ref._edits_prefix(w), (d, prefix, w)


@pytest.mark.slow
def test_en_dictionary_anchor_counts(spark):
    """82,834 words -> 676,094 delete keys at config (2,7,1)
    (reference tests/test_symspellpy.py:215-216)."""
    if not os.path.exists(DICT_PATH):
        pytest.skip(f"reference file absent: {DICT_PATH}")
    d = SparkDictionary.load_dictionary(spark, DICT_PATH).cache()
    assert d.word_count() == 82834
    assert d.entry_count() == 676094


def test_below_threshold_promotion(spark):
    """Terms below count_threshold stay out of words/deletes
    (reference symspellpy.py:221-231)."""
    path = os.path.join(FORTESTS, "below_threshold_dict.txt")
    if not os.path.exists(path):
        pytest.skip(f"reference file absent: {path}")
    cfg = EngineConfig(count_threshold=10)
    d = SparkDictionary.load_dictionary(spark, path, config=cfg)
    words = {r["term"]: r["count"] for r in d.words.collect()}
    below = {r["term"]: r["count"] for r in d.below.collect()}
    for t, c in words.items():
        assert c >= 10
    for t, c in below.items():
        assert c < 10
    assert set(words) | set(below)


def test_separator_dictionary(spark):
    """Terms containing spaces load with '$' separator
    (reference tests/test_symspellpy.py:227-234)."""
    path = os.path.join(FORTESTS, "separator_dict.txt")
    if not os.path.exists(path):
        pytest.skip(f"reference file absent: {path}")
    d = SparkDictionary.load_dictionary(spark, path, separator="$")
    words = {r["term"]: r["count"] for r in d.words.collect()}
    assert any(" " in t for t in words)


def test_bad_dict_rows_skipped(spark):
    path = os.path.join(FORTESTS, "bad_dict.txt")
    if not os.path.exists(path):
        pytest.skip(f"reference file absent: {path}")
    d = SparkDictionary.load_dictionary(spark, path)
    rows = d.words.collect()
    assert all(r["count"] is not None for r in rows)


def test_non_en_dict(spark, reference_symspell_module):
    from symspellpy import SymSpell

    path = os.path.join(FORTESTS, "non_en_dict.txt")
    if not os.path.exists(path):
        pytest.skip(f"reference file absent: {path}")
    ref = SymSpell()
    ref.load_dictionary(path, 0, 1)
    d = SparkDictionary.load_dictionary(spark, path)
    got = {r["term"]: r["count"] for r in d.words.collect()}
    assert got == dict(ref.words)


def test_create_dictionary_from_corpus(spark, reference_symspell_module, tmp_path):
    from symspellpy import SymSpell

    corpus = tmp_path / "corpus.txt"
    corpus.write_text(
        "The quick brown fox; the quick's pace_under\nПривет мир привет abc123\n"
    )
    ref = SymSpell()
    ref.create_dictionary(str(corpus))
    d = SparkDictionary.create_dictionary(spark, str(corpus))
    got = {r["term"]: r["count"] for r in d.words.collect()}
    assert got == dict(ref.words)


def test_delete_dictionary_entry(spark):
    df_words = spark.createDataFrame(
        [("steam", 10), ("steams", 5)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, df_words)
    d2 = d.delete_dictionary_entry("steams")
    assert {r["term"] for r in d2.words.collect()} == {"steam"}
    assert {r["term"] for r in d2.deletes.select("term").distinct().collect()} == {
        "steam"
    }
    assert d2.max_length == 5


def test_delete_dictionary_entry_recounts_terms(spark):
    """num_terms gates lookup routing, so a deletion must not inherit
    the parent's cached count."""
    df_words = spark.createDataFrame(
        [("steam", 10), ("steams", 5), ("steem", 8)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, df_words)
    assert d.num_terms == 3  # caches the count on d
    assert d.delete_dictionary_entry("steams").num_terms == d.num_terms - 1


def test_save_load_roundtrip(spark, tmp_path):
    df_words = spark.createDataFrame(
        [("steam", 10), ("steams", 5)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, df_words)
    d.save(str(tmp_path / "ckpt"))
    d2 = SparkDictionary.load(spark, str(tmp_path / "ckpt"))
    assert sorted(r["term"] for r in d2.words.collect()) == ["steam", "steams"]
    assert d2.deletes.count() == d.deletes.count()
    assert d2.config.prefix_length == 7


def test_loaders_accept_streams_and_encodings(spark, tmp_path):
    """Reference parity (symspellpy.py:160-192,284-356): loaders accept
    open text streams and path inputs with explicit encodings."""
    import io

    from symspellpy_spark.operators.dictionary import SparkDictionary

    stream = io.StringIO("cafe 7\nnaive 3\nbad x\n")
    d = SparkDictionary.load_dictionary(spark, stream)
    got = {r["term"]: r["count"] for r in d.words.collect()}
    assert got == {"cafe": 7, "naive": 3}

    lat = tmp_path / "latin.txt"
    lat.write_bytes("café 5\nüber 2\n".encode("latin-1"))
    d2 = SparkDictionary.load_dictionary(spark, str(lat), encoding="latin-1")
    got2 = {r["term"]: r["count"] for r in d2.words.collect()}
    assert got2 == {"café": 5, "über": 2}

    # errors= is honored (decode failure replaced, not raised)
    d3 = SparkDictionary.load_dictionary(
        spark, str(lat), encoding="ascii", errors="replace"
    )
    assert d3.words.count() == 2

    corpus = io.StringIO("the cat\nthe dog\n")
    d4 = SparkDictionary.create_dictionary(spark, corpus)
    got4 = {r["term"]: r["count"] for r in d4.words.collect()}
    assert got4 == {"the": 2, "cat": 1, "dog": 1}

    bi = io.StringIO("of the 100\nin a 50\n")
    d5 = d.load_bigram_dictionary(bi)
    got5 = {r["bigram"]: r["count"] for r in d5.bigrams.collect()}
    assert got5 == {"of the": 100, "in a": 50}
