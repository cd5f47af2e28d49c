"""The one routing rule (``neighborhood.route``) of lookup, compound and
segmentation: the worker-local and relational routes agree row for row
on an in-repo syllable dictionary, and both agree with plain-Python
transcriptions of the reference (``tests/oracles.py``); both routes
share one cached index and per-worker resolver, the relational route
leaves the joins to AQE above the broadcast limit, and USER_PROVIDED
distance answers only at d = 0."""

from __future__ import annotations

import contextlib

import numpy as np
import pytest

import oracles
from perfbench import checks, inputs
from symspellpy_spark.config import DistanceAlgorithm, EngineConfig, Verbosity
from symspellpy_spark.functions.distance import damerau_osa_batch
from symspellpy_spark.operators import neighborhood
from symspellpy_spark.operators.compound import lookup_compound_batch
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import (
    lookup_batch,
    lookup_batch_relational,
)
from symspellpy_spark.operators.segmentation import word_segmentation_batch

SEED = 31


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def _compound_rows(df) -> list:
    return sorted(
        (r["doc_id"], r["term"], r["distance"], r["count"],
         sorted(r["replacements"].items()))
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def syllables():
    return inputs.syllable_dictionary(SEED, 1500)


@pytest.fixture(scope="module")
def syl_dict(spark, syllables):
    return SparkDictionary.from_words(
        spark, spark.createDataFrame(syllables)
    ).cache()


def _draw(syllables, r, n):
    terms = syllables["term"].to_numpy()
    probs = syllables["count"].to_numpy() / syllables["count"].sum()
    return r.choice(terms, size=n, p=probs).tolist()


def _noisy(words, r, p_typo=0.3):
    return [
        inputs.typo(w, r, 2 if u < p_typo / 4 else 1) if u < p_typo else w
        for w, u in zip(words, r.random(len(words)))
    ]


@pytest.fixture(scope="module")
def glued_docs(spark, syllables):
    """Typo'd dictionary words glued three to a doc, plus docs that take
    the DP's general path (spaces, capitals, non-ASCII, and U+001C /
    U+001F, which Python's ``\\s`` counts as whitespace and Java's does
    not) and digit runs for ``ignore_pattern``."""
    r = np.random.default_rng((SEED, 1))
    words = _noisy(_draw(syllables, r, 72), r)
    texts = ["".join(words[i : i + 3]) for i in range(0, len(words), 3)]
    texts += [
        f"{words[0]} {words[1]}{words[2]}",
        words[3].capitalize() + words[4] + "24th" + words[5],
        words[6] + "é" + words[7],
        "42" + words[8] + "7x",
        "hello\x1cworld",
        "steam\x1fspark",
    ]
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def compound_case(spark, syllables, syl_dict):
    """Typo'd sentences with merge errors (two words glued) and split
    errors (a word cut in two), one with capitals, digits and an
    acronym for the option sets, and a bigram table over the clean
    sentences' adjacent pairs."""
    r = np.random.default_rng((SEED, 2))
    clean = _draw(syllables, r, 150)
    sents = [clean[i : i + 5] for i in range(0, len(clean), 5)]
    texts = []
    for k, sent in enumerate(sents):
        toks = _noisy(sent, r, 0.2)
        if k % 3 == 0:
            toks[1:3] = [toks[1] + toks[2]]
        elif k % 3 == 1 and len(toks[0]) > 3:
            toks[0:1] = [toks[0][:2], toks[0][2:]]
        texts.append(" ".join(toks))
    texts.append(
        f"{clean[0].capitalize()} 24th {clean[1]}{clean[2]} NATO 123 {clean[3]}"
    )
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    pairs = {f"{a} {b}" for s in sents for a, b in zip(s, s[1:])}
    counts = r.integers(10**5, 10**8, size=len(pairs))
    bigrams = spark.createDataFrame(
        [(b, int(c)) for b, c in zip(sorted(pairs), counts)],
        "bigram string, count long",
    )
    return docs, syl_dict.with_bigrams(bigrams)


@pytest.mark.parametrize("ignore", [None, r"\d+\w*"])
@pytest.mark.parametrize("d", [0, 1, 2])
def test_segmentation_routes_agree(
    spark, syl_dict, glued_docs, relational_route, d, ignore
):
    def seg():
        return word_segmentation_batch(
            glued_docs, syl_dict, max_edit_distance=d, ignore_pattern=ignore
        )

    local = seg()
    assert "Join" not in _physical(local)
    with relational_route():
        rel = seg()
    assert "Join" in _physical(rel)
    got = _rows(local)
    assert len(got) == glued_docs.count()
    assert got == _rows(rel)


_OPTIONS = {
    "": {},
    "-non_words": {"ignore_non_words": True, "ignore_term_with_digits": True},
    "-casing": {"transfer_casing": True},
}


@pytest.mark.parametrize(
    "with_bigrams, options",
    [(b, o) for o in _OPTIONS.values() for b in (False, True)],
    ids=[f"{b}{k}" for k in _OPTIONS for b in (False, True)],
)
@pytest.mark.parametrize("d", [1, 2])
def test_compound_routes_agree(
    spark, syl_dict, compound_case, relational_route, d, with_bigrams, options
):
    docs, bi_dict = compound_case
    dictionary = bi_dict if with_bigrams else syl_dict

    def compound():
        return lookup_compound_batch(
            docs, dictionary, max_edit_distance=d, **options
        )

    local = compound()
    assert "Join" not in _physical(local)
    with relational_route():
        rel = compound()
    assert "Join" in _physical(rel)
    got = _compound_rows(local)
    assert len(got) == docs.count()
    assert any(dict(r[4]) for r in got)  # some token was repaired
    assert got == _compound_rows(rel)


@pytest.fixture(scope="module")
def brute_top(syllables):
    """OSA TOP lookups by brute force, one scanner per distance."""
    return {d: checks.BruteForceTop(syllables, d) for d in (0, 1, 2)}


@pytest.mark.parametrize("ignore", [None, r"\d+\w*"])
@pytest.mark.parametrize("d", [0, 1, 2])
def test_segmentation_matches_the_reference_dp(
    spark, syl_dict, glued_docs, brute_top, relational_route, d, ignore
):
    """Both routes return the rows of a plain-Python transcription of
    the reference DP over a brute-force TOP lookup (the log-probability
    sums up to float rounding: the reference scores an unknown part as
    ``log10(10 / N / 10**len)``, the engine as ``1 - log10(N) - len``)."""
    top = brute_top[d].top
    n = float(syl_dict.config.corpus_n)
    want = sorted(
        (doc_id, *oracles.word_segmentation(
            text, top, n, syl_dict.max_length, ignore
        ))
        for doc_id, text in glued_docs.collect()
    )

    def seg():
        return word_segmentation_batch(
            glued_docs, syl_dict, max_edit_distance=d, ignore_pattern=ignore
        )

    local = seg()
    with relational_route():
        rel = seg()
    for got in (sorted(map(tuple, local.collect())),
                sorted(map(tuple, rel.collect()))):
        assert [g[:4] for g in got] == [w[:4] for w in want]
        assert all(
            np.isclose(g[4], w[4], rtol=1e-12, atol=0)
            for g, w in zip(got, want)
        )


@pytest.fixture(scope="module")
def lev_dict(spark, syllables):
    """The syllable dictionary under Levenshtein distance, with a corpus
    size small enough that a joined compound count stays above 0."""
    cfg = EngineConfig(
        distance_algorithm=DistanceAlgorithm.LEVENSHTEIN, corpus_n=10**7
    )
    return SparkDictionary.from_words(
        spark, spark.createDataFrame(syllables), config=cfg
    ).cache()


@pytest.mark.parametrize("with_bigrams", [False, True])
@pytest.mark.parametrize("d", [1, 2])
def test_compound_matches_the_reference_replay(
    spark, syllables, lev_dict, compound_case, relational_route, d,
    with_bigrams
):
    """Both routes return the rows of a plain-Python replay of the
    reference fold over a brute-force Levenshtein TOP lookup,
    replacements and the count chain included."""
    docs, bi_dict = compound_case
    dictionary, bigrams = lev_dict, None
    if with_bigrams:
        dictionary = lev_dict.with_bigrams(bi_dict.bigrams)
        bigrams = dict(map(tuple, bi_dict.bigrams.collect()))
    top = oracles.BruteTop(dict(zip(syllables["term"], syllables["count"])), d)
    want = []
    for doc_id, text in docs.collect():
        term, dist, count, replaced = oracles.lookup_compound(
            text, top, 10**7, d, bigrams=bigrams
        )
        want.append((doc_id, term, dist, count, sorted(replaced.items())))
    want.sort()
    assert any(w[3] > 0 for w in want)  # the count chain carries a value

    def compound():
        return lookup_compound_batch(docs, dictionary, max_edit_distance=d)

    local = compound()
    with relational_route():
        rel = compound()
    assert _compound_rows(local) == want
    assert _compound_rows(rel) == want


_EDGE_BATCHES = {
    "mixed": [(0, ""), (1, None), (2, "steam spark")],
    "all_null": [(0, None), (1, None)],
    "empty": [],
}


@pytest.mark.parametrize("batch", sorted(_EDGE_BATCHES))
@pytest.mark.parametrize("operator", ["compound", "segmentation"])
def test_edge_batches_agree(spark, syl_dict, relational_route, operator, batch):
    """Empty texts, null texts, an all-null batch and an empty DataFrame:
    one row per document on both routes, and the same rows."""
    docs = spark.createDataFrame(
        _EDGE_BATCHES[batch], "doc_id long, text string"
    )

    def call():
        if operator == "compound":
            return lookup_compound_batch(docs, syl_dict, max_edit_distance=1)
        return word_segmentation_batch(docs, syl_dict, max_edit_distance=1)

    local = _rows(call())
    with relational_route():
        rel = _rows(call())
    assert len(local) == len(_EDGE_BATCHES[batch])
    assert local == rel


def test_user_provided_distance_answers_only_at_d0(spark, relational_route):
    """``EngineConfig`` carries no comparer, so USER_PROVIDED has no
    kernel: every operator raises a clear ValueError at d > 0 on both
    routes, and answers its membership rows at d = 0."""
    cfg = EngineConfig(distance_algorithm=DistanceAlgorithm.USER_PROVIDED)
    words = spark.createDataFrame(
        [("hello", 100), ("world", 50)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words, config=cfg)
    queries = spark.createDataFrame(
        [("hello",), ("helo",)], "query string"
    )
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "helo")], "doc_id long, text string"
    )
    glued = spark.createDataFrame(
        [(1, "helloworld")], "doc_id long, text string"
    )
    for ctx in (contextlib.nullcontext, relational_route):
        with ctx():
            for call in (
                lambda: lookup_batch(queries, d, max_edit_distance=1),
                lambda: lookup_compound_batch(docs, d, max_edit_distance=1),
                lambda: word_segmentation_batch(glued, d, max_edit_distance=1),
            ):
                with pytest.raises(ValueError, match="comparer"):
                    call()
            look = lookup_batch(queries, d, max_edit_distance=0)
            comp = lookup_compound_batch(docs, d, max_edit_distance=0)
            seg = word_segmentation_batch(glued, d, max_edit_distance=0)
            assert _rows(look) == [("hello", "hello", 0, 100)]
            assert sorted(
                (r["doc_id"], r["term"], r["distance"]) for r in comp.collect()
            ) == [(1, "hello world", 0), (2, "helo", 0)]
            assert [
                (r["segmented_string"], r["distance_sum"]) for r in seg.collect()
            ] == [("hello world", 1)]  # the inserted space


class _FakeBroadcast:
    def __init__(self, value):
        self.value = value


def test_worker_resolver_keeps_one_dictionary(monkeypatch):
    """A worker keeps one dictionary's resolvers for every (d, p,
    ignore pattern): a d = 0 and a d = 2 build of one dictionary both
    stay cached, and a build of another dictionary evicts them."""
    monkeypatch.setattr(neighborhood, "_WORKER_RESOLVERS", {})
    words = {"steam": 10, "steem": 8, "spark": 5}
    builds = {
        d: _FakeBroadcast(neighborhood.build_fuzzy_index(words, d, 7))
        for d in (0, 2)
    }

    def get(key, d, ign=None):
        return neighborhood.worker_resolver(
            builds[d], key, damerau_osa_batch, True, ign_pat=ign
        )

    r0 = get(("dict-a", 0, 7), 0)
    r2 = get(("dict-a", 2, 7), 2)
    r2i = get(("dict-a", 2, 7), 2, r"\d+")
    assert r0 is not r2 and r2 is not r2i
    assert get(("dict-a", 0, 7), 0) is r0
    assert get(("dict-a", 2, 7), 2) is r2
    assert get(("dict-a", 2, 7), 2, r"\d+") is r2i
    assert len(neighborhood._WORKER_RESOLVERS) == 3

    rb = get(("dict-b", 2, 7), 2)
    assert list(neighborhood._WORKER_RESOLVERS) == [("dict-b", 2, 7, None)]
    assert get(("dict-a", 0, 7), 0) is not r0  # rebuilt after eviction
    assert list(neighborhood._WORKER_RESOLVERS) == [("dict-a", 0, 7, None)]
    assert rb.index.d == 2


def test_d0_segmentation_reuses_the_cached_index(spark, monkeypatch):
    """d = 0 segmentation reads the dictionary's cached index broadcast:
    two calls build the index once, and only the first call collects
    the vocabulary (for that build)."""
    words = spark.createDataFrame(
        [("the", 10), ("cat", 5), ("sat", 3)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words)
    d.num_terms, d.max_length  # derived scalars cached up front
    docs = spark.createDataFrame(
        [(1, "thecatsat"), (2, "satcat")], "doc_id long, text string"
    )
    builds = []
    collects = []
    frame = type(d.words)  # the concrete DataFrame class
    build, collect = neighborhood.build_fuzzy_index, frame.collect

    def spy_build(*a, **kw):
        builds.append(a[1:])
        return build(*a, **kw)

    def spy_collect(self):
        collects.append(self)
        return collect(self)

    monkeypatch.setattr(neighborhood, "build_fuzzy_index", spy_build)
    monkeypatch.setattr(frame, "collect", spy_collect)
    per_call = []
    for _ in range(2):
        n0 = len(collects)
        assert word_segmentation_batch(docs, d, max_edit_distance=0).count() == 2
        per_call.append(len(collects) - n0)
    assert builds == [(0, d.config.prefix_length)]
    assert per_call == [1, 0]


def test_lookup_above_the_limit_leaves_the_join_to_aqe(
    spark, syl_dict, monkeypatch
):
    """Above ``BROADCAST_VOCAB_LIMIT`` lookup_batch takes the relational
    route with no broadcast hint on the index side (the size-based
    auto-broadcast is switched off here, so only a hint could plan a
    BroadcastHashJoin), and returns the worker-local engine's rows."""
    r = np.random.default_rng((SEED, 3))
    qs = _noisy(_draw(inputs.syllable_dictionary(SEED, 1500), r, 300), r)
    q = spark.createDataFrame([(w,) for w in qs], "query string")
    local = _rows(lookup_batch(q, syl_dict, Verbosity.TOP))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        # the hint is what broadcasts below the limit (other queries: the
        # shallow pass is cached, and a cached plan would be reused)
        q2 = spark.createDataFrame([(w,) for w in qs[:50]], "query string")
        hinted = lookup_batch_relational(q2, syl_dict, Verbosity.TOP)
        assert "BroadcastHashJoin" in _physical(hinted)
        with monkeypatch.context() as m:
            m.setattr(
                neighborhood, "BROADCAST_VOCAB_LIMIT", syl_dict.num_terms - 1
            )
            routed = lookup_batch(q, syl_dict, Verbosity.TOP)
        plan = _physical(routed)
        assert "MapInPandas" not in plan
        assert "BroadcastHashJoin" not in plan, plan
        assert _rows(routed) == local
    finally:
        spark.conf.set(key, old)


def test_compound_above_the_limit_leaves_the_joins_to_aqe(
    spark, compound_case, monkeypatch
):
    """Above ``BROADCAST_VOCAB_LIMIT`` lookup_compound_batch with a
    bigram table takes the relational route with no broadcast hint on
    any join: the vocabulary and the bigrams are the tables that sent
    it there. The size-based auto-broadcast is switched off, so only a
    hint could plan a BroadcastHashJoin. Its rows equal the worker-local
    route's."""
    docs, bi_dict = compound_case
    local = _compound_rows(
        lookup_compound_batch(docs, bi_dict, max_edit_distance=1)
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        with monkeypatch.context() as m:
            m.setattr(
                neighborhood, "BROADCAST_VOCAB_LIMIT", bi_dict.num_terms - 1
            )
            routed = lookup_compound_batch(docs, bi_dict, max_edit_distance=1)
        plan = _physical(routed)
        assert "Join" in plan
        assert "BroadcastHashJoin" not in plan, plan
        assert _compound_rows(routed) == local
    finally:
        spark.conf.set(key, old)
