"""lookup_batch's worker-local engine (the TopResolver route) must be
result-equivalent to the relational engine, lookup_batch_relational —
pinned on the reference's noisy-query corpus at every verbosity, on the
option quirks (ignore_pattern, include_unknown, transfer_casing) with a
small dictionary, and against a brute-force Damerau-OSA scan of a
seeded dictionary."""

import os
import random

import pytest

from symspellpy_spark.config import Verbosity
from symspellpy_spark.functions.distance import _dp_single
from symspellpy_spark.operators import neighborhood
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import (
    lookup_batch,
    lookup_batch_relational,
)

DICT_PATH = "/root/reference/symspellpy/frequency_dictionary_en_82_765.txt"
NOISY_PATH = "/root/reference/tests/fortests/noisy_query_en_1000.txt"


@pytest.fixture(scope="module")
def en_dict(spark):
    if not os.path.exists(DICT_PATH):
        pytest.skip(f"reference file absent: {DICT_PATH}")
    return SparkDictionary.load_dictionary(spark, DICT_PATH).cache()


@pytest.fixture(scope="module")
def small_dict(spark):
    words = spark.createDataFrame(
        [("steama", 4), ("steamb", 6), ("steam", 10), ("steams", 5),
         ("steem", 8), ("a", 3), ("i", 2)],
        "term string, count long",
    )
    return SparkDictionary.from_words(spark, words).cache()


def _rows(df):
    return sorted(
        (r["query"], r["term"], r["distance"], r["count"]) for r in df.collect()
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "verb", [Verbosity.TOP, Verbosity.CLOSEST, Verbosity.ALL]
)
def test_equivalence_on_noisy_corpus(spark, en_dict, verb):
    if not os.path.exists(NOISY_PATH):
        pytest.skip(f"reference file absent: {NOISY_PATH}")
    with open(NOISY_PATH) as fh:
        noisy = [line.split()[0] for line in fh if line.strip()][::5]
    qdf = spark.createDataFrame([(w,) for w in noisy], "query string")
    d = 1 if verb == Verbosity.ALL else 2
    rel = _rows(lookup_batch_relational(qdf, en_dict, verb, max_edit_distance=d))
    loc = _rows(lookup_batch(qdf, en_dict, verb, max_edit_distance=d))
    assert loc == rel


@pytest.mark.parametrize(
    "kw",
    [
        dict(ignore_pattern=r"\w+\d"),
        dict(include_unknown=True),
        dict(transfer_casing=True),
        dict(ignore_pattern=r"steam\w*", include_unknown=True),
    ],
    ids=["ignore", "unknown", "casing", "ignore+unknown"],
)
@pytest.mark.parametrize("verb", [Verbosity.TOP, Verbosity.CLOSEST, Verbosity.ALL])
def test_equivalence_option_quirks(spark, small_dict, verb, kw):
    qdf = spark.createDataFrame(
        [("steam",), ("steemx",), ("STEab",), ("steamx77",), ("zzqqzz",), ("a",), ("ab",)],
        "query string",
    )
    rel = _rows(
        lookup_batch_relational(qdf, small_dict, verb, max_edit_distance=2, **kw)
    )
    loc = lookup_batch(qdf, small_dict, verb, max_edit_distance=2, **kw)
    assert "MapInPandas" in _plan(loc)
    assert _rows(loc) == rel, (verb, kw)


def test_distance_too_large(spark, small_dict):
    qdf = spark.createDataFrame([("x",)], "query string")
    with pytest.raises(ValueError):
        lookup_batch(qdf, small_dict, Verbosity.TOP, max_edit_distance=5)


def test_membership_probe_d0(spark, small_dict):
    qdf = spark.createDataFrame([("steam",), ("nope",)], "query string")
    rel = _rows(
        lookup_batch_relational(qdf, small_dict, Verbosity.TOP, max_edit_distance=0)
    )
    loc = _rows(lookup_batch(qdf, small_dict, Verbosity.TOP, max_edit_distance=0))
    assert loc == rel == [("steam", "steam", 0, 10)]


def test_vocab_limit_routes_to_relational(spark, monkeypatch):
    """Above BROADCAST_VOCAB_LIMIT lookup_batch must route to the
    relational engine (no driver-side vocab collect) with identical
    results."""
    words = spark.createDataFrame(
        [("steam", 10), ("steem", 8), ("spark", 4)], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, words)
    q = spark.createDataFrame([("steems",), ("sprak",)], "query string")
    fast = lookup_batch(q, d, Verbosity.ALL)
    assert "Join" not in _plan(fast)
    monkeypatch.setattr(neighborhood, "BROADCAST_VOCAB_LIMIT", 2)
    routed = lookup_batch(q, d, Verbosity.ALL)
    assert "Join" in _plan(routed)  # relational shape
    assert _rows(fast) == _rows(routed)


def _seeded_vocab(rng, n, alphabet):
    words = {}
    while len(words) < n:
        t = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 10)))
        # few distinct counts, so count ties reach the term tie-break
        words.setdefault(t, rng.randint(1, 5))
    return words


def _typos(rng, words, n, alphabet):
    """Exact terms and one- to three-edit typos of them, plus noise."""
    terms = sorted(words)
    qs = set()
    while len(qs) < n:
        q = rng.choice(terms)
        for _ in range(rng.randint(0, 3)):
            i = rng.randrange(len(q) + 1)
            op = rng.randrange(4)
            if op == 0 and len(q) > 1:
                i = rng.randrange(len(q))
                q = q[:i] + q[i + 1 :]
            elif op == 1:
                q = q[:i] + rng.choice(alphabet) + q[i:]
            elif op == 2 and i < len(q):
                q = q[:i] + rng.choice(alphabet) + q[i + 1 :]
            elif i + 1 < len(q):
                q = q[:i] + q[i + 1] + q[i] + q[i + 2 :]
        if rng.random() < 0.1:
            q = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        if q:
            qs.add(q)
    return sorted(qs)


def _brute_force(words, q, d, verb):
    """Reference lookup by full scan: Damerau-OSA within d, TOP by
    (distance ASC, count DESC, term ASC), CLOSEST at the minimal
    distance, and ALL with the reference's one-char duplicate rows
    (symspellpy.py:513-541)."""
    hits = []
    for t, c in words.items():
        if abs(len(t) - len(q)) <= d:
            dist = _dp_single(q, t, True, d)
            if dist <= d:
                hits.append((t, dist, c))
    if verb == Verbosity.TOP:
        return [min(hits, key=lambda h: (h[1], -h[2], h[0]))] if hits else []
    if verb == Verbosity.CLOSEST:
        mind = min((h[1] for h in hits), default=None)
        return [h for h in hits if h[1] == mind]
    if len(q) <= d:
        hits += [
            (t, len(q), c)
            for t, c in words.items()
            if len(t) == 1 and t in q and t != q
        ]
    return hits


@pytest.mark.parametrize("d", [1, 2])
@pytest.mark.parametrize(
    "verb", [Verbosity.TOP, Verbosity.CLOSEST, Verbosity.ALL]
)
@pytest.mark.parametrize(
    "engine", [lookup_batch, lookup_batch_relational],
    ids=["routed", "relational"],
)
def test_matches_bruteforce(spark, engine, verb, d):
    """Both engines against a brute-force scan of a seeded dictionary,
    with no reference data needed. CLOSEST and ALL compare full result
    multisets, so tie order cannot matter; TOP compares the single
    winner, tie-break included."""
    rng = random.Random(29)
    alphabet = "abcdef"
    words = _seeded_vocab(rng, 300, alphabet)
    qs = _typos(rng, words, 200, alphabet)
    dictionary = SparkDictionary.from_words(
        spark,
        spark.createDataFrame(list(words.items()), "term string, count long"),
    )
    qdf = spark.createDataFrame([(q,) for q in qs], "query string")
    got = _rows(engine(qdf, dictionary, verb, max_edit_distance=d))
    want = sorted(
        (q, t, dist, c) for q in qs for t, dist, c in _brute_force(words, q, d, verb)
    )
    assert got == want


def test_release_worker_state(spark, small_dict):
    """release_worker_state drops the driver broadcast caches and the
    per-worker dictionary state, and the next lookup rebuilds them with
    identical results (release is a memory event, not a semantic one)."""
    from symspellpy_spark.operators import compound
    from symspellpy_spark.operators.scoped_cache import release_worker_state

    qdf = spark.createDataFrame([("steems",), ("sprak",)], "query string")
    before = _rows(lookup_batch(qdf, small_dict, Verbosity.ALL))
    assert neighborhood._IDX_CACHE

    release_worker_state(spark)
    assert not neighborhood._IDX_CACHE
    assert not compound._BIGRAM_CACHE
    # every reused worker's module caches are gone (probe the pool the
    # same way the release fanned out; no lookup ran in between, so a
    # hit on any worker would be leaked state)
    n = spark.sparkContext.defaultParallelism * 4
    sizes = (
        spark.sparkContext.parallelize(range(n), n)
        .map(
            lambda _: (
                len(neighborhood._WORKER_RESOLVERS),
                len(compound._WORKER_SPLIT_STATE),
            )
        )
        .collect()
    )
    assert all(s == (0, 0) for s in sizes), sizes

    assert _rows(lookup_batch(qdf, small_dict, Verbosity.ALL)) == before


def test_release_keeps_outstanding_plans_executable(spark, small_dict):
    """A DataFrame plan built BEFORE release_worker_state still executes
    AFTER it: release unpersists — never destroys — the cached
    broadcasts, so a stale plan lazily re-ships them instead of failing
    with a destroyed-broadcast error."""
    from symspellpy_spark.operators.scoped_cache import release_worker_state

    qdf = spark.createDataFrame([("steems",), ("sprak",)], "query string")
    plan_before = lookup_batch(qdf, small_dict, Verbosity.ALL)
    expect = _rows(plan_before)  # also warms the caches

    stale = lookup_batch(qdf, small_dict, Verbosity.ALL)
    release_worker_state(spark)
    assert _rows(stale) == expect
