"""FuzzyIndex (operators/neighborhood.py) vs the dict-based resolver.

The index must produce EXACTLY the candidate sets of the per-worker
dict build it replaces (segmentation.py round-2 shape; reference
symspellpy.py:1038-1068 delete keys): hashing may in principle add
false candidates, but on these vocabularies the sets are equal — the
tests assert superset-with-verified-equality so a hash regression that
DROPS a true candidate always fails.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from symspellpy_spark.operators.neighborhood import (
    build_fuzzy_index,
    delete_neighborhood_py,
    grouped_arange,
    pack_keys,
)


def _random_vocab(rng, n, alphabet="abcdef", lo=1, hi=9):
    words = {}
    while len(words) < n:
        t = "".join(
            rng.choice(alphabet) for _ in range(rng.randint(lo, hi))
        )
        words.setdefault(t, rng.randint(1, 10**9))
    return words


def _queries(rng, words, n, alphabet="abcdef"):
    qs = set()
    terms = sorted(words)
    while len(qs) < n:
        t = rng.choice(terms)
        mode = rng.random()
        if mode < 0.25:
            qs.add(t)
        elif mode < 0.5 and len(t) > 1:
            i = rng.randrange(len(t))
            qs.add(t[:i] + t[i + 1 :])
        elif mode < 0.75:
            i = rng.randrange(len(t) + 1)
            qs.add(t[:i] + rng.choice(alphabet) + t[i:])
        else:
            qs.add(
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 10)))
            )
    return sorted(qs)


class TestPackKeys:
    def test_batch_independence(self):
        # the same string must hash identically whatever else is in the
        # batch (the variable-width FNV bug this module was born with)
        a = pack_keys(["abc"])
        b = pack_keys(["abc", "a-much-longer-key-string-here"])
        assert a[0] == b[0]

    def test_distinct_and_equal(self):
        rng = random.Random(0)
        keys = sorted(
            {
                "".join(rng.choice("abcxyz") for _ in range(rng.randint(0, 12)))
                for _ in range(2000)
            }
        )
        h = pack_keys(keys)
        assert len(np.unique(h)) == len(keys)  # no collisions here
        assert np.array_equal(h, pack_keys(list(keys)))

    def test_non_ascii_and_empty(self):
        h = pack_keys(["", "é", "naïve", "日本語"])
        assert len(np.unique(h)) == 4
        assert h[0] == pack_keys([""])[0]

    def test_length_not_confusable_with_nul(self):
        h = pack_keys(["a", "a\x00"])
        assert h[0] != h[1]

    def test_vectorized_ascii_path_matches_generic_encode(self):
        # the bulk U-dtype fast path of encode_key_rows must reproduce
        # the per-key utf-8 path byte-for-byte on every edge: interior
        # NUL, exactly-32, truncation >32, non-ASCII fallback, empty
        from symspellpy_spark.operators.neighborhood import (
            _encode_rows_py,
            _fnv_rows,
        )

        keys = [
            "",
            "a",
            "a\x00b",
            "hello",
            "x" * 32,
            "y" * 33,
            "z" * 100,
            "héllo",
            "日本語のテキスト",
            "ß" * 40,
            "mixed日本",
            "don't",
            "a b",
        ] + ["w%04d" % i for i in range(200)]
        buf, lens = _encode_rows_py(keys)
        assert np.array_equal(pack_keys(keys), _fnv_rows(buf, lens))


def test_d1_groups_vectorized_matches_string_hashing():
    """The no-delete-strings d1 path (bulk encode + one-byte-removed
    gather) must return exactly the candidates of hashing the delete
    STRINGS, including >MAX_KEY_BYTES and non-ASCII queries (which take
    the string fallback)."""
    from symspellpy_spark.operators.neighborhood import (
        _encode_rows_py,
        _fnv_rows,
        build_fuzzy_index,
    )

    rng = random.Random(11)
    alpha = "abcdef"
    terms = {
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6))): rng.randint(1, 100)
        for _ in range(400)
    }
    terms["x" * 40] = 5
    terms["héllo"] = 9
    idx = build_fuzzy_index(terms, 2, 7)
    queries = sorted(
        {
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
            for _ in range(250)
        }
    ) + ["x" * 39, "héllp", "", "a"]
    qlens = np.fromiter((len(q) for q in queries), np.int64, count=len(queries))
    uqi, utid, bounds = idx.d1_groups(queries, qlens)
    # expected side: an independent pure-python string index over the
    # TRUNCATED keys (pack_keys hashes at most MAX_KEY_BYTES bytes, so
    # sharing a 32-byte key prefix is the module's candidate relation)
    from symspellpy_spark.operators.neighborhood import MAX_KEY_BYTES

    def kb(s):
        return s.encode("utf-8")[:MAX_KEY_BYTES]

    key_to_tids: dict = {}
    for tid, t in enumerate(idx.terms):
        for k in {kb(t)} | {kb(t[:i] + t[i + 1 :]) for i in range(len(t))}:
            key_to_tids.setdefault(k, set()).add(tid)
    for qi, q in enumerate(queries):
        cands = set()
        for k in {kb(q)} | {kb(q[:i] + q[i + 1 :]) for i in range(len(q))}:
            cands |= key_to_tids.get(k, set())
        cands = {t for t in cands if abs(idx.tlens[t] - len(q)) <= 1}
        assert set(utid[bounds[qi] : bounds[qi + 1]].tolist()) == cands, (qi, q)


def test_d1_groups_non_ascii_at_max_key_bytes_boundary():
    """A non-ASCII query of exactly MAX_KEY_BYTES CHARS truncates to
    exactly MAX_KEY_BYTES utf-8 bytes, which used to fool the
    ASCII-vectorizable mask (qlens <= MAX and lens == qlens) into
    hashing byte-deletions of the truncated row instead of character
    deletions; such queries must take the string path and find their
    true distance-1 term."""
    q = "é" * 32
    term = "é" * 31  # one char deleted -> OSA distance 1
    idx = build_fuzzy_index({term: 7, "abc": 3}, 2, 7)
    qlens = np.array([len(q)], dtype=np.int64)
    uqi, utid, bounds = idx.d1_groups([q], qlens)
    got = {idx.terms[t] for t in utid[bounds[0] : bounds[1]].tolist()}
    assert term in got


def test_grouped_arange():
    starts = np.array([3, 10, 0], dtype=np.int64)
    sizes = np.array([2, 0, 3], dtype=np.int64)
    assert grouped_arange(starts, sizes).tolist() == [3, 4, 0, 1, 2]
    assert grouped_arange(np.empty(0, np.int64), np.empty(0, np.int64)).size == 0


@pytest.mark.parametrize("d,p", [(2, 7), (2, 3), (3, 7)])
def test_candidates_match_dict_resolver(d, p):
    rng = random.Random(41)
    words = _random_vocab(rng, 400)
    qs = _queries(rng, words, 300)
    idx = build_fuzzy_index(words, d, p)

    # dict-based reference (the round-2 worker build)
    idx1: dict = {}
    for t in words:
        idx1.setdefault(t, []).append(t)
        for i in range(len(t)):
            idx1.setdefault(t[:i] + t[i + 1 :], []).append(t)
    deep: dict = {}
    for t in words:
        for k in delete_neighborhood_py(t, d, p):
            deep.setdefault(k, []).append(t)

    qlens = np.fromiter((len(q) for q in qs), dtype=np.int64, count=len(qs))
    uqi, utid, bounds = idx.d1_groups(qs, qlens)
    pair_qi, pair_tid = idx.deep_pairs(qs, qlens)
    # the deep fan-out must stay deduped per query (the fused
    # length-band slicing keeps each query's candidates a slice of a
    # per-prefix UNIQUE pool)
    assert len(pair_qi) == len(set(zip(pair_qi.tolist(), pair_tid.tolist())))

    for qi, q in enumerate(qs):
        want_d1 = {
            t
            for k in [q] + [q[:i] + q[i + 1 :] for i in range(len(q))]
            for t in idx1.get(k, ())
            if abs(len(t) - len(q)) <= 1
        }
        got_d1 = {idx.terms[t] for t in utid[bounds[qi] : bounds[qi + 1]]}
        assert got_d1 == want_d1, q

        want_deep = {
            t
            for k in delete_neighborhood_py(q, d, p)
            for t in deep.get(k, ())
            if abs(len(t) - len(q)) <= d
        }
        got_deep = {
            idx.terms[t] for t in pair_tid[pair_qi == qi]
        }
        assert got_deep == want_deep, q


def test_d1_groups_rank_order():
    rng = random.Random(7)
    words = _random_vocab(rng, 300)
    qs = _queries(rng, words, 100)
    idx = build_fuzzy_index(words, 1, 7)
    assert idx.khd is None
    qlens = np.fromiter((len(q) for q in qs), dtype=np.int64, count=len(qs))
    _, utid, bounds = idx.d1_groups(qs, qlens)
    for qi in range(len(qs)):
        cand = [idx.terms[t] for t in utid[bounds[qi] : bounds[qi + 1]]]
        assert cand == sorted(cand, key=lambda t: (-words[t], t))


def test_nul_queries_not_conflated():
    # numpy's fixed-width unicode would merge "ab\x00" with "ab" in a
    # np.unique prefix pool; the dict pooling must keep them distinct
    words = {"ab": 5, "a\x00b": 7, "abc": 9, "x": 1}
    d, p = 2, 7
    idx = build_fuzzy_index(words, d, p)
    deep: dict = {}
    for t in words:
        for k in delete_neighborhood_py(t, d, p):
            deep.setdefault(k, []).append(t)
    qs = ["ab\x00", "\x00ab", "ab", "q", "abcd\x00xyz"]
    qlens = np.fromiter((len(q) for q in qs), dtype=np.int64, count=len(qs))
    pqi, ptid = idx.deep_pairs(qs, qlens)
    for qi, q in enumerate(qs):
        want = {
            t
            for k in delete_neighborhood_py(q, d, p)
            for t in deep.get(k, ())
            if abs(len(t) - len(q)) <= d
        }
        got = {idx.terms[t] for t in ptid[pqi == qi]}
        assert got == want, q


def test_short_query_empty_key():
    # len(q) <= d adds the "" delete key: a 1-char query must reach
    # every 1..(1+d)-char term whose neighborhood also contains ""
    words = {"a": 10, "ab": 20, "abc": 30, "abcd": 40, "zz": 5}
    d, p = 2, 7
    idx = build_fuzzy_index(words, d, p)
    qs = ["q"]
    qlens = np.array([1], dtype=np.int64)
    _, pair_tid = idx.deep_pairs(qs, qlens)
    got = {idx.terms[t] for t in pair_tid}
    # exactly the terms whose own neighborhood contains "" (len <= d)
    assert got == {"a", "ab", "zz"}


def test_overlong_query_stays_in_pool():
    # a query longer than max_len + 1 pushes its unclamped length-band
    # hi key past its prefix pool's key range (span = max_len + d + 2);
    # the clamp must keep the slice inside the pool: no wrong-pool
    # terms, no per-query duplicates, and queries that CAN still match
    # (len(q) <= max_len + d) keep their full candidate set
    words = {"ab": 5, "abcde": 7, "zz": 3, "z": 1}
    d, p = 2, 7
    idx = build_fuzzy_index(words, d, p)  # max_len = 5
    qs = [
        "abcdefg",      # len 7 = max_len + d: abcde still reachable
        "abcdefgh",     # len 8 > max_len + d: nothing can match
        "abcdefghijk",  # far past every pool's band
        "ab",
    ]
    qlens = np.fromiter((len(q) for q in qs), dtype=np.int64, count=len(qs))
    pqi, ptid = idx.deep_pairs(qs, qlens)
    assert len(pqi) == len(set(zip(pqi.tolist(), ptid.tolist())))
    by_q = {}
    for qi, tid in zip(pqi.tolist(), ptid.tolist()):
        by_q.setdefault(qi, set()).add(idx.terms[tid])
    assert "abcde" in by_q.get(0, set())
    assert by_q.get(1, set()) == set()
    assert by_q.get(2, set()) == set()
    for qi, q in enumerate(qs):
        for t in by_q.get(qi, ()):
            assert abs(len(t) - len(q)) <= d, (q, t)


@pytest.mark.parametrize("d", [1, 2])
def test_top_resolver_matches_bruteforce(d):
    """TopResolver end-to-end (d1 pass + bag-prefiltered deep verify)
    vs a brute-force full-vocab DP with the reference TOP tie-break
    (distance ASC, count DESC, term ASC). The character-bag prefilter
    is a lower bound — this asserts it never drops a true <= d match
    (uppercase/other chars included: they share the 'other' bucket,
    which only loosens the bound)."""
    from symspellpy_spark.functions.distance import (
        _dp_single,
        damerau_osa_batch,
    )
    from symspellpy_spark.operators.neighborhood import TopResolver

    rng = random.Random(17)
    words = _random_vocab(rng, 400, alphabet="abcdefgh")
    # a couple of non-ASCII / non-letter terms exercise bucket 26
    words["cafés"] = 123
    words["x9ß1"] = 456
    idx = build_fuzzy_index(words, d, p=4)
    qs = _queries(rng, words, 250, alphabet="abcdefgh") + [
        "café", "x9ß", "CAFE",
    ]
    res = TopResolver(idx, damerau_osa_batch, transpositions=True)
    res.prepare(qs)
    for q in qs:
        best = None
        for t, c in words.items():
            if abs(len(t) - len(q)) > d:
                continue
            dist = _dp_single(q, t, True, d)
            if dist <= d:
                key = (dist, -c, t)
                if best is None or key < best[0]:
                    best = (key, (t, dist, c))
        want = best[1] if best else None
        assert res.get(q) == want, q


def test_d0_index_is_membership_only():
    """At d=0 the index carries no delete keys (lookup never probes
    them: every d=0 answer is a membership test on the terms), and both
    resolver modes answer exact hits only."""
    from symspellpy_spark.functions.distance import damerau_osa_batch
    from symspellpy_spark.operators.neighborhood import TopResolver

    words = {"steam": 10, "steem": 8, "a": 3}
    idx = build_fuzzy_index(words, 0, 7)
    assert idx.kh1.size == 0 and idx.tid1.size == 0 and idx.khd is None
    res = TopResolver(idx, damerau_osa_batch, transpositions=True)
    qs = ["steam", "steems", "a", "b"]
    res.prepare(qs)
    res.prepare_matches(qs, closest=False)
    for q in qs:
        want = (q, 0, words[q]) if q in words else None
        assert res.get(q) == want, q
        assert res.matches(q, False) == ([want] if want else []), q
