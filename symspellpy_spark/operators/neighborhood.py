"""Broadcastable vectorized delete-neighborhood index.

The worker-local SymSpell kernels (``lookup.py``, ``compound.py``,
``segmentation.py``) resolve queries with the symmetric-delete trick
(reference symspellpy.py:1038-1068): a query matches a term at OSA
distance <= d only if they share a bounded-depth delete key. Round 2
built those delete indexes as Python dicts INSIDE each python worker
from a broadcast ``{term: count}`` map — correct, but the build costs
~5 s for the 82k EN dictionary at d=2 and is paid once per worker
process (x32 locally, x thousands on a cluster), which dominates
small-batch jobs.

This module builds the index ONCE on the driver as flat numpy arrays
(sorted key-hash array + aligned term ids — a static CSR adjacency),
which broadcast-deserialize at memcpy speed, and resolves candidate
sets for a whole query batch with vectorized searchsorted instead of
per-query dict probes. :class:`TopResolver` is the one worker-side
resolver over it, shared per worker by every operator.

Keys are hashed with a fixed-width vectorized FNV-1a over zero-padded
utf-8 bytes (`pack_keys`). Equal keys always hash equal; a collision
can only ADD a false candidate, which the exact distance verify that
always follows filters out — so hashing never changes results.

Routing: :func:`route` is the one place an operator call picks its
engine and distance kernel. ``lookup_batch``, ``lookup_compound_batch``
and ``word_segmentation_batch`` run worker-local on this index when
:func:`fits_broadcast` holds (``BROADCAST_VOCAB_LIMIT`` terms; compound
also needs its bigrams to fit) and take their relational delete-join
shapes above it, so the driver never builds an index for a web-scale
vocabulary (the build is a Python loop, ~7 s at 82k terms).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from symspellpy_spark.config import DistanceAlgorithm
from symspellpy_spark.functions.distance import KERNELS

__all__ = [
    "BROADCAST_VOCAB_LIMIT",
    "FuzzyIndex",
    "Route",
    "TopResolver",
    "build_fuzzy_index",
    "delete_neighborhood_py",
    "fits_broadcast",
    "fuzzy_index_broadcast",
    "grouped_arange",
    "pack_keys",
    "route",
    "within_one",
    "worker_resolver",
]

_FNV_OFF = np.uint64(14695981039346656037)
_FNV_PRIME = np.uint64(1099511628211)
# keys longer than this are truncated before hashing: two distinct keys
# sharing a 32-byte prefix collide, which only adds a false candidate
MAX_KEY_BYTES = 32


def _fnv_rows(buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """FNV-1a over zero-padded fixed-width byte rows (n, MAX_KEY_BYTES)
    mixed as four uint64 words, length first — THE hash layout of this
    module: every path that produces key hashes (string path, vectorized
    ASCII path, vectorized delete path) must funnel through this exact
    mix or equal keys stop hashing equal."""
    words = np.ascontiguousarray(buf).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.full(buf.shape[0], _FNV_OFF, dtype=np.uint64)
        h = (h ^ lens.astype(np.uint64)) * _FNV_PRIME
        for j in range(words.shape[1]):
            h = (h ^ words[:, j]) * _FNV_PRIME
    return h


def _encode_rows_py(keys) -> tuple[np.ndarray, np.ndarray]:
    """Per-key utf-8 encode into the padded row layout (the generic
    path: any codepoint, any length; truncates at MAX_KEY_BYTES)."""
    n = len(keys)
    enc = [k.encode("utf-8")[:MAX_KEY_BYTES] for k in keys]
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=n)
    buf = np.zeros((n, MAX_KEY_BYTES), dtype=np.uint8)
    arr = np.frombuffer(b"".join(enc), dtype=np.uint8)
    mask = np.arange(MAX_KEY_BYTES)[None, :] < lens[:, None]
    buf[mask] = arr
    return buf, lens


def encode_key_rows(keys, klens: np.ndarray | None = None):
    """-> ``(buf (n, MAX_KEY_BYTES) uint8 zero-padded, lens int64)`` for
    a batch of keys, matching ``_encode_rows_py`` byte-for-byte.

    Fast path: keys that are pure-ASCII and <= MAX_KEY_BYTES chars bulk-
    convert through numpy's fixed-width unicode dtype (one C-level
    codepoint matrix instead of n Python ``str.encode`` calls — for
    ASCII, codepoint == utf-8 byte and char length == byte length, so
    the padded rows are identical). Rows failing either condition are
    re-encoded by the generic path and overwritten in place; interior
    NULs are preserved by both paths (numpy trims only trailing NULs,
    and the length is real so "a" and "a\\x00" still cannot collide).
    """
    n = len(keys)
    arr = np.array(keys, dtype=f"U{MAX_KEY_BYTES}")  # silently truncates
    u32 = arr.view(np.uint32).reshape(n, MAX_KEY_BYTES)
    if klens is None:
        klens = np.fromiter((len(k) for k in keys), dtype=np.int64, count=n)
    ok = (klens <= MAX_KEY_BYTES) & (u32 < 128).all(axis=1)
    buf = u32.astype(np.uint8)
    lens = np.minimum(klens, MAX_KEY_BYTES)
    if not ok.all():
        bad = np.flatnonzero(~ok)
        bbuf, blens = _encode_rows_py([keys[i] for i in bad])
        buf[bad] = bbuf
        lens[bad] = blens
    return buf, lens


def pack_keys(keys) -> np.ndarray:
    """Vectorized FNV-1a of utf-8 keys -> uint64, batch-independent.

    The byte rows are zero-padded to a FIXED width and mixed as four
    uint64 words, so a key's hash never depends on the longest key in
    the same batch (the variable-width version of this had exactly that
    bug: index and query batches hashed the same string differently).
    Length is mixed in first so "a" and "a\\x00" cannot collide.
    """
    n = len(keys)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    buf, lens = encode_key_rows(list(keys))
    return _fnv_rows(buf, lens)


def grouped_arange(starts: np.ndarray, sizes: np.ndarray) -> np.ndarray:
    """Concatenate ``[arange(s, s+n) for s, n in zip(starts, sizes)]``
    without a Python loop."""
    total = int(sizes.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    cum = np.cumsum(sizes) - sizes
    return np.arange(total) - np.repeat(cum, sizes) + np.repeat(starts, sizes)


def delete_neighborhood_py(s: str, d: int, p: int) -> set:
    """Python twin of ``operators/deletes.py:62`` (reference
    symspellpy.py:1038-1068): every distinct string obtainable by
    deleting <= d chars from s[:p], plus "" when len(s) <= d."""
    pref = s[:p]
    seen = {pref}
    frontier = [pref]
    for _ in range(d):
        nxt = []
        for t in frontier:
            for i in range(len(t)):
                k = t[:i] + t[i + 1 :]
                if k not in seen:
                    seen.add(k)
                    nxt.append(k)
        frontier = nxt
    if len(s) <= d:
        seen.add("")
    return seen


@dataclass
class FuzzyIndex:
    """Driver-built, broadcast-shippable delete-neighborhood index.

    ``kh1``/``tid1``: FULL single-delete index over all terms (any OSA
    distance-1 pair shares a full single delete — the staged shallow
    pass at every d). ``khd``/``tidd``: depth-``d`` delete neighborhood
    of each term's ``p``-prefix, present only when ``d >= 2``. Hash
    arrays are sorted; aligned term-id arrays give CSR-style adjacency
    via searchsorted.
    """

    terms: list
    counts: np.ndarray  # int64, aligned with terms
    tlens: np.ndarray  # int64 term lengths (chars)
    rank: np.ndarray  # int64: position of each term in (-count, term) order
    d: int
    p: int
    max_len: int
    # unique-key CSR: kh1 holds each DISTINCT key hash once (sorted),
    # off1[i]:off1[i+1] slices that key's term ids out of tid1 — one
    # searchsorted over the deduplicated array replaces the twin
    # left/right passes over the raw (hash, tid) rows
    kh1: np.ndarray  # uint64 sorted unique
    off1: np.ndarray  # int64, len(kh1)+1
    tid1: np.ndarray  # int32, grouped by key
    khd: np.ndarray | None
    offd: np.ndarray | None
    tidd: np.ndarray | None

    def _csr_counts(self, kh_u, off, kh):
        """-> (lo, cnt): tid slice starts/sizes for each probe hash
        (cnt 0 when absent)."""
        if kh_u.size == 0 or kh.size == 0:
            z = np.zeros(kh.size, dtype=np.int64)
            return z, z
        pos = np.searchsorted(kh_u, kh)
        pos_c = np.minimum(pos, kh_u.size - 1)
        valid = kh_u[pos_c] == kh
        lo = np.where(valid, off[pos_c], 0)
        cnt = np.where(valid, off[pos_c + 1] - off[pos_c], 0)
        return lo, cnt

    # ---------------- query-side candidate generation ----------------

    def d1_groups(self, qlist, qlens: np.ndarray):
        """Distance<=1 candidates for every query.

        -> ``(uqi, utid, bounds)``: pairs sorted by (query, rank) with
        ``bounds[i]:bounds[i+1]`` slicing query i's candidates in
        (-count, term) order, length-filtered to ``|len(t)-len(q)|<=1``.

        The query + single-delete key hashes are computed WITHOUT
        materializing delete strings: queries bulk-encode into the
        padded byte-row layout (``encode_key_rows``), each delete row is
        a vectorized one-byte-removed gather of its query's row, and
        both hash through the shared ``_fnv_rows`` mix — bit-identical
        to hashing the delete *strings* for ASCII keys <= MAX_KEY_BYTES
        (for those, truncate-then-delete == delete-then-truncate; longer
        or non-ASCII queries keep the string path).
        """
        nq = len(qlist)
        buf, lens = encode_key_rows(qlist, qlens)
        vec = (
            (qlens <= MAX_KEY_BYTES)
            & (lens == qlens)
            & (buf < 128).all(axis=1)
        )
        # lens == qlens filters non-ASCII rows (utf-8 bytes > chars) —
        # EXCEPT a non-ASCII query of exactly MAX_KEY_BYTES chars, whose
        # truncated utf-8 row is also MAX_KEY_BYTES long; the byte scan
        # catches that case (every byte of a multibyte utf-8 sequence has
        # the high bit set), keeping such queries on the string path
        # whose delete keys are real character deletions
        if vec.all():
            vrows = np.arange(nq, dtype=np.int64)
        else:
            vrows = np.flatnonzero(vec)
        # self keys: every query, both paths (the encode already did
        # the work); delete keys: vectorized for vec rows
        self_h = _fnv_rows(buf, lens)
        vlens = lens[vrows]
        n_del = int(vlens.sum())
        row_of = np.repeat(vrows, vlens)
        del_pos = grouped_arange(np.zeros(len(vrows), dtype=np.int64), vlens)
        # gather columns j < del_pos from j, j >= del_pos from j+1
        # (an extra zero column feeds the shifted tail's last byte);
        # chunked so the transient per-chunk index/byte matrices stay
        # cache-resident instead of materializing n_del x 32 at once
        buf_ext = np.zeros((nq, MAX_KEY_BYTES + 1), dtype=np.uint8)
        buf_ext[:, :MAX_KEY_BYTES] = buf
        cols = np.arange(MAX_KEY_BYTES, dtype=np.int8)[None, :]
        del_h = np.empty(n_del, dtype=np.uint64)
        chunk = 1 << 18
        for s in range(0, n_del, chunk):
            e = min(s + chunk, n_del)
            idx = cols + (cols >= del_pos[s:e, None]).astype(np.int8)
            del_buf = buf_ext[row_of[s:e, None], idx]
            del_h[s:e] = _fnv_rows(del_buf, lens[row_of[s:e]] - 1)
        keys = []
        kq = []
        for qi in np.flatnonzero(~vec):
            q = qlist[qi]
            for i in range(len(q)):
                keys.append(q[:i] + q[i + 1 :])
                kq.append(qi)
        kh = np.concatenate([self_h, del_h, pack_keys(keys)])
        kq = np.concatenate(
            [
                np.arange(nq, dtype=np.int64),
                row_of,
                np.asarray(kq, dtype=np.int64),
            ]
        )
        lo, cnt = self._csr_counts(self.kh1, self.off1, kh)
        qi_rep = np.repeat(np.asarray(kq, dtype=np.int64), cnt)
        tid_rep = self.tid1[grouped_arange(lo, cnt)].astype(np.int64)
        keep = np.abs(self.tlens[tid_rep] - qlens[qi_rep]) <= 1
        qi_rep, tid_rep = qi_rep[keep], tid_rep[keep]
        n_t = len(self.terms)
        u = np.unique(qi_rep * np.int64(n_t) + tid_rep)
        uqi = u // n_t
        utid = u % n_t
        order = np.lexsort((self.rank[utid], uqi))
        uqi, utid = uqi[order], utid[order]
        bounds = np.searchsorted(uqi, np.arange(nq + 1))
        return uqi, utid, bounds

    def deep_pairs(self, qlist, qlens: np.ndarray):
        """Depth-``d`` candidate (query, term) pairs for every query.

        Queries sharing a ``p``-prefix share a delete neighborhood, so
        pools are computed once per DISTINCT prefix and fanned out —
        on doc-substring workloads (all lengths from one start offset)
        that is an order-of-magnitude dedup. -> ``(pair_qi, pair_tid)``
        length-filtered to ``|len(t)-len(q)| <= d``, deduped per query.
        """
        if self.khd is None:
            raise ValueError("deep_pairs requires d >= 2")
        # the key set depends ONLY on the prefix: len(q) <= d implies
        # pref == q, and the "" key is reached naturally by deleting
        # all of a <=d-char prefix, so the reference's explicit
        # ""-for-short-strings rule never adds anything prefix-pooling
        # would miss
        # dict-based pooling, NOT np.unique on strings: numpy's
        # fixed-width unicode dtype silently drops trailing NULs, which
        # would merge the prefixes "ab\x00" and "ab"
        pref_ids: dict = {}
        u_pref: list = []
        pid_of = np.empty(len(qlist), dtype=np.int64)
        for qi, q in enumerate(qlist):
            pref = q[: self.p]
            pid = pref_ids.get(pref)
            if pid is None:
                pid = len(u_pref)
                pref_ids[pref] = pid
                u_pref.append(pref)
            pid_of[qi] = pid
        keys = []
        kp = []
        for pid, pref in enumerate(u_pref):
            nb = delete_neighborhood_py(pref, self.d, self.p)
            keys.extend(nb)
            kp.extend([pid] * len(nb))
        kh = pack_keys(keys)
        lo, cnt = self._csr_counts(self.khd, self.offd, kh)
        pid_rep = np.repeat(np.asarray(kp, dtype=np.int64), cnt)
        ptid = self.tidd[grouped_arange(lo, cnt)].astype(np.int64)
        n_t = len(self.terms)
        u = np.unique(pid_rep * np.int64(n_t) + ptid)
        upid = u // n_t
        uptid = u % n_t
        # fuse the |len(t) - len(q)| <= self.d filter INTO the fan-out:
        # each prefix pool sorts by term length (one composite-key
        # argsort keeps the array globally sorted), so a query's
        # surviving candidates are ONE contiguous slice found by two
        # vectorized searchsorteds — pairs outside the length band are
        # never materialized. On the d=2 doc-substring workload the old
        # shape fanned out ~4x the surviving pairs and immediately
        # masked 3/4 of them away; this was the resolve stage's
        # dominant np.repeat cost (profiled round 5)
        span = np.int64(self.max_len + self.d + 2)
        tl = self.tlens[uptid]
        comp = upid * span + tl
        order = np.argsort(comp, kind="stable")
        comp = comp[order]
        uptid = uptid[order]
        qpid = pid_of * span
        # clamp the length band to the pool's key range [0, span-1]: an
        # over-long query (len > max_len + 1) would otherwise push its
        # hi key past the pool boundary and slice into the NEXT pool,
        # emitting wrong-pool (and potentially per-query duplicate)
        # pairs; clamped, such queries get the empty slice they deserve
        band_lo = np.minimum(np.maximum(qlens - self.d, 0), span - 1)
        band_hi = np.minimum(qlens + self.d, span - 1)
        lo = np.searchsorted(comp, qpid + band_lo)
        hi = np.searchsorted(comp, qpid + band_hi, side="right")
        sizes = hi - lo
        pair_qi = np.repeat(np.arange(len(qlist)), sizes)
        pair_tid = uptid[grouped_arange(lo, sizes)]
        return pair_qi, pair_tid


def build_fuzzy_index(words: dict, d: int, p: int) -> FuzzyIndex:
    """Build the index on the driver from a ``{term: count}`` map."""
    terms = list(words)
    n_t = len(terms)
    counts = np.fromiter((words[t] for t in terms), dtype=np.int64, count=n_t)
    tlens = np.fromiter((len(t) for t in terms), dtype=np.int64, count=n_t)
    rank = np.empty(n_t, dtype=np.int64)
    order = sorted(range(n_t), key=lambda i: (-counts[i], terms[i]))
    rank[np.asarray(order, dtype=np.int64)] = np.arange(n_t)

    # d = 0 is a membership probe on ``terms``: no delete keys at all
    k1 = []
    t1 = []
    for tid, t in enumerate(terms if d >= 1 else ()):
        k1.append(t)
        t1.append(tid)
        for i in range(len(t)):
            k1.append(t[:i] + t[i + 1 :])
            t1.append(tid)
    kh1_u, off1, tid1 = _csr_build(pack_keys(k1), np.asarray(t1, np.int32))

    khd = offd = tidd = None
    if d >= 2:
        kd = []
        td = []
        for tid, t in enumerate(terms):
            for k in delete_neighborhood_py(t, d, p):
                kd.append(k)
                td.append(tid)
        khd, offd, tidd = _csr_build(pack_keys(kd), np.asarray(td, np.int32))

    return FuzzyIndex(
        terms=terms,
        counts=counts,
        tlens=tlens,
        rank=rank,
        d=d,
        p=p,
        max_len=int(tlens.max()) if n_t else 0,
        kh1=kh1_u,
        off1=off1,
        tid1=tid1,
        khd=khd,
        offd=offd,
        tidd=tidd,
    )


def _csr_build(kh_raw: np.ndarray, tid_raw: np.ndarray):
    """(raw key hashes, aligned tids) -> ``(unique sorted hashes,
    offsets len+1, tids grouped by key)``."""
    o = np.argsort(kh_raw, kind="stable")
    kh_s, tid_s = kh_raw[o], tid_raw[o]
    if kh_s.size == 0:
        return kh_s, np.zeros(1, dtype=np.int64), tid_s
    new = np.empty(kh_s.size, dtype=bool)
    new[0] = True
    np.not_equal(kh_s[1:], kh_s[:-1], out=new[1:])
    off = np.append(np.flatnonzero(new), kh_s.size).astype(np.int64)
    return kh_s[new], off, tid_s


def within_one(q: str, t: str, transpositions: bool) -> bool:
    """Exact distance<=1 test without the DP kernel (both kernels agree
    at d=1 except the adjacent-transposition case, gated on the
    algorithm)."""
    lq, lt = len(q), len(t)
    if lq == lt:
        i = 0
        while i < lq and q[i] == t[i]:
            i += 1
        if q[i + 1 :] == t[i + 1 :]:
            return True  # single substitution
        return (
            transpositions
            and i + 1 < lq
            and q[i] == t[i + 1]
            and q[i + 1] == t[i]
            and q[i + 2 :] == t[i + 2 :]
        )
    s, l = (q, t) if lq < lt else (t, q)
    i = 0
    ls = len(s)
    while i < ls and s[i] == l[i]:
        i += 1
    return s[i:] == l[i + 1 :]


_RESOLVER_CACHE_CAP = 4_000_000

# chunk size for the deep-pair bag prefilter: 2M (pair x 27-bucket)
# int16 rows per chunk keep the transient diff matrix ~100 MB
_BAG_CHUNK = 2_000_000


def char_bags(strings, cap: int) -> np.ndarray:
    """(n, 27) int16 character-bag signatures: counts per bucket
    a..z (0..25) + everything-else (26), over the first ``cap`` chars.

    Feeds the deep-verify prefilter's edit-distance lower bound: every
    unit edit changes the exact character bag by at most 2 (substitute:
    one out + one in; insert/delete: 1; OSA transposition: 0), so
    ``distance(q, t) >= sum|bag(q) - bag(t)| / 2``. Merging characters
    into buckets only SHRINKS the L1 difference, so the bucketed bound
    stays conservative — pruning ``sum > 2 * d`` can never drop a true
    ``<= d`` match. One fixed-width UCS-4 encode (the distance kernel's
    bulk-encode trick) + 27 vectorized count reductions; no per-row
    Python.
    """
    n = len(strings)
    cap = max(cap, 1)
    if n == 0:
        return np.zeros((0, 27), dtype=np.int16)
    u = np.asarray(strings, dtype=f"U{cap}")
    codes = u.view(np.int32).reshape(n, cap)
    out = np.empty((n, 27), dtype=np.int16)
    for b in range(26):
        out[:, b] = (codes == 97 + b).sum(axis=1)
    out[:, 26] = ((codes != 0) & ((codes < 97) | (codes > 122))).sum(axis=1)
    return out


class TopResolver:
    """Worker-side lookup over a deserialized :class:`FuzzyIndex` — the
    one delete-neighbourhood resolver behind ``lookup_batch``,
    ``lookup_compound_batch`` and ``word_segmentation_batch``.

    TOP mode: ``get(q)`` returns the reference's ``lookup(q, TOP, d)``
    winner as ``(term, distance, count)`` or ``None`` — exact-hit
    short-circuit, optional ignore-pattern injection (``(q, 0, 1)``),
    the ``len(q) - d > max_len`` early exit, and the (distance ASC,
    count DESC, term ASC) tie-break (reference symspellpy.py:358-637
    TOP semantics).

    All-matches mode: ``matches(q, closest)`` returns every term within
    ``d`` as ``[(term, distance, count), ...]``, the input of
    ``lookup_batch``'s CLOSEST and ALL cuts (``ign_pat`` plays no part
    here; the caller applies it).

    Both modes resolve a whole batch (``prepare`` /
    ``prepare_matches``) in the same two vectorized passes: a d<=1
    pass over the full-single-delete index (any OSA-d1 pair shares a
    full single delete; candidates arrive pre-sorted by (-count,
    term), so TOP's first ``within_one`` survivor is its answer), then
    a deep prefix-neighborhood pass with a character-bag prefilter and
    ONE distance-kernel call for all (query, candidate) pairs, sorted
    into the tie-break order. The deep pass only runs for queries the
    d<=1 pass left open: a TOP or CLOSEST hit at distance <= 1 cannot
    be beaten by a deeper match (the relational staged join's rule);
    ALL at d >= 2 takes the deep pass alone. Resolutions are cached
    across calls (python workers are reused)."""

    def __init__(self, index: FuzzyIndex, kernel, transpositions: bool,
                 ign_pat=None):
        import re

        self.index = index
        self.kernel = kernel
        self.transpositions = transpositions
        self.words = dict(zip(index.terms, index.counts.tolist()))
        self.cache: dict = {}  # TOP: q -> (term, dist, count) | None
        self.near: dict = {}  # q -> every match at distance <= min(d, 1)
        self.deep: dict = {}  # q -> every match at distance <= d (d >= 2)
        self.ign = re.compile(f"^(?:{ign_pat})") if ign_pat is not None else None
        self._term_bags: np.ndarray | None = None  # lazy: d>=2 only

    def probe(self, q):
        """The TOP answer no search can beat: an exact hit
        ``(q, 0, count)``, else an ignore-pattern hit ``(q, 0, 1)``,
        else ``None`` — the whole TOP lookup at d = 0."""
        c = self.words.get(q)
        if c is not None:
            return (q, 0, c)
        if self.ign is not None and self.ign.match(q):
            return (q, 0, 1)
        return None

    def prepare(self, queries) -> None:
        """Resolve every uncached query of ``queries`` into the TOP cache."""
        index = self.index
        words = self.words
        cache = self.cache
        probe = self.probe
        d = index.d
        max_len = index.max_len
        if len(cache) > _RESOLVER_CACHE_CAP:
            cache.clear()
        qlist: list = []
        for q in queries:
            if q in cache:
                continue
            hit = probe(q)
            if hit is not None or d == 0 or len(q) - d > max_len:
                cache[q] = hit
            else:
                qlist.append(q)
        if not qlist:
            return
        # exact hits never get here, so a d<=1 hit is at distance 1 and
        # no deep match can beat it
        qlens = _lens(qlist)
        miss: list = []
        for qi, hits in enumerate(self._near_pass(qlist, qlens, True)):
            if hits:
                cache[qlist[qi]] = hits[0]
            elif d == 1:
                cache[qlist[qi]] = None
            else:
                miss.append(qi)
        if not miss:
            return
        mq = [qlist[i] for i in miss]
        fmi, ftid, fd = self._deep_pass(mq, qlens[np.asarray(miss)])
        first = np.ones(len(fmi), dtype=bool)
        first[1:] = fmi[1:] != fmi[:-1]
        res: dict = {}
        terms = index.terms
        for i in np.flatnonzero(first):
            t = terms[ftid[i]]
            res[int(fmi[i])] = (t, int(fd[i]), words[t])
        for mi, q in enumerate(mq):
            cache[q] = res.get(mi)

    def get(self, q):
        """Cached TOP resolution; resolves synchronously on a miss."""
        _MISSING = _SENTINEL
        r = self.cache.get(q, _MISSING)
        if r is _MISSING:
            self.prepare((q,))
            r = self.cache[q]
        return r

    def prepare_matches(self, queries, closest: bool) -> None:
        """Resolve the match lists ``matches(q, closest)`` reads for
        every query of ``queries``."""
        d = self.index.d
        near, deep = self.near, self.deep
        if len(near) + len(deep) > _RESOLVER_CACHE_CAP:
            near.clear()
            deep.clear()
        queries = set(queries)
        if d <= 1 or closest:
            todo = self._uncached(near, queries)
            if todo:
                hits = self._near_pass(todo, _lens(todo), False)
                near.update(zip(todo, hits))
        if d >= 2:
            todo = self._uncached(
                deep, (q for q in queries if not (closest and near[q]))
            )
            if todo:
                fmi, ftid, fd = self._deep_pass(todo, _lens(todo))
                bounds = np.searchsorted(fmi, np.arange(len(todo) + 1))
                terms = self.index.terms
                words = self.words
                for i, q in enumerate(todo):
                    deep[q] = [
                        (terms[ftid[k]], int(fd[k]), words[terms[ftid[k]]])
                        for k in range(bounds[i], bounds[i + 1])
                    ]

    def matches(self, q, closest: bool) -> list:
        """Every match of ``q`` within d — or, with ``closest``, at
        least every match at its minimal distance. Call
        ``prepare_matches`` with the same ``closest`` first."""
        if self.index.d <= 1 or (closest and self.near[q]):
            return self.near[q]
        return self.deep[q]

    def _uncached(self, cache: dict, queries) -> list:
        """Queries missing from ``cache`` that need a search; the
        trivially answered ones (d = 0 membership, the ``len(q) - d >
        max_len`` early exit) are stored directly."""
        words = self.words
        d = self.index.d
        max_len = self.index.max_len
        todo: list = []
        for q in queries:
            if q in cache:
                continue
            if d == 0:
                c = words.get(q)
                cache[q] = [(q, 0, c)] if c is not None else []
            elif len(q) - d > max_len:
                cache[q] = []
            else:
                todo.append(q)
        return todo

    def _near_pass(self, qlist: list, qlens: np.ndarray, first_only: bool):
        """-> per query, its matches at distance <= 1 in (-count, term)
        order (only the first with ``first_only``)."""
        terms = self.index.terms
        words = self.words
        transpositions = self.transpositions
        _, utid, bounds = self.index.d1_groups(qlist, qlens)
        out = []
        for qi, q in enumerate(qlist):
            hits = []
            for k in range(bounds[qi], bounds[qi + 1]):
                t = terms[utid[k]]
                if t == q:
                    hits.append((t, 0, words[t]))
                elif within_one(q, t, transpositions):
                    hits.append((t, 1, words[t]))
                else:
                    continue
                if first_only:
                    break
            out.append(hits)
        return out

    def _deep_pass(self, mq: list, mlens: np.ndarray):
        """-> ``(query idx, term id, distance)`` of every depth-d
        candidate pair of ``mq`` that verifies within d, sorted by
        (query, distance, rank) — the reference tie-break order."""
        index = self.index
        d = index.d
        pair_mi, pair_tid = index.deep_pairs(mq, mlens)
        if len(pair_mi) > 0:
            # character-bag lower-bound prefilter (see char_bags): on the
            # d=2 segmentation workload it prunes ~59% of deep pairs
            # before the DP kernel for ~5% of the kernel's cost. Term
            # bags build once per worker (lazy — d<=1 never gets here);
            # query bags are per-batch. Chunked so the (pairs x 27) diff
            # stays ~100 MB.
            if self._term_bags is None:
                self._term_bags = char_bags(index.terms, index.max_len)
            qb = char_bags(mq, int(mlens.max()))
            tb = self._term_bags
            keep = np.empty(len(pair_mi), dtype=bool)
            for s in range(0, len(pair_mi), _BAG_CHUNK):
                e = min(s + _BAG_CHUNK, len(pair_mi))
                diff = np.abs(
                    qb[pair_mi[s:e]] - tb[pair_tid[s:e]]
                ).sum(axis=1)
                keep[s:e] = diff <= 2 * d
            pair_mi, pair_tid = pair_mi[keep], pair_tid[keep]
        if len(pair_mi) == 0:
            empty = np.empty(0, dtype=np.int64)
            return empty, empty, empty
        import pandas as pd

        pq = pd.Series([mq[i] for i in pair_mi], dtype=object)
        pt = pd.Series([index.terms[i] for i in pair_tid], dtype=object)
        dists = self.kernel(pq, pt, d).to_numpy()
        ok = dists >= 0
        fmi = pair_mi[ok]
        ftid = pair_tid[ok]
        fd = dists[ok].astype(np.int64)
        order = np.lexsort((index.rank[ftid], fd, fmi))
        return fmi[order], ftid[order], fd[order]


def _lens(qlist: list) -> np.ndarray:
    n = len(qlist)
    return np.fromiter((len(q) for q in qlist), dtype=np.int64, count=n)


_SENTINEL = object()


# per-python-worker TopResolver cache, keyed by the driver-generated
# build key (not id(bc): CPython reuses addresses) — python workers are
# reused, so the deserialized index, words map and resolution cache
# persist across batches AND across operators sharing one dictionary
_WORKER_RESOLVERS: dict = {}


def worker_resolver(idx_bc, key: tuple, kernel, transpositions: bool,
                    ign_pat=None) -> TopResolver:
    """Executor-side accessor for the shared per-worker TopResolver.

    ``key`` is the ``(dictionary token, d, p)`` build key from
    :func:`fuzzy_index_broadcast`, so a worker never resolves against a
    stale index; ``ign_pat`` is part of the cache key because it changes
    resolution results. A worker keeps one dictionary's resolvers for
    every ``(d, p, ign_pat)``: a service calling d = 0 segmentation and
    d = 2 lookup on one dictionary keeps both warm, and only a resolver
    built from another dictionary evicts them (the common case is one
    dictionary per application)."""
    rkey = (*key, ign_pat)
    resolver = _WORKER_RESOLVERS.get(rkey)
    if resolver is None:
        resolver = TopResolver(
            idx_bc.value, kernel, transpositions, ign_pat=ign_pat
        )
        for k in [k for k in _WORKER_RESOLVERS if k[0] != key[0]]:
            del _WORKER_RESOLVERS[k]
        _WORKER_RESOLVERS[rkey] = resolver
    return resolver


def merged_answers(maps) -> dict:
    """One Arrow batch's per-document TOP answer maps (``query ->
    {term, distance, count}``, the map column a relational route joins
    back to its documents) merged into one ``query -> (term, distance,
    count)`` dict, the relational stand-in for :meth:`TopResolver.get`.
    An answer depends only on its query, so documents never disagree."""
    out: dict = {}
    for m in maps:
        if m:
            for q, a in m.items():
                out[q] = (a["term"], a["distance"], a["count"])
    return out


def cached_driver_value(cache: dict, owner, extra_key: tuple, build):
    """Driver-side once-per-owner cache shared by every broadcast-reuse
    site (the fuzzy index here, ``compound``'s bigram map): ->
    ``(value, token)`` keyed on ``(id(owner), *extra_key)``, validated
    with a weakref so a new object reusing a dead owner's address can
    never hit its entry.

    ``build()`` runs once per live (owner, key). The token is a driver
    uuid generated with the value — worker-side state must key on it,
    NOT on ``id(broadcast)`` (Broadcast wrappers are per-task objects
    whose CPython addresses are readily reused after GC)."""
    import uuid
    import weakref

    key = (id(owner), *extra_key)
    entry = cache.get(key)
    if entry is not None:
        ref, value, token = entry
        if ref() is owner:
            return value, token
    value = build()
    token = uuid.uuid4().hex
    if len(cache) > 8:
        cache.clear()
    cache[key] = (weakref.ref(owner), value, token)
    return value, token


# Largest vocabulary (and bigram table) the worker-local kernels collect
# to the driver and broadcast; above it every operator takes its
# relational delete-join shape.
BROADCAST_VOCAB_LIMIT = 1_000_000


def fits_broadcast(dictionary) -> bool:
    """True when ``dictionary``'s vocabulary is small enough for the
    driver-built, broadcast index (read at call time, so the limit is
    one module constant for every operator)."""
    return dictionary.num_terms <= BROADCAST_VOCAB_LIMIT


@dataclass(frozen=True)
class Route:
    """How one operator call runs (see :func:`route`)."""

    local: bool  # worker-local on the index broadcast, else relational
    kernel: Callable  # (pd.Series, pd.Series, int) -> pd.Series
    transpositions: bool  # the kernel counts adjacent swaps as one edit


def route(dictionary, max_edit_distance: int) -> Route:
    """The engine and distance kernel of a lookup, compound or
    segmentation call: worker-local when the vocabulary
    :func:`fits_broadcast`, relational otherwise, whatever the distance
    algorithm.

    ``EngineConfig`` carries no comparer, so USER_PROVIDED has no kernel
    and raises at ``max_edit_distance > 0``. At 0 every lookup is a
    membership probe that reads no kernel; compound's whole-phrase
    distance, the one distance left, then uses Damerau-OSA, the
    reference's default comparer."""
    algo = DistanceAlgorithm(dictionary.config.distance_algorithm)
    if algo not in KERNELS:
        if max_edit_distance > 0:
            raise ValueError(
                f"{algo.name} distance needs a comparer, which EngineConfig "
                "does not carry: use LEVENSHTEIN or DAMERAU_OSA, or "
                "max_edit_distance=0"
            )
        algo = DistanceAlgorithm.DAMERAU_OSA
    return Route(
        fits_broadcast(dictionary),
        KERNELS[algo],
        algo == DistanceAlgorithm.DAMERAU_OSA,
    )


# one entry per SparkDictionary instance: its token and its index
# broadcasts by (d, p)
_IDX_CACHE: dict = {}


def fuzzy_index_broadcast(spark, dictionary, d: int, p: int):
    """-> ``(broadcast(FuzzyIndex), key)`` with driver-side caching, so
    repeated jobs over the same dictionary reuse one build + one
    broadcast (and workers keep their warm state + result caches).
    ``key`` is ``(dictionary token, d, p)``, the :func:`worker_resolver`
    key."""
    builds, token = cached_driver_value(_IDX_CACHE, dictionary, (), dict)
    bc = builds.get((d, p))
    if bc is None:
        words = {
            r["term"]: r["count"]
            for r in dictionary.words.select("term", "count").collect()
        }
        bc = spark.sparkContext.broadcast(build_fuzzy_index(words, d, p))
        builds[(d, p)] = bc
    return bc, (token, d, p)
