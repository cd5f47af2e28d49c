"""Vectorized edit-distance kernels.

Semantics match the reference kernels (editdistance.py:103-430 and the
null rules of helpers.py:171-192) but the implementation is
batch-vectorized numpy: the DP iterates over character positions while
every arithmetic op runs across the whole Arrow batch at once. That is
this engine's "fast path" — the analogue of the reference's optional
C++ ``editdistpy`` backend (editdistance.py:433-498) — and it is what
makes pair verification viable inside pandas UDFs at cluster scale.

Result convention (reference editdistance.py:88-100): the distance, or
-1 if it exceeds ``max_distance``. ``max_distance <= 0`` degenerates to
an equality probe. Null rules: both null -> 0; one null -> length of
the other if <= max_distance else -1.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType
from pyspark.sql import Column

from symspellpy_spark.config import DistanceAlgorithm

__all__ = [
    "levenshtein_batch",
    "damerau_osa_batch",
    "distance_udf",
    "to_similarity",
]

# Above this string length the padded batch DP becomes memory-hungry;
# longer pairs fall back to a per-row banded DP.
_BATCH_LEN_CAP = 256

# Below this length the per-row Python affix strip costs more than the
# extra banded-DP columns it would save — short pairs go straight to the
# loop-free bulk encode + batch DP.
_STRIP_SKIP = 40

# Batch-DP rows per chunk: 16k rows x ~30 cols x 4 B x ~5 live matrices
# ≈ 10 MB — inside LLC, where the vectorized relax runs at compute
# speed instead of the host's stream-bandwidth wall.
_DP_CHUNK = 16384


def _encode(strings: np.ndarray, max_len: int) -> tuple[np.ndarray, np.ndarray]:
    """Encode an object array of str into (codes[B, max_len] int32, lengths[B]).

    Bulk path: ``np.array(..., dtype=U<max_len>)`` builds the fixed-width
    UCS-4 matrix in one C loop and a view reinterprets it as int32 —
    no per-row Python. Lengths come from the first zero code point.
    """
    n = len(strings)
    if n == 0:
        return np.zeros((0, max_len), dtype=np.int32), np.zeros(0, dtype=np.int64)
    u = np.asarray(strings, dtype=f"U{max_len}")
    # reinterpret, don't convert: code points < 2^31, so the uint32
    # buffer IS valid int32 data
    codes = u.view(np.int32).reshape(n, max_len)
    lengths = np.char.str_len(u).astype(np.int64)
    return codes, lengths


_BIG = np.int64(1) << 30


def _strip_affixes(a: str, b: str) -> tuple[str, str]:
    """Common-suffix-then-prefix strip (reference helpers.py:221-250,
    E8 ``prefix_suffix_prep``): edit distance is invariant under
    removing a shared prefix/suffix, and the DP then runs on the
    (usually tiny) differing core only."""
    l1, l2 = len(a), len(b)
    while l1 > 0 and l2 > 0 and a[l1 - 1] == b[l2 - 1]:
        l1 -= 1
        l2 -= 1
    start = 0
    while start < l1 and start < l2 and a[start] == b[start]:
        start += 1
    return a[start:l1], b[start:l2]


def _dp_batch(
    a_codes: np.ndarray,
    a_len: np.ndarray,
    b_codes: np.ndarray,
    b_len: np.ndarray,
    transpositions: bool,
    max_distance: int,
) -> np.ndarray:
    """Banded edit-distance DP across a batch; returns int64 distances.

    Rows iterate over positions of ``a``; every column update is a
    vector op across the batch. The per-row answer is captured on the
    iteration where ``i == len(a)`` (row 0 for empty a). Only the
    diagonal band ``|i - j| <= max_distance`` is relaxed (reference
    editdistance.py:194-239): any path leaving the band costs more than
    ``max_distance``, which callers clamp to -1 anyway, so the inner
    loop is O(min(2*max_distance + 1, lb)) instead of O(lb).
    """
    n, la = a_codes.shape
    lb = b_codes.shape[1]
    out = np.empty(n, dtype=np.int64)
    if n > _DP_CHUNK:
        # chunk so the whole DP state (state matrices + transposed code
        # matrices) stays cache-resident — this host's stream bandwidth
        # is the wall, cache-resident work scales (BASELINE.md)
        for s in range(0, n, _DP_CHUNK):
            sl = slice(s, min(s + _DP_CHUNK, n))
            ca = int(a_len[sl].max()) if a_len[sl].size else 0
            cb = int(b_len[sl].max()) if b_len[sl].size else 0
            out[sl] = _dp_batch(
                np.ascontiguousarray(a_codes[sl, : max(ca, 1)]),
                a_len[sl],
                np.ascontiguousarray(b_codes[sl, : max(cb, 1)]),
                b_len[sl],
                transpositions,
                max_distance,
            )
        return out
    band = max_distance >= 0 and max_distance < lb

    # DP state laid out (lb+1, n): every slice the relax touches
    # (prev[j], prev[j-1], cur[j-1], prev2[j-2], bT[j-1]) is a
    # CONTIGUOUS n-vector — column slices of an (n, lb+1) matrix would
    # touch one cache line per element. int32 halves the traffic.
    prev = np.empty((lb + 1, n), dtype=np.int32)
    for j in range(lb + 1):
        prev[j] = j
    done = a_len == 0
    if done.any():
        out[done] = b_len[done]

    aT = np.ascontiguousarray(a_codes.T)  # (la, n)
    bT = np.ascontiguousarray(b_codes.T)  # (lb, n)
    prev2 = np.empty_like(prev)
    cur = np.empty_like(prev)
    t1 = np.empty(n, dtype=np.int32)
    t2 = np.empty(n, dtype=np.int32)
    idx = np.arange(n)
    for i in range(1, la + 1):
        if band:
            jlo = max(1, i - max_distance)
            jhi = min(lb, i + max_distance)
            if jlo > jhi:
                break  # every remaining cell is outside the band
            # cells bordering the band hold stale/out-of-band values:
            # the right prev neighbor (i-1, i+max_d) and the left cur
            # neighbor (i, jlo-1) are unreachable within the budget
            if jhi == i + max_distance:
                prev[jhi] = _BIG
            if jlo > 1:
                cur[jlo - 1] = _BIG
            else:
                cur[0] = i
        else:
            jlo, jhi = 1, lb
            cur[0] = i
        ai = aT[i - 1]
        for j in range(jlo, jhi + 1):
            np.add(prev[j], 1, out=t1)
            np.add(prev[j - 1], ai != bT[j - 1], out=t2, casting="unsafe")
            np.minimum(t1, t2, out=t1)
            np.add(cur[j - 1], 1, out=t2)
            np.minimum(t1, t2, out=t1)
            if transpositions and i > 1 and j > 1:
                trans = (ai == bT[j - 2]) & (aT[i - 2] == bT[j - 1])
                np.add(prev2[j - 2], 1, out=t2)
                np.minimum(t1, np.where(trans, t2, t1), out=t1)
            cur[j] = t1
        hit = a_len == i
        if hit.any():
            out[idx[hit]] = cur[b_len[hit], idx[hit]]
        prev2, prev, cur = prev, cur, prev2
    return out


def _dp_single(a: str, b: str, transpositions: bool, max_distance: int) -> int:
    """Per-row fallback for very long strings: affix-stripped + banded,
    so a mostly-equal long pair (compound's whole-document distance)
    costs O(core * min(2*max_distance + 1, core)) instead of O(n * m)."""
    a, b = _strip_affixes(a, b)
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    if max_distance >= 0 and abs(la - lb) > max_distance:
        return max_distance + 1
    big = 1 << 30
    band = 0 <= max_distance < lb
    prev = list(range(lb + 1))
    prev2 = [0] * (lb + 1)
    for i in range(1, la + 1):
        cur = [big] * (lb + 1)
        if band:
            jlo = max(1, i - max_distance)
            jhi = min(lb, i + max_distance)
            if jlo > jhi:
                return max_distance + 1
            if jhi == i + max_distance:
                prev[jhi] = big
        else:
            jlo, jhi = 1, lb
        if jlo == 1:
            cur[0] = i
        for j in range(jlo, jhi + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                transpositions
                and i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                d = min(d, prev2[j - 2] + 1)
            cur[j] = d
        prev2, prev = prev, cur
    return prev[lb]


def _distance_batch(
    s1: pd.Series, s2: pd.Series, max_distance: int, transpositions: bool
) -> pd.Series:
    n = len(s1)
    result = np.full(n, -1, dtype=np.int64)
    a = s1.to_numpy(dtype=object)
    b = s2.to_numpy(dtype=object)

    null_a = pd.isna(a)
    null_b = pd.isna(b)
    both = null_a & null_b
    result[both] = 0
    only_a = null_a & ~null_b
    only_b = null_b & ~null_a
    for mask, other in ((only_a, b), (only_b, a)):
        if mask.any():
            lens = np.fromiter((len(x) for x in other[mask]), dtype=np.int64)
            result[mask] = np.where(lens <= max_distance, lens, -1)

    live = ~(null_a | null_b)
    if not live.any():
        return pd.Series(result, index=s1.index)

    if max_distance <= 0:
        eq = np.zeros(n, dtype=bool)
        eq[live] = a[live] == b[live]
        result[live & eq] = 0
        result[live & ~eq] = -1
        return pd.Series(result, index=s1.index)

    la = np.zeros(n, dtype=np.int64)
    lb = np.zeros(n, dtype=np.int64)
    la[live] = [len(x) for x in a[live]]
    lb[live] = [len(x) for x in b[live]]
    # cheap exact prunes before any DP
    prune = live & (np.abs(la - lb) > max_distance)
    result[prune] = -1
    eq_mask = np.zeros(n, dtype=bool)
    eq_mask[live] = a[live] == b[live]
    result[live & eq_mask] = 0
    todo = live & ~prune & ~eq_mask

    idx = np.flatnonzero(todo)
    if idx.size:
        # Short pairs skip the per-row affix strip: the banded DP over
        # <= _STRIP_SKIP chars is cheaper than the Python strip loop,
        # and bulk encode is loop-free. Longer pairs get the E8 strip —
        # the DP then sees only the differing core, and batch/fallback
        # classification is by CORE length, so long-but-mostly-equal
        # pairs stay on the fast path.
        lens = np.maximum(la[idx], lb[idx])
        fast = idx[lens <= _STRIP_SKIP]
        if fast.size:
            max_a = int(la[fast].max())
            max_b = int(lb[fast].max())
            a_codes, a_lens = _encode(a[fast], max(max_a, 1))
            b_codes, b_lens = _encode(b[fast], max(max_b, 1))
            d = _dp_batch(
                a_codes, a_lens, b_codes, b_lens, transpositions, max_distance
            )
            result[fast] = np.where(d <= max_distance, d, -1)
        rest = idx[lens > _STRIP_SKIP]
        if rest.size:
            core_a = np.empty(rest.size, dtype=object)
            core_b = np.empty(rest.size, dtype=object)
            ca_len = np.empty(rest.size, dtype=np.int64)
            cb_len = np.empty(rest.size, dtype=np.int64)
            for k, r in enumerate(rest):
                x, y = _strip_affixes(a[r], b[r])
                core_a[k] = x
                core_b[k] = y
                ca_len[k] = len(x)
                cb_len[k] = len(y)
            long_k = np.flatnonzero(np.maximum(ca_len, cb_len) > _BATCH_LEN_CAP)
            for k in long_k:
                d = _dp_single(core_a[k], core_b[k], transpositions, max_distance)
                result[rest[k]] = d if d <= max_distance else -1
            short_k = np.flatnonzero(np.maximum(ca_len, cb_len) <= _BATCH_LEN_CAP)
            if short_k.size:
                max_a = int(ca_len[short_k].max())
                max_b = int(cb_len[short_k].max())
                a_codes, a_lens = _encode(core_a[short_k], max(max_a, 1))
                b_codes, b_lens = _encode(core_b[short_k], max(max_b, 1))
                d = _dp_batch(
                    a_codes, a_lens, b_codes, b_lens, transpositions, max_distance
                )
                result[rest[short_k]] = np.where(d <= max_distance, d, -1)
    return pd.Series(result, index=s1.index)


def levenshtein_batch(s1: pd.Series, s2: pd.Series, max_distance: int) -> pd.Series:
    """Batch Levenshtein with max-distance clamp (reference editdistance.py:103-160)."""
    return _distance_batch(s1, s2, max_distance, transpositions=False)


def damerau_osa_batch(s1: pd.Series, s2: pd.Series, max_distance: int) -> pd.Series:
    """Batch Damerau-OSA (restricted transpositions; reference editdistance.py:242-430)."""
    return _distance_batch(s1, s2, max_distance, transpositions=True)


KERNELS: dict[DistanceAlgorithm, Callable[[pd.Series, pd.Series, int], pd.Series]] = {
    DistanceAlgorithm.LEVENSHTEIN: levenshtein_batch,
    DistanceAlgorithm.DAMERAU_OSA: damerau_osa_batch,
}


def distance_udf(
    algorithm: DistanceAlgorithm | str = DistanceAlgorithm.DAMERAU_OSA,
    max_distance: int = 2,
    comparer: Callable[[pd.Series, pd.Series, int], pd.Series] | None = None,
):
    """Pandas UDF ``(string, string) -> int`` for the chosen kernel.

    ``comparer`` is the USER_PROVIDED plug point (reference
    abstract_distance_comparer.py:4-23): any callable over Series pairs.
    """
    if comparer is not None:
        kernel = comparer
    else:
        kernel = KERNELS[DistanceAlgorithm(algorithm)]

    @F.pandas_udf(IntegerType())
    def _dist(s1: pd.Series, s2: pd.Series) -> pd.Series:
        return kernel(s1, s2, max_distance).astype("int32")

    return _dist


def to_similarity(distance: Column, length: Column) -> Column:
    """1 - distance/length; -1 for negative distance (reference helpers.py:253-265)."""
    return F.when(distance < 0, F.lit(-1.0)).otherwise(
        1.0 - distance.cast("double") / length.cast("double")
    )
