"""Near-duplicate detection operators (the north-star pipeline stages).

All stages are DataFrame -> DataFrame; per-row heavy math is Arrow-
vectorized (numpy over whole batches), everything else is Catalyst.
No analogue in the reference (SURVEY.md §2.6) — SymSpell's delete-key
index plays the candidate-generation *role* these stages play for
documents; its lookup/verify split (candidates -> distance verify ->
verbosity rank) is the template for candidates -> similarity verify ->
threshold here.

Scale notes (100 TB):
- token/shingle hashing is ``xxhash64`` JVM-side; the Python boundary
  only ever sees fixed-width ``array<long>`` columns;
- MinHash is one pandas UDF over the per-doc hash array (no explode, no
  shuffle); banding explodes to b rows/doc only;
- within-bucket pairing is capped (``max_bucket_size``) and dropped
  buckets are observable via ``lsh_bucket_stats`` — the O(b²) blowup
  control the north rule demands;
- SimHash Hamming probing explodes 64-bit signatures into
  ``n_blocks`` block keys; verification is ``bit_count(xor)`` —
  whole-stage codegen, no UDF.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType

from symspellpy_spark.operators.scoped_cache import persist_scoped

__all__ = [
    "winnowing_fingerprints",
    "winnowing_candidate_pairs",
    "pack_hashes",
    "unpack_hashes",
    "normalized_tokens",
    "shingles",
    "kernel_tokens",
    "token_correction_map",
    "text_to_signatures",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "lsh_bucket_stats",
    "simhash_signatures",
    "simhash_candidate_pairs",
    "substring_fingerprint_pairs",
    "substring_pairs_from_grams",
    "signature_candidate_pairs",
    "exact_duplicates",
    "exact_duplicates_from_hash",
    "boilerplate_segments",
    "ngram_contamination",
    "jaccard_verify",
    "select_matches",
]



def normalized_tokens(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """(id, tokens array<string>) — whitespace/word tokenization, lowered.

    The JVM regexp tokenizer of the standalone operators. The pipeline
    tokenizes inside :func:`text_to_signatures` instead, and corrects
    noisy tokens there too (:func:`kernel_tokens`,
    :func:`token_correction_map`); on ASCII text the two tokenizers
    agree.
    """
    src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return docs.select(
        F.col(id_col).alias("id"),
        F.regexp_extract_all(src, F.lit(r"(?U)[\w'’]+"), 0).alias("tokens"),
    )


def shingles(
    tokens: DataFrame, k: int = 5, tokens_col: str = "tokens"
) -> DataFrame:
    """Add ``shingle_hashes array<long>``: distinct xxhash64 of k-token
    shingles (JVM-side; docs shorter than k get one whole-doc shingle)."""
    # hash every token ONCE (hoisted to a materialized column — anything
    # referenced inside a transform() lambda is re-evaluated per window),
    # then hash the k-long window of token hashes (xxhash64 chains
    # element hashes): tokens are variable-width strings — rehashing each
    # one k times (or joining shingle strings) is k x the JVM work and
    # allocation of this formulation
    th = F.col("__th")
    n = F.size(th)
    shingle_hashes = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.xxhash64(F.slice(th, i, k)),
        ),
    ).otherwise(F.array(F.xxhash64(th)))
    return (
        tokens.withColumn(
            "__th", F.transform(F.col(tokens_col), lambda tok: F.xxhash64(tok))
        )
        .withColumn("shingle_hashes", F.array_distinct(shingle_hashes))
        .drop("__th")
    )


def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) for the bijection family x -> a*x + b (mod 2^64), a odd.

    An odd multiplier makes the map a true permutation of Z/2^64 — no
    division/modulo in the hot loop (uint64 '%' costs ~30 cycles/element
    and made the signature kernel memory+ALU bound; plain mul-add wraps
    for free). Inputs are xxhash64 values, already well mixed.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 62, size=num_perm, dtype=np.uint64) * 2 + 1
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


_SIG_EMPTY = (1 << 63) - 1  # minhash slot for shingle-less docs
_FLAT_BLOCK = 1 << 16  # hashes per kernel block: temporaries stay L2/L3-resident
_PERM_CHUNK = 16


def _flatten_hash_arrays(hashes: pd.Series):
    """list-of-arrays column -> (flat uint64, per-doc offsets, lens, nonempty idx)."""
    n_docs = len(hashes)
    arrs = [
        np.asarray(x, dtype=np.int64) if x is not None else np.empty(0, np.int64)
        for x in hashes
    ]
    lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=n_docs)
    ne_idx = np.flatnonzero(lens > 0)
    if ne_idx.size == 0:
        return None, None, lens, ne_idx
    flat = np.concatenate([arrs[i] for i in ne_idx]).astype(np.uint64)
    offs = np.zeros(ne_idx.size + 1, dtype=np.int64)
    np.cumsum(lens[ne_idx], out=offs[1:])
    return flat, offs, lens, ne_idx


def _sig_kernel(
    hashes: pd.Series,
    num_perm: int,
    a: np.ndarray,
    b: np.ndarray,
    want_minhash: bool = True,
    want_simhash: bool = True,
):
    """Blockwise MinHash/SimHash over a batch of hash arrays.

    Documents are processed in blocks of ~_FLAT_BLOCK flattened hashes so
    every temporary (the (chunk x block) permuted values, the bit-vote
    vectors) stays cache-resident: the naive whole-batch broadcast
    allocates 100MB+ temporaries per worker, and with one worker per
    core the kernel turns memory-bound and stops scaling.
    """
    n_docs = len(hashes)
    flat, offs, lens, ne_idx = _flatten_hash_arrays(hashes)
    mh = (
        np.full((n_docs, num_perm), _SIG_EMPTY, dtype=np.int64)
        if want_minhash
        else None
    )
    sh = np.zeros(n_docs, dtype=np.int64) if want_simhash else None
    if flat is None:
        return mh, sh
    mh_ne, sh_ne = _sig_from_flat(flat, offs, num_perm, a, b, want_minhash, want_simhash)
    if want_minhash:
        mh[ne_idx] = mh_ne
    if want_simhash:
        sh[ne_idx] = sh_ne
    return mh, sh


def _sig_from_flat(
    flat: np.ndarray,
    offs: np.ndarray,
    num_perm: int,
    a: np.ndarray,
    b: np.ndarray,
    want_minhash: bool = True,
    want_simhash: bool = True,
):
    """Core MinHash/SimHash over pre-flattened hashes.

    ``flat``: uint64 hash values of all docs concatenated; ``offs``:
    int64 array of n_docs+1 offsets (docs may be empty). Returns
    (minhash int64 (n_docs, num_perm), simhash int64 (n_docs,)).
    """
    n = offs.size - 1
    lens = offs[1:] - offs[:-1]
    ne_idx = np.flatnonzero(lens > 0)
    mh_out = (
        np.full((n, num_perm), _SIG_EMPTY, dtype=np.int64) if want_minhash else None
    )
    sh_out = np.zeros(n, dtype=np.int64) if want_simhash else None
    if ne_idx.size == 0:
        return mh_out, sh_out
    # compact to non-empty docs so reduceat segments are strictly
    # increasing (empty docs would otherwise corrupt neighbour segments)
    ne_starts = offs[ne_idx]
    ne_lens = lens[ne_idx]
    mh_ne = (
        np.empty((num_perm, ne_idx.size), dtype=np.uint64) if want_minhash else None
    )
    sh_ne = np.empty(ne_idx.size, dtype=np.uint64) if want_simhash else None
    d0 = 0
    while d0 < ne_idx.size:
        d1 = d0 + 1
        base_off = ne_starts[d0]
        while (
            d1 < ne_idx.size
            and ne_starts[d1] + ne_lens[d1] - base_off <= _FLAT_BLOCK
        ):
            d1 += 1
        fb = flat[base_off : ne_starts[d1 - 1] + ne_lens[d1 - 1]]
        starts = (ne_starts[d0:d1] - base_off).astype(np.int64)
        if want_minhash:
            for i in range(0, num_perm, _PERM_CHUNK):
                vals = a[i : i + _PERM_CHUNK, None] * fb[None, :] + b[
                    i : i + _PERM_CHUNK, None
                ]  # wraps mod 2^64: a odd -> bijection
                mh_ne[i : i + _PERM_CHUNK, d0:d1] = np.minimum.reduceat(
                    vals, starts, axis=1
                )
        if want_simhash:
            # 64 shift/mask/reduceat passes over the L2-resident block:
            # measured FASTER than the "vectorized" alternatives (one
            # unpackbits + 2D reduceat: 312 ms vs 47 ms per 450k hashes;
            # global unpack+cumsum: 1.2 s) — the block already bounds
            # memory traffic, and unpackbits' per-row axis-1 output
            # layout costs more than 64 cache-served linear passes
            shb = np.zeros(d1 - d0, dtype=np.uint64)
            half = ne_lens[d0:d1].astype(np.float64) / 2.0
            for bit in range(64):
                ones = ((fb >> np.uint64(bit)) & np.uint64(1)).astype(np.int64)
                shb |= (np.add.reduceat(ones, starts) > half).astype(
                    np.uint64
                ) << np.uint64(bit)
            sh_ne[d0:d1] = shb
        d0 = d1
    if want_minhash:
        # >>1 keeps values in [0, 2^63): nonneg int64, order-preserving
        mh_out[ne_idx] = (mh_ne >> np.uint64(1)).T.astype(np.int64)
    if want_simhash:
        sh_out[ne_idx] = sh_ne.astype(np.int64)
    return mh_out, sh_out


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 128,
    seed: int = 1337,
    hashes_col: str = "shingle_hashes",
) -> DataFrame:
    """Add ``minhash array<long>`` (num_perm min values of the bijection
    family x -> a_k*x + b_k mod 2^64; see :func:`_minhash_params`)."""
    a, b = _minhash_params(num_perm, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def _minhash(hashes: pd.Series) -> pd.Series:
        mh, _ = _sig_kernel(hashes, num_perm, a, b, want_simhash=False)
        return pd.Series(list(mh.tolist()), index=hashes.index)

    return df.withColumn("minhash", _minhash(F.col(hashes_col)))


def _fmix64(h: np.ndarray) -> np.ndarray:
    """murmur3 64-bit finalizer, vectorized (uint64 in/out).

    Polynomial hashes are linear in their inputs and the MinHash family
    is affine — composing the two would correlate signature slots across
    documents. The nonlinear finalizer breaks that (the role xxhash64
    played in the JVM formulation)."""
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(0xFF51AFD7ED558CCD)
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(0xC4CEB9FE1A85EC53)
    h = h ^ (h >> np.uint64(33))
    return h


_TOK_BASE = 1099511628211  # byte-level polynomial base (odd)
_SHG_BASE = 0x9E3779B97F4A7C15 | 1  # token-level polynomial base (odd)


class _PolyPrefix:
    """Positional polynomial hashing over a flat array via prefix sums.

    H(slice [s, e)) = (T[e] - T[s]) * base^s  (mod 2^64)
                    = sum_j c[s+j] * inv^j    — position-independent.
    One cumsum pass + O(1) per queried slice, instead of O(len) per
    slice; everything wraps mod 2^64 (base odd -> invertible).
    """

    PBLK = 1 << 20

    def __init__(self, base: int):
        self.base = base
        self.inv = pow(base, -1, 1 << 64)
        self.pow_tab = np.empty(self.PBLK, dtype=np.uint64)
        self.inv_tab = np.empty(self.PBLK, dtype=np.uint64)
        self.pow_tab[0] = 1
        self.inv_tab[0] = 1
        np.multiply.accumulate(
            np.full(self.PBLK - 1, base, dtype=np.uint64), out=self.pow_tab[1:]
        )
        np.multiply.accumulate(
            np.full(self.PBLK - 1, np.uint64(self.inv), dtype=np.uint64),
            out=self.inv_tab[1:],
        )
        self.pow_blk = pow(base, self.PBLK, 1 << 64)
        self.inv_blk = pow(self.inv, self.PBLK, 1 << 64)

    def prefix(self, c: np.ndarray) -> np.ndarray:
        """T[k] = sum_{i<k} c[i] * inv^i (mod 2^64); len(T) = len(c)+1."""
        total = c.size
        T = np.empty(total + 1, dtype=np.uint64)
        T[0] = 0
        scale = 1
        for w0 in range(0, total, self.PBLK):
            w1 = min(w0 + self.PBLK, total)
            T[w0 + 1 : w1 + 1] = c[w0:w1].astype(np.uint64) * (
                self.inv_tab[: w1 - w0] * np.uint64(scale)
            )
            scale = (scale * self.inv_blk) & 0xFFFFFFFFFFFFFFFF
        np.cumsum(T, out=T)
        return T

    def pow_at(self, idx: np.ndarray) -> np.ndarray:
        """base^idx for an int64 index array (vectorized gather)."""
        n_blk = int(idx.max() >> 20) + 1 if idx.size else 1
        blk = np.empty(n_blk, dtype=np.uint64)
        v = 1
        for i in range(n_blk):
            blk[i] = v
            v = (v * self.pow_blk) & 0xFFFFFFFFFFFFFFFF
        return blk[idx >> 20] * self.pow_tab[idx & (self.PBLK - 1)]

    def slice_hash(self, T: np.ndarray, s: np.ndarray, e: np.ndarray) -> np.ndarray:
        return (T[e] - T[s]) * self.pow_at(s)


@functools.cache
def _poly(base: int) -> _PolyPrefix:
    """The :class:`_PolyPrefix` of ``base``, built once per process.

    Its tables (16 MiB of random-looking uint64s, a pure function of
    ``base``) are what make the kernels heavy. Kernels therefore capture
    only their constructor arguments and reach the tables through this
    cache, so Spark's pickled command stays a few KB instead of shipping
    (and broadcasting) the tables on every call: each Python worker
    builds them on first use and reuses them across tasks and calls."""
    return _PolyPrefix(base)


def _sig_schema(
    df: DataFrame,
    id_col: str,
    n_bands: int | None,
    shingles_only: bool = False,
    emit_shingles: bool = True,
    pack_minhash: bool = False,
    substring: bool = False,
    text_hash: bool = False,
) -> str:
    id_type = df.select(F.col(id_col).alias("id")).schema[0].dataType.simpleString()
    if shingles_only:
        return f"id {id_type}, shingle_hashes array<bigint>"
    schema = f"id {id_type}"
    if emit_shingles:
        schema += ", shingle_hashes array<bigint>"
    schema += (
        ", minhash_bin binary" if pack_minhash else ", minhash array<bigint>"
    )
    schema += ", simhash bigint"
    if n_bands:
        schema += ", bands array<bigint>"
    if substring:
        schema += ", sub_grams array<bigint>"
    if text_hash:
        schema += ", text_hash bigint"
    return schema


class _SignatureGen:
    """Tail of the fused signature kernel: token hashes ->
    shingle hashes -> per-doc dedup -> MinHash/SimHash/band hashes ->
    output RecordBatch."""

    def __init__(
        self,
        k: int,
        num_perm: int,
        seed: int,
        n_bands: int | None,
        shingles_only: bool = False,
        emit_shingles: bool = True,
        pack_minhash: bool = False,
    ):
        self.k = k
        self.num_perm = num_perm
        self.n_bands = n_bands
        self.shingles_only = shingles_only
        self.emit_shingles = emit_shingles
        self.pack_minhash = pack_minhash
        if not shingles_only:
            self.a, self.b = _minhash_params(num_perm, seed)
        self.tok_poly = _poly(_TOK_BASE)
        self.shg_poly = _poly(_SHG_BASE)
        if n_bands:
            self.rows_per_band = num_perm // n_bands
            self.band_w = (
                np.random.default_rng(seed + 7).integers(
                    0, 1 << 62, size=num_perm, dtype=np.uint64
                )
                * 2
                + 1
            )

    def batch_from_token_hashes(
        self, ids, z: np.ndarray, d_start: np.ndarray, extras=None
    ):
        """ids: arrow array (n); z: uint64 token hashes (flat); d_start:
        int64 (n+1) per-doc offsets into z; extras: optional
        [(name, pa.Array)] appended after the signature columns (the
        fused substring/text-hash columns) — ignored in shingles_only
        mode."""
        import pyarrow as pa

        k, num_perm = self.k, self.num_perm
        n = d_start.size - 1
        d_len = d_start[1:] - d_start[:-1]
        T2 = self.shg_poly.prefix(z)
        n_tok = z.size
        # full k-windows (docs with >= k tokens)
        if n_tok >= k:
            w = np.arange(n_tok - k + 1, dtype=np.int64)
            doc_of_w = np.searchsorted(d_start[:-1], w, side="right") - 1
            ok = w + k <= d_start[doc_of_w] + d_len[doc_of_w]
            w = w[ok]
            doc_of_w = doc_of_w[ok]
        else:
            w = np.empty(0, dtype=np.int64)
            doc_of_w = w
        wh = _fmix64(self.shg_poly.slice_hash(T2, w, w + k))
        # short docs (0 < len < k): one whole-doc shingle
        short = np.flatnonzero((d_len > 0) & (d_len < k))
        sh_short = _fmix64(
            self.shg_poly.slice_hash(
                T2, d_start[short], d_start[short] + d_len[short]
            )
        )
        # per-doc sort + dedup (set semantics for exact Jaccard)
        all_doc = np.concatenate([doc_of_w, short])
        all_val = np.concatenate([wh, sh_short]).astype(np.int64)
        order = np.lexsort((all_val, all_doc))
        all_doc = all_doc[order]
        all_val = all_val[order]
        if all_val.size:
            keep = np.empty(all_val.size, dtype=bool)
            keep[0] = True
            np.not_equal(all_val[1:], all_val[:-1], out=keep[1:])
            keep[1:] |= all_doc[1:] != all_doc[:-1]
            all_doc = all_doc[keep]
            all_val = all_val[keep]
        counts = np.bincount(all_doc, minlength=n)
        sh_offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=sh_offs[1:])
        if self.shingles_only:
            # verify-phase-2 re-derivation: shingle sets only, no
            # MinHash/SimHash/band work
            out_sh = pa.ListArray.from_arrays(
                pa.array(sh_offs, type=pa.int32()),
                pa.array(all_val, type=pa.int64()),
            )
            return pa.RecordBatch.from_arrays(
                [ids, out_sh], names=["id", "shingle_hashes"]
            )
        # signatures over the deduped flat shingle hashes
        mh, sim = _sig_from_flat(
            all_val.astype(np.uint64), sh_offs, num_perm, self.a, self.b
        )
        out_sh = (
            pa.ListArray.from_arrays(
                pa.array(sh_offs, type=pa.int32()),
                pa.array(all_val, type=pa.int64()),
            )
            if self.emit_shingles
            else None
        )
        if self.pack_minhash:
            # fixed-width little-endian int64 runs, emitted as one
            # binary per doc straight from the kernel: the checkpoint
            # stores this without a second Python (pack-UDF) stage
            data = mh.astype("<i8").tobytes()
            mh_col = pa.BinaryArray.from_buffers(
                pa.binary(),
                n,
                [
                    None,
                    pa.py_buffer(
                        (
                            np.arange(n + 1, dtype=np.int32) * (num_perm * 8)
                        ).tobytes()
                    ),
                    pa.py_buffer(data),
                ],
            )
            mh_name = "minhash_bin"
        else:
            mh_col = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(n + 1, dtype=np.int64) * num_perm,
                    type=pa.int32(),
                ),
                pa.array(mh.ravel(), type=pa.int64()),
            )
            mh_name = "minhash"
        cols = [ids, mh_col, pa.array(sim, type=pa.int64())]
        names = ["id", mh_name, "simhash"]
        if self.emit_shingles:
            cols.insert(1, out_sh)
            names.insert(1, "shingle_hashes")
        if self.n_bands:
            n_bands, rows_per_band = self.n_bands, self.rows_per_band
            mh_u = mh.view(np.uint64)  # values < 2^63: same bits
            bh = np.empty((n, n_bands), dtype=np.uint64)
            for j in range(n_bands):
                s = j * rows_per_band
                acc = np.zeros(n, dtype=np.uint64)
                for i in range(rows_per_band):
                    acc += mh_u[:, s + i] * self.band_w[s + i]
                bh[:, j] = _fmix64(acc)
            nonempty_doc = (sh_offs[1:] - sh_offs[:-1]) > 0
            b_counts = np.where(nonempty_doc, n_bands, 0)
            b_offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(b_counts, out=b_offs[1:])
            cols.append(
                pa.ListArray.from_arrays(
                    pa.array(b_offs, type=pa.int32()),
                    pa.array(
                        bh[nonempty_doc].ravel().astype(np.int64),
                        type=pa.int64(),
                    ),
                )
            )
            names.append("bands")
        for ex_name, ex_col in extras or ():
            cols.append(ex_col)
            names.append(ex_name)
        return pa.RecordBatch.from_arrays(cols, names=names)


# byte-class table for the ASCII fast-path tokenizer: word bytes are
# [a-z0-9_'] (input is lowercased first) plus EVERY byte >= 0x80 — all
# non-ASCII codepoints count as word characters. Exact for ASCII text
# vs the engine tokenizer regexp (?U)[\w'’]+ (U+2019 is >= 0x80);
# differs only on non-ASCII *punctuation*, which \w excludes.
_WORD_BYTE = np.zeros(256, dtype=bool)
for _c in range(ord("a"), ord("z") + 1):
    _WORD_BYTE[_c] = True
for _c in range(ord("0"), ord("9") + 1):
    _WORD_BYTE[_c] = True
_WORD_BYTE[ord("_")] = True
_WORD_BYTE[ord("'")] = True
_WORD_BYTE[0x80:] = True


def _utf8_slab(txt) -> tuple[np.ndarray, np.ndarray]:
    """A (large_)string Arrow array -> (its utf8 bytes, int64 (n+1)
    per-row offsets into them), zero-copy; null rows read as empty
    (Spark's Arrow writer emits equal offsets for null slots)."""
    import pyarrow as pa

    off_dtype = np.int64 if pa.types.is_large_string(txt.type) else np.int32
    to_raw = np.frombuffer(txt.buffers()[1], dtype=off_dtype)
    t_off = to_raw[txt.offset : txt.offset + len(txt) + 1].astype(np.int64)
    data = np.frombuffer(txt.buffers()[2], dtype=np.uint8)
    b0, b1 = int(t_off[0]), int(t_off[-1])
    return data[b0:b1], t_off - b0


def _tokenize(raw: np.ndarray, bounds: np.ndarray):
    """The kernel's byte tokenizer over a non-empty batch of docs.

    ``raw``: the docs' utf8 bytes; ``bounds``: int64 (n+1) doc start
    offsets into it (and the total end). Returns (ASCII-lowercased copy
    of ``raw``, token start offsets, token end offsets): tokens are the
    runs of ``_WORD_BYTE`` bytes, found with boolean-mask shifts, and
    never span two documents. A byte >= 0x80 is a word byte, so a token
    never splits a multi-byte character."""
    buf = raw.copy()
    upper = (buf >= 65) & (buf <= 90)
    buf[upper] |= 0x20
    wordish = _WORD_BYTE[buf]
    prev = np.empty_like(wordish)
    prev[0] = False
    prev[1:] = wordish[:-1]
    nxt = np.empty_like(wordish)
    nxt[-1] = False
    nxt[:-1] = wordish[1:]
    inner = bounds[(bounds > 0) & (bounds < buf.size)]
    prev[inner] = False
    nxt[inner - 1] = False
    tok_starts = np.flatnonzero(wordish & ~prev)
    tok_ends = np.flatnonzero(wordish & ~nxt) + 1
    return buf, tok_starts, tok_ends


def _token_hashes(
    poly: _PolyPrefix, buf: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> np.ndarray:
    """uint64 hash of each token ``buf[starts[i]:ends[i]]``: a byte-level
    polynomial plus a length mix, nonlinearly finalized."""
    T1 = poly.prefix(buf)
    z = poly.slice_hash(T1, starts, ends)
    z ^= (ends - starts).astype(np.uint64) << np.uint64(1)
    return _fmix64(z)


def kernel_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(query string)``: the tokens :func:`text_to_signatures` hashes,
    from one Arrow pass with the kernel's own byte tokenizer, distinct
    within each Arrow batch (not globally).

    The query side of the pipeline's SymSpell token correction, so the
    tokens looked up are exactly the tokens that get hashed."""

    def _batches(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in it:
            txt = rb.column(0)
            raw, bounds = _utf8_slab(txt)
            if raw.size == 0:
                continue
            buf, starts, ends = _tokenize(raw, bounds)
            # tokens are the maximal word-byte runs, so the word bytes in
            # order are the tokens concatenated
            offs = np.zeros(starts.size + 1, dtype=np.int64)
            np.cumsum(ends - starts, out=offs[1:])
            toks = pa.Array.from_buffers(
                pa.large_string(),
                starts.size,
                [None, pa.py_buffer(offs), pa.py_buffer(buf[_WORD_BYTE[buf]])],
            )
            yield pa.RecordBatch.from_arrays(
                [pc.unique(toks).cast(txt.type)], names=["query"]
            )

    return docs.select(F.col(text_col).alias("text")).mapInArrow(
        _batches, "query string"
    )


def token_correction_map(
    corrections: list[tuple[str, str]],
) -> tuple[np.ndarray, np.ndarray]:
    """``(token, corrected)`` pairs -> the ``token_map`` of
    :func:`text_to_signatures`: the kernel hashes of the tokens, sorted,
    and aligned with them the kernel hashes of their corrections."""
    poly = _poly(_TOK_BASE)

    def hashes(words: list[str]) -> np.ndarray:
        raw = [w.encode() for w in words]
        lens = np.array([len(b) for b in raw], dtype=np.int64)
        ends = np.cumsum(lens)
        buf = np.frombuffer(b"".join(raw), dtype=np.uint8)
        return _token_hashes(poly, buf, ends - lens, ends)

    src = hashes([t for t, _ in corrections])
    dst = hashes([c for _, c in corrections])
    order = np.argsort(src)
    return src[order], dst[order]


def text_to_signatures(
    docs: DataFrame,
    k: int = 5,
    num_perm: int = 128,
    seed: int = 1337,
    id_col: str = "id",
    text_col: str = "text",
    n_bands: int | None = None,
    shingles_only: bool = False,
    emit_shingles: bool = True,
    pack_minhash: bool = False,
    substring_gram_len: int | None = None,
    substring_sample_mod: int = 16,
    emit_text_hash: bool = False,
    token_map: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """(id, shingle_hashes, minhash, simhash[, bands]) straight from raw
    text in ONE Arrow pass: tokenization, token hashing, k-shingle
    hashing, per-doc dedup, MinHash and SimHash all run in numpy.

    The kernel reads the utf8 data buffer zero-copy, lowercases ASCII in
    one vectorized pass and finds token runs with boolean-mask shifts
    (see ``_tokenize``), so a token-string relation (10-100x the text
    bytes) never exists: no JVM regexp garbage, no per-token Arrow
    serialization. Its tokens are those of :func:`normalized_tokens`
    wherever the byte tokenizer agrees with the regexp tokenizer
    (always, for ASCII text; see ``_WORD_BYTE``).

    Docs with fewer than k tokens get one whole-doc shingle; docs with 0
    tokens get an empty shingle set, the empty-minhash sentinel, simhash
    0 and an EMPTY bands list (so they never enter any LSH bucket).

    With ``n_bands`` set, a ``bands array<long>`` column (one random-
    weighted hash per num_perm/n_bands-slot band, nonlinearly finalized)
    is emitted so candidate generation can read a ~40x narrower relation
    than the minhash itself — RDD-level checkpoints do not column-prune,
    so every byte in the signature row is paid by every downstream scan.

    ``token_map``: ``(src, dst)`` uint64 arrays from
    :func:`token_correction_map`, ``src`` sorted. Every token whose hash
    is in ``src`` is hashed as its correction instead, before shingling
    (the pipeline's SymSpell token correction).

    The kernel's pickled command carries only these arguments and
    ``token_map``: the polynomial hash tables are built on each Python
    worker, once per process (see :func:`_poly`), and hash bit-identically
    to driver-built ones. A command over
    ``spark.broadcast.UDFCompressionThreshold`` (1 MB) would be pickled
    and broadcast on every call; ``token_map`` alone reaches that only
    past ~60k corrected tokens.

    Fused candidate-source columns (so the pipeline's candidate
    generation never re-scans text):

    - ``substring_gram_len`` adds ``sub_grams array<bigint>`` — the
      content-defined sampled substring gram hashes of
      :func:`substring_fingerprint_pairs`, computed over the RAW utf8
      bytes in the same pass. Identical hash values on pure-ASCII text
      (byte == codepoint); non-ASCII docs differ only in that grams are
      gram_len BYTES rather than chars — a resolution change, not a
      correctness one (both sides of any bucket join use the same
      function).
    - ``emit_text_hash`` adds ``text_hash bigint`` — a 64-bit full-text
      polynomial content hash for exact-duplicate grouping
      (:func:`exact_duplicates_from_hash`).
    """
    sig_args = (
        k, num_perm, seed, n_bands, shingles_only, emit_shingles, pack_minhash
    )
    want_extras = (substring_gram_len or emit_text_hash) and not shingles_only

    def _batches(it):
        import pyarrow as pa

        siggen = _SignatureGen(*sig_args)
        hasher = (
            _ContentHasher(substring_gram_len or 40, substring_sample_mod)
            if want_extras
            else None
        )

        def extras_of(raw: np.ndarray, bounds: np.ndarray):
            # bounds: int64 (n+1) per-doc byte offsets into raw
            if hasher is None:
                return None
            blens = bounds[1:] - bounds[:-1]
            T = hasher.prefix(raw)
            ex = []
            if substring_gram_len:
                offs, gvals = hasher.sampled_per_doc(T, bounds[:-1], blens)
                ex.append(
                    (
                        "sub_grams",
                        pa.ListArray.from_arrays(
                            pa.array(offs, type=pa.int32()),
                            pa.array(gvals, type=pa.int64()),
                        ),
                    )
                )
            if emit_text_hash:
                th = hasher.doc_hashes(T, bounds[:-1], blens)
                ex.append(
                    ("text_hash", pa.array(th.astype(np.int64), type=pa.int64()))
                )
            return ex

        for rb in it:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            raw, bounds = _utf8_slab(rb.column(1))
            if raw.size == 0:  # every doc empty/null
                yield siggen.batch_from_token_hashes(
                    ids,
                    np.empty(0, dtype=np.uint64),
                    np.zeros(n + 1, dtype=np.int64),
                    extras=extras_of(raw, bounds),
                )
                continue
            buf, tok_starts, tok_ends = _tokenize(raw, bounds)
            z = _token_hashes(siggen.tok_poly, buf, tok_starts, tok_ends)
            if token_map is not None and token_map[0].size:
                src, dst = token_map
                idx = np.minimum(np.searchsorted(src, z), src.size - 1)
                hit = src[idx] == z
                z[hit] = dst[idx[hit]]
            # per-doc token offsets
            d_start = np.searchsorted(tok_starts, bounds, side="left")
            yield siggen.batch_from_token_hashes(
                ids, z, d_start, extras=extras_of(raw, bounds)
            )

    schema = _sig_schema(
        docs,
        id_col,
        n_bands,
        shingles_only,
        emit_shingles,
        pack_minhash,
        substring=bool(substring_gram_len) and not shingles_only,
        text_hash=emit_text_hash and not shingles_only,
    )
    return docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInArrow(_batches, schema)


def pack_hashes(col: "F.Column") -> "F.Column":
    """array<long> -> binary: little-endian fixed-width int64s.

    Signature checkpoints store minhash packed: parquet then encodes it
    as one plain byte run per doc (no per-element repetition levels)."""

    @F.pandas_udf("binary")
    def _pack(s: pd.Series) -> pd.Series:
        return s.map(
            lambda a: None
            if a is None
            else np.asarray(a, dtype="<i8").tobytes()
        )

    return _pack(col)


def unpack_hashes(col: "F.Column") -> "F.Column":
    """binary (little-endian int64s) -> array<long> — pack_hashes⁻¹."""

    @F.pandas_udf(ArrayType(LongType()))
    def _unpack(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: None
            if b is None
            else np.frombuffer(b, dtype="<i8").tolist()
        )

    return _unpack(col)


def _bucket_pairs(
    exploded: DataFrame,
    bucket_cols: list[str],
    member_col,
    max_bucket_size: int,
    salted_cap: int | None = None,
    n_salt: int = 8,
) -> DataFrame:
    """Within-bucket pair generation: (id_a, id_b) for every unordered
    member pair of each bucket with 1 < size <= max_bucket_size — plus,
    when ``salted_cap`` is set, a SALTED tier for hot buckets with
    max_bucket_size < size <= salted_cap (the north rule's "salted
    repartitioning for hot-band skew"): one side keeps a deterministic
    salt ``xxhash64(member) % n_salt``, the other replicates to all
    ``n_salt`` salts, and the join key gains the salt — a hot bucket's
    O(size²) pair generation spreads over ``n_salt`` tasks instead of
    serializing on one, at the cost of replicating the (bounded) hot
    relation ``n_salt``×. Every pair is still emitted exactly once (at
    the salt of its a-side member). Buckets over ``salted_cap`` (or
    over ``max_bucket_size`` when unset) are dropped — observable via
    :func:`lsh_bucket_stats`.

    Shape chosen for 100 TB: ONE hash shuffle on the bucket key feeds a
    window count that drops monster buckets BEFORE anything else happens
    (no bucket-size side relation — a joined count table tempts AQE into
    broadcasting a corpus-scale relation, which serializes on the driver
    and on a real cluster would ship the whole thing to every executor);
    the capped survivors are materialized once and self-joined with a
    codegen sort-merge join.

    ``member_col`` may be a string column name or a struct Column; pairs
    are ordered by the struct's first field.

    ``bucket_cols`` may lead with a source tag, so that several candidate
    sources share the one shuffle, checkpoint and join: each bucket, its
    size and its cap then stay within one source (see
    :func:`signature_candidate_pairs`).
    """
    member = F.col(member_col) if isinstance(member_col, str) else member_col
    if salted_cap is not None and salted_cap > max_bucket_size and n_salt < 1:
        raise ValueError(f"n_salt must be >= 1, got {n_salt}")
    salted = salted_cap is not None and salted_cap > max_bucket_size
    w = Window.partitionBy(*bucket_cols)
    sized = exploded.select(*bucket_cols, member.alias("_m")).withColumn(
        "_bs", F.count("*").over(w)
    )
    if salted:
        # both tiers read the window output: materialize the SURVIVING
        # buckets once (filtering to <= salted_cap BEFORE the
        # checkpoint — the unfiltered window output is corpus-scale:
        # on real web data most LSH band buckets are singletons, and
        # checkpoint blocks are effectively never context-cleaned in
        # this environment, see scoped_cache.py)
        sized = sized.where(
            (F.col("_bs") > 1) & (F.col("_bs") <= salted_cap)
        ).localCheckpoint(eager=False)
    capped = sized.where(
        (F.col("_bs") > 1) & (F.col("_bs") <= max_bucket_size)
    ).drop("_bs")
    if not salted:
        # materialize ONCE: the capped relation is orders of magnitude
        # smaller than its upstream (explode + shuffle + any sampling
        # UDF), which would otherwise be recomputed for each join side
        # (exchange reuse across self-join sides is not guaranteed,
        # especially under AQE). On a cluster this is a
        # persist(MEMORY_AND_DISK)-class decision. (In the salted case
        # the tier base above is already checkpointed; both tiers are
        # narrow filters over it.)
        capped = capped.localCheckpoint(eager=False)
    # self-join the capped relation on the bucket key: both sides are
    # the same window output — already hash-partitioned AND sorted on
    # the key, so the sort-merge join inserts no exchange and no sort,
    # and the whole pair blowup stays in whole-stage codegen. (An
    # explode of per-bucket collect_list combinations evaluates higher-
    # order lambdas interpreted, one object per emitted element —
    # measured ~10x the CPU and GC of this join shape.)
    a_side = capped.select(*bucket_cols, F.col("_m").alias("id_a"))
    b_side = capped.select(*bucket_cols, F.col("_m").alias("id_b"))
    # merge hint: with SMJ both children end in IDENTICAL hash
    # exchanges, so ReusedExchange computes the upstream (incl. any
    # sampling UDF) once; a broadcast join would duplicate the whole
    # subplan AND serialize a corpus-scale build on the driver
    pairs = (
        a_side.hint("merge").join(b_side.hint("merge"), bucket_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if not salted:
        return pairs
    hot = sized.where(F.col("_bs") > max_bucket_size).drop("_bs")
    hot_a = hot.select(
        *bucket_cols,
        F.col("_m").alias("id_a"),
        F.pmod(F.xxhash64("_m"), F.lit(n_salt)).cast("long").alias("_salt"),
    )
    hot_b = hot.select(*bucket_cols, F.col("_m").alias("id_b")).withColumn(
        "_salt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_salt - 1).cast("long"))
        ),
    )
    salted = (
        hot_a.join(hot_b, [*bucket_cols, "_salt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return pairs.unionByName(salted)


def _band_keys(num_perm: int, bands: int):
    rows = num_perm // bands
    # xxhash64 over the long-array slice itself — fixed-width, no string
    # rendering of 128-long signatures per band
    return [
        F.struct(
            F.lit(i).alias("band_id"),
            F.xxhash64(F.slice(F.col("minhash"), i * rows + 1, rows)).alias(
                "band_hash"
            ),
        )
        for i in range(bands)
    ]


def _banded(
    df: DataFrame, bands: int, num_perm: int, bands_col: str | None = None
) -> DataFrame:
    """(id, band_id, band_hash) — from a precomputed ``bands_col``
    (posexplode; empty lists drop out) or derived from ``minhash``."""
    if bands_col is not None:
        return df.select(
            "id", F.posexplode(F.col(bands_col)).alias("band_id", "band_hash")
        )
    return df.select(
        "id",
        F.explode(F.array(*_band_keys(num_perm, bands))).alias("band"),
    ).select("id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))


def lsh_bucket_stats(
    signatures: DataFrame, bands: int = 32, num_perm: int = 128
) -> DataFrame:
    """(band_id, band_hash, bucket_size) — observability for skew/caps."""
    return (
        _banded(signatures, bands, num_perm)
        .groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("bucket_size"))
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 32,
    num_perm: int = 128,
    max_bucket_size: int = 1000,
    bands_col: str | None = None,
    salted_bucket_cap: int | None = None,
    n_salt: int = 8,
) -> DataFrame:
    """(id_a, id_b) candidate pairs from MinHash LSH banding.

    Buckets larger than ``max_bucket_size`` are dropped (boilerplate-
    heavy hot bands — observable via :func:`lsh_bucket_stats`) unless
    ``salted_bucket_cap`` extends them a salted-repartitioning tier
    (see :func:`_bucket_pairs`); pairs reached in several bands are
    deduplicated. Pass ``bands_col`` when the signature relation
    carries precomputed band hashes (see :func:`text_to_signatures`)
    — candidate generation then never touches the num_perm-wide
    minhash column.
    """
    banded = _banded(signatures, bands, num_perm, bands_col=bands_col)
    pairs = _bucket_pairs(
        banded,
        ["band_id", "band_hash"],
        "id",
        max_bucket_size,
        salted_cap=salted_bucket_cap,
        n_salt=n_salt,
    )
    return pairs.distinct()


def simhash_signatures(
    tokens: DataFrame,
    tokens_col: str = "tokens",
    hashes_col: str | None = None,
) -> DataFrame:
    """Add ``simhash long``: 64-bit sign-sum fingerprint.

    Inputs are either raw tokens (``tokens_col``; hashed JVM-side with
    xxhash64) or an existing ``array<long>`` hash column (``hashes_col``
    — e.g. shingle hashes). Prefer SHINGLE hashes for near-dup work:
    unigram-token SimHash collapses on topically uniform corpora (every
    doc drawn from the same vocabulary lands Hamming-close), while
    shingle SimHash requires shared word order. The UDF unpacks bits
    and sign-sums with one numpy op per batch.
    """
    if hashes_col is not None:
        hashed = tokens.withColumn("_tok_hashes", F.col(hashes_col))
    else:
        hashed = tokens.withColumn(
            "_tok_hashes",
            F.transform(F.col(tokens_col), lambda t: F.xxhash64(t)),
        )

    @F.pandas_udf(LongType())
    def _simhash(hashes: pd.Series) -> pd.Series:
        _, sh = _sig_kernel(hashes, 0, None, None, want_minhash=False)
        return pd.Series(sh, index=hashes.index)

    return hashed.withColumn("simhash", _simhash(F.col("_tok_hashes"))).drop(
        "_tok_hashes"
    )


def _simhash_blocks(n_blocks: int) -> "F.Column":
    """``array<struct<block_id, block_value>>``: the ``simhash`` column
    cut into ``n_blocks`` bit blocks. Pigeonhole: two simhashes within
    Hamming distance ``n_blocks - 1`` agree on at least one block."""
    width = 64 // n_blocks
    return F.array(
        *(
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1) if width < 64 else F.lit(-1))
                .alias("block_value"),
            )
            for i in range(n_blocks)
        )
    )


def simhash_candidate_pairs(
    signatures: DataFrame,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    max_bucket_size: int = 1000,
    salted_bucket_cap: int | None = None,
    n_salt: int = 8,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole probing: split 64 bits into n_blocks (> max_hamming)
    blocks; any pair within the Hamming ball shares at least one intact
    block -> equi-join on (block_id, block_value), verify with
    bit_count(xor) — all whole-stage codegen.
    """
    exploded = signatures.select(
        "id",
        "simhash",
        F.inline(_simhash_blocks(max_hamming + 1 if n_blocks is None else n_blocks)),
    )
    pairs = _bucket_pairs(
        exploded,
        ["block_id", "block_value"],
        F.struct(F.col("id"), F.col("simhash")),
        max_bucket_size,
        salted_cap=salted_bucket_cap,
        n_salt=n_salt,
    )
    verified = pairs.select(
        F.col("id_a.id").alias("id_a"),
        F.col("id_b.id").alias("id_b"),
        F.bit_count(
            F.col("id_a.simhash").bitwiseXOR(F.col("id_b.simhash"))
        ).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
    return verified.distinct()


class _ContentHasher:
    """Content-defined gram sampling + whole-doc content hashing over a
    flat code array: uint32 codepoints in :func:`substring_fingerprint_pairs`
    (char-oriented grams) or the raw utf8 uint8 buffer in the fused
    signature kernel (byte-oriented grams — identical hash VALUES on
    pure-ASCII text, where byte == codepoint).

    prefix-product machinery: h_p = sum_j c[p+j]*base^(L-1-j)  (mod 2^64)
                                  = base^(L-1+p) * (T[p+L] - T[p])
    with T[k] = sum_{i<k} c[i]*inv^i and inv = base^-1 mod 2^64 (base is
    odd, so invertible) — :meth:`_PolyPrefix.prefix`, over the
    per-process tables of :func:`_poly`, so constructing a hasher is
    cheap. One cumsum + O(1) work per window replaces the L strided
    multiply-add passes of the naive kernel — ~30x less memory traffic,
    which is what decides multi-core scaling here.
    """

    def __init__(self, gram_len: int, sample_mod: int):
        self.gram_len = gram_len
        self.mod = np.uint64(sample_mod)
        # power-of-two sampling rates (the shipped configs) test the low
        # bits with & instead of uint64 % (hardware division, ~2x the
        # per-window cost of the whole selection — measured); identical
        # selection: h % 2^k == 0  <=>  h & (2^k - 1) == 0 for unsigned h
        self._mod_mask = (
            np.uint64(sample_mod - 1)
            if sample_mod > 0 and (sample_mod & (sample_mod - 1)) == 0
            else None
        )
        # the FNV-prime base the token hashes use: one shared table set
        self.poly = _poly(_TOK_BASE)
        self.prefix = self.poly.prefix
        self.base_lm1 = pow(_TOK_BASE, gram_len - 1, 1 << 64)

    def sampled_per_doc(
        self, T: np.ndarray, starts: np.ndarray, lens: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """(offsets int64[n+1], values int64) — per-doc sorted-unique
        sampled gram hashes (``hash % sample_mod == 0``); windows that
        cross a doc boundary are masked out, so docs shorter than
        gram_len contribute nothing."""
        n_docs = starts.size
        L = self.gram_len
        n_win = T.size - 1 - L + 1
        offs = np.zeros(n_docs + 1, dtype=np.int64)
        if n_win <= 0:
            return offs, np.empty(0, dtype=np.int64)
        pos_parts, val_parts = [], []
        poly = self.poly
        scale = self.base_lm1
        for w0 in range(0, n_win, poly.PBLK):
            w1 = min(w0 + poly.PBLK, n_win)
            hb = (poly.pow_tab[: w1 - w0] * np.uint64(scale)) * (
                T[w0 + L : w1 + L] - T[w0:w1]
            )
            scale = (scale * poly.pow_blk) & 0xFFFFFFFFFFFFFFFF
            sel = np.flatnonzero(
                (hb & self._mod_mask) == 0
                if self._mod_mask is not None
                else hb % self.mod == 0
            )
            if sel.size:
                pos_parts.append(sel + w0)
                val_parts.append(hb[sel])
        if not pos_parts:
            return offs, np.empty(0, dtype=np.int64)
        pos = np.concatenate(pos_parts)
        vals_u = np.concatenate(val_parts)
        # a window at global position p belongs to doc i iff it lies
        # fully inside [starts[i], starts[i]+lens[i]-gram_len]
        doc_idx = np.searchsorted(starts, pos, side="right") - 1
        valid = pos <= starts[doc_idx] + lens[doc_idx] - L
        doc_idx = doc_idx[valid]
        vals = vals_u[valid].astype(np.int64)
        # per-doc sort + dedup (set semantics, like the shingle sets)
        order = np.lexsort((vals, doc_idx))
        doc_idx = doc_idx[order]
        vals = vals[order]
        if vals.size:
            keep = np.empty(vals.size, dtype=bool)
            keep[0] = True
            np.not_equal(vals[1:], vals[:-1], out=keep[1:])
            keep[1:] |= doc_idx[1:] != doc_idx[:-1]
            doc_idx = doc_idx[keep]
            vals = vals[keep]
        np.cumsum(np.bincount(doc_idx, minlength=n_docs), out=offs[1:])
        return offs, vals

    def doc_hashes(
        self, T: np.ndarray, starts: np.ndarray, lens: np.ndarray
    ) -> np.ndarray:
        """Per-doc 64-bit full-content polynomial hash (uint64):
        fmix64(base^(e-1)*(T[e]-T[s]) ^ (len<<1)) — position-independent
        (equal content hashes equal regardless of batch offset);
        zero-length docs hash to fmix64(0)."""
        e = starts + lens
        raw = self.poly.pow_at(np.maximum(e - 1, 0)) * (T[e] - T[starts])
        raw[lens == 0] = 0
        return _fmix64(raw ^ (lens.astype(np.uint64) << np.uint64(1)))


def substring_fingerprint_pairs(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    gram_len: int = 40,
    sample_mod: int = 8,
    max_bucket_size: int = 1000,
    salted_bucket_cap: int | None = None,
    n_salt: int = 8,
) -> DataFrame:
    """(id_a, id_b, shared_grams) — exact-substring dup candidates.

    Content-defined sampling (position-independent, unlike strided
    sampling): every char gram_len-gram is hashed with a polynomial
    window hash (computed for ALL positions at once via the
    :class:`_ContentHasher` prefix-product identity in uint64 mod-2^64
    arithmetic), and only grams with ``hash % sample_mod == 0`` are
    kept. Identical substrings sample identical grams regardless of
    their offset, so a common substring of m chars collides with
    P ≈ 1 - (1-1/s)^(m-gram_len). Only the ~1/sample_mod sampled gram
    hashes cross the Arrow boundary and reach the shuffle.

    This standalone operator re-scans the text relation; inside
    :class:`~symspellpy_spark.plans.pipeline.DedupPipeline` the same
    sampling runs fused into the signature kernel
    (``text_to_signatures(substring_gram_len=...)``) so candidate
    generation needs no second text scan — see
    :func:`substring_pairs_from_grams` and
    :func:`signature_candidate_pairs`.
    """

    @F.pandas_udf(ArrayType(LongType()))
    def sampled_grams(texts: pd.Series) -> pd.Series:
        # whole-batch: concatenate all docs' char codes, compute every
        # window hash via the prefix-sum identity, mask out windows that
        # cross document boundaries, then scatter sampled hashes back to
        # their documents via searchsorted. The hasher is built here, on
        # the worker, so the UDF captures only its two arguments.
        hasher = _ContentHasher(gram_len, sample_mod)
        n_docs = len(texts)
        codes_list = []
        lens = np.zeros(n_docs, dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            c = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            lens[i] = len(c)
            codes_list.append(c)
        total = int(lens.sum())
        if total < gram_len:
            return pd.Series([[] for _ in range(n_docs)], index=texts.index)
        flat = np.concatenate(codes_list)  # uint32; upcast per block only
        starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        offs, vals = hasher.sampled_per_doc(hasher.prefix(flat), starts, lens)
        return pd.Series(
            [vals[offs[i] : offs[i + 1]].tolist() for i in range(n_docs)],
            index=texts.index,
        )

    grams = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .where(F.length("_t") >= gram_len)
        .select("id", F.explode(sampled_grams(F.col("_t"))).alias("g"))
    )
    return (
        _bucket_pairs(
            grams,
            ["g"],
            "id",
            max_bucket_size,
            salted_cap=salted_bucket_cap,
            n_salt=n_salt,
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_grams"))
    )


def substring_pairs_from_grams(
    sig: DataFrame,
    grams_col: str = "sub_grams",
    id_col: str = "id",
    max_bucket_size: int = 1000,
    salted_bucket_cap: int | None = None,
    n_salt: int = 8,
) -> DataFrame:
    """(id_a, id_b, shared_grams) from precomputed sampled gram hashes
    (``text_to_signatures(substring_gram_len=...)``): the substring
    candidate source of :func:`substring_fingerprint_pairs` without a
    second text scan or Python stage — explode + capped bucket join
    only. Docs shorter than gram_len carry an empty list and drop out
    at the explode, mirroring the standalone operator's length filter.
    """
    grams = sig.select(
        F.col(id_col).alias("id"), F.explode(F.col(grams_col)).alias("g")
    )
    pairs = _bucket_pairs(
        grams,
        ["g"],
        "id",
        max_bucket_size,
        salted_cap=salted_bucket_cap,
        n_salt=n_salt,
    )
    return pairs.groupBy("id_a", "id_b").agg(
        F.count("*").alias("shared_grams")
    )


def signature_candidate_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
    salted_bucket_cap: int | None = None,
    n_salt: int = 8,
) -> DataFrame:
    """(id_a, id_b, source) from three candidate sources of the signature
    relation ``(id, bands, simhash, sub_grams)`` in ONE capped bucket join.
    ``source`` is 0 for an LSH band, 1 for a SimHash block, 2 for a
    substring gram.

    Every source is a key -> id bucket, so one tagged relation
    ``(s, k1, k2, id, simhash)`` carries all three: ``(0, band index,
    band hash)``, ``(1, block id, block value)`` for the
    ``max_hamming + 1`` blocks, and ``(2, 0, gram)``, built in one scan
    (each row's tagged keys concatenated and inlined). The tag keeps each
    source's buckets, and so their caps, apart: the pairs are those of
    :func:`lsh_candidate_pairs`, :func:`simhash_candidate_pairs` and
    :func:`substring_pairs_from_grams` at the same caps, with one window
    shuffle, one checkpoint and one self-join instead of three. SimHash
    pairs keep the Hamming filter. A pair appears once per shared bucket;
    the caller deduplicates.
    """
    def key(s, k1, k2):
        return F.struct(F.lit(s).alias("s"), k1.alias("k1"), k2.alias("k2"))

    keys = F.concat(
        F.transform("bands", lambda h, i: key(0, i, h)),
        F.transform(
            _simhash_blocks(max_hamming + 1),
            lambda b: key(1, b["block_id"], b["block_value"]),
        ),
        F.transform("sub_grams", lambda g: key(2, F.lit(0), g)),
    )
    tagged = sig.select("id", "simhash", F.inline(keys))
    pairs = _bucket_pairs(
        tagged,
        ["s", "k1", "k2"],
        F.struct("id", "s", "simhash"),
        max_bucket_size,
        salted_cap=salted_bucket_cap,
        n_salt=n_salt,
    )
    hamming = F.bit_count(F.col("id_a.simhash").bitwiseXOR(F.col("id_b.simhash")))
    return pairs.where((F.col("id_a.s") != 1) | (hamming <= max_hamming)).select(
        F.col("id_a.id").alias("id_a"),
        F.col("id_b.id").alias("id_b"),
        F.col("id_a.s").alias("source"),
    )


def exact_duplicates_from_hash(
    sig: DataFrame, hash_col: str = "text_hash", id_col: str = "id"
) -> DataFrame:
    """(id, group_id, n_dups) from the signature kernel's 64-bit
    full-text content hash (``text_to_signatures(emit_text_hash=True)``)
    — :func:`exact_duplicates` without a second text scan.

    64-bit polynomial hash vs md5: expected colliding PAIRS corpus-wide
    are ~n^2/2^65 (≈0.03 at 10^12 docs) — the same class of accepted
    tradeoff as the pipeline's xxhash64(url) internal ids. One semantic
    difference vs md5 grouping: null text and empty text share one
    group here (both hash the empty byte string), where md5(NULL)
    groups null docs separately from ''-docs.
    """
    h = sig.select(F.col(id_col).alias("id"), F.col(hash_col).alias("_th"))
    groups = h.groupBy("_th").agg(
        F.min("id").alias("group_id"), F.count("*").alias("n_dups")
    )
    return (
        h.join(groups.where(F.col("n_dups") > 1), "_th")
        .select("id", "group_id", "n_dups")
    )


_XX64_M = np.uint64(0xFFFFFFFFFFFFFFFF)
_XX64_P = tuple(
    np.uint64(p)
    for p in (
        0x9E3779B185EBCA87,
        0xC2B2AE3D27D4EB4F,
        0x165667B19E3779F9,
        0x85EBCA77C2B2AE63,
        0x27D4EB2F165667C5,
    )
)


def _xx_rotl_np(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _xxh64_grams(buf: np.ndarray, k: int, seed: int = 42) -> np.ndarray:
    """Vectorized XXH64 (seed 42 — Spark's ``xxhash64``) over ALL k-byte
    windows of an ASCII byte buffer at once: one uint64 lane per gram
    start, the short-path chunk schedule (8-byte words, 4-byte word,
    tail bytes, avalanche) unrolled over the fixed k. Bit-exact vs
    Spark/reference XXH64 (pinned by tests); requires k < 32."""
    P1, P2, P3, P4, P5 = _XX64_P
    n = buf.size - k + 1
    idx = np.arange(n, dtype=np.int64)
    b = buf.astype(np.uint64)

    def le_word(off: int, nbytes: int) -> np.ndarray:
        w = np.zeros(n, dtype=np.uint64)
        for j in range(nbytes):
            w |= b[idx + off + j] << np.uint64(8 * j)
        return w

    h = np.full(n, np.uint64(seed) + P5 + np.uint64(k), dtype=np.uint64)
    i = 0
    while i + 8 <= k:
        kk = _xx_rotl_np(le_word(i, 8) * P2, 31) * P1
        h ^= kk
        h = _xx_rotl_np(h, 27) * P1 + P4
        i += 8
    if i + 4 <= k:
        h ^= le_word(i, 4) * P1
        h = _xx_rotl_np(h, 23) * P2 + P3
        i += 4
    while i < k:
        h ^= b[idx + i] * P5
        h = _xx_rotl_np(h, 11) * P1
        i += 1
    h ^= h >> np.uint64(33)
    h *= P2
    h ^= h >> np.uint64(29)
    h *= P3
    h ^= h >> np.uint64(32)
    return h


def _xxh64_py(data: bytes, seed: int = 42) -> int:
    """Scalar XXH64 (any length) — the non-ASCII fallback where grams
    are CHARACTER slices whose utf8 encodings vary in byte length."""
    P1, P2, P3, P4, P5 = (int(p) for p in _XX64_P)
    M = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + P1 + P2) & M,
            (seed + P2) & M,
            seed & M,
            (seed - P1) & M,
        ]
        while i <= n - 32:
            for j in range(4):
                kk = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v[j] = (rotl((v[j] + kk * P2) & M, 31) * P1) & M
            i += 32
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & M
        for j in range(4):
            kk = rotl((v[j] * P2) & M, 31) * P1 & M
            h = ((h ^ kk) * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        kk = rotl((int.from_bytes(data[i : i + 8], "little") * P2) & M, 31) * P1 & M
        h = (rotl(h ^ kk, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * P1) & M
        h = (rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M
        h = (rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h


def _winnow_select(h_u64: np.ndarray, window: int):
    """(pos0, fingerprint) distinct winnowing selections over a gram-
    hash array: per-window minimum under SIGNED int64 order (matching
    Catalyst's ``min`` over ``xxhash64`` longs), rightmost tie."""
    h = h_u64.view(np.int64)
    n = h.size
    if n < window:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    from numpy.lib.stride_tricks import sliding_window_view

    rev = sliding_window_view(h, window)[:, ::-1]
    am = rev.argmin(axis=1)  # argmin of reversed window = first min from right
    pos0 = np.arange(n - window + 1, dtype=np.int64) + (window - 1 - am)
    sel = np.unique(np.stack([pos0, h[pos0]], axis=1), axis=0)
    return sel[:, 0], sel[:, 1]


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
    strategy: str = "auto",
    positions: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every char ``k``-gram, slide a
    ``window`` over consecutive gram hashes, select each window's
    minimum (ties -> RIGHTMOST position), dedupe selections.
    Guarantees: every shared substring of length >= window + k - 1
    between two documents yields a shared fingerprint, with ~2/(window+1)
    sampling density — the classic local-plagiarism/near-dup sweep that
    complements MinHash (set overlap) and the content-defined substring
    pass (exact long matches).

    Pure Catalyst, join-free: posexplode grams -> JVM hash -> ONE
    sliding-window pass (ROWS BETWEEN CURRENT AND window-1 FOLLOWING)
    computing ``min(struct(h, -p))`` — struct ordering gives the min
    hash first and, among ties, the max position (rightmost) — then
    project (fingerprint, pos) and distinct. A previous revision
    resolved the rightmost tie by joining window starts back onto all
    grams equi-keyed on (id, h==wmin); on boilerplate-heavy documents
    where one gram hash dominates that join degenerates toward O(L²)
    rows per document, so it was replaced by this single window pass
    (same results, linear in document length, skew-safe).
    ``hash_family="md5"`` swaps the gram hash for a 60-bit md5 prefix
    that DuckDB computes identically — the oracle family; xxhash64 is
    the production default.

    Strategies: the default (``auto``, xxhash64, k < 32) runs a
    DOC-LOCAL Arrow kernel — vectorized XXH64 over every gram plus a
    strided rolling-min — with NO explode and NO shuffle: the
    relational formulation shuffles+sorts one row per character for
    its window (petabytes at web scale), while the kernel's only plan
    node is a mapInPandas over (id, text). ``strategy="relational"``
    (and the md5 family, which exists for the DuckDB oracle) keeps the
    Catalyst window formulation; equivalence is pinned by tests.
    """
    if hash_family == "xxhash64" and strategy != "relational" and k < 32:
        return _winnowing_kernel(
            docs, k, window, id_col, text_col, positions=positions
        )
    from pyspark.sql import Window as W

    d = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).where(F.length("text") >= k + window - 1)
    grams = d.select(
        "id",
        F.explode(F.sequence(F.lit(1), F.length("text") - (k - 1))).alias("p"),
        F.col("text"),
    ).select("id", "p", F.expr(f"substring(text, p, {k})").alias("g"))
    if hash_family == "md5":
        h = F.conv(F.substring(F.md5(F.col("g")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("g"))
    grams = grams.select("id", "p", h.alias("h"))
    w_min = W.partitionBy("id").orderBy("p").rowsBetween(0, window - 1)
    n_grams = W.partitionBy("id")
    # min(struct(h, -p)) over the forward window: minimum hash, and
    # among equal hashes the most-negative -p, i.e. the RIGHTMOST p.
    chosen = (
        grams.withColumn(
            "wmin",
            F.min(
                F.struct(F.col("h"), (-F.col("p")).alias("np"))
            ).over(w_min),
        )
        .withColumn("m", F.max("p").over(n_grams))
        .where(F.col("p") <= F.col("m") - (window - 1))
    )
    out = chosen.select(
        "id",
        (-F.col("wmin.np")).alias("pos"),
        F.col("wmin.h").alias("fingerprint"),
    ).distinct()
    if positions:
        return out
    return out.select("id", "fingerprint").distinct()


def _winnowing_kernel(
    docs: DataFrame,
    k: int,
    window: int,
    id_col: str,
    text_col: str,
    positions: bool = True,
) -> DataFrame:
    min_len = k + window - 1

    def run(batches):
        for pdf in batches:
            out_id, out_pos, out_fp = [], [], []
            for rid, text in zip(pdf["id"], pdf["text"]):
                if text is None or len(text) < min_len:
                    continue
                if text.isascii():
                    buf = np.frombuffer(text.encode(), dtype=np.uint8)
                    h = _xxh64_grams(buf, k)
                else:
                    # character grams: utf8 byte length varies per gram
                    h = np.array(
                        [
                            _xxh64_py(text[i : i + k].encode())
                            for i in range(len(text) - k + 1)
                        ],
                        dtype=np.uint64,
                    )
                pos0, fp = _winnow_select(h, window)
                if not positions:
                    # fingerprint-set consumers: dedupe per doc in the
                    # kernel (fp selections are sorted by _winnow_select's
                    # np.unique on (pos, h), so unique needs no re-sort
                    # guarantee) — the (id, fingerprint) relation then
                    # needs NO distinct exchange downstream
                    fp = np.unique(fp)
                    pos0 = fp  # unused placeholder, same length
                out_id.append(np.full(fp.size, rid))
                if positions:
                    out_pos.append(pos0 + 1)  # 1-based substring positions
                out_fp.append(fp)
            cols = {"id": np.concatenate(out_id) if out_id else pd.Series([], dtype=object)}
            if positions:
                cols["pos"] = (
                    np.concatenate(out_pos).astype(np.int32)
                    if out_id
                    else pd.Series([], dtype=np.int32)
                )
            cols["fingerprint"] = (
                np.concatenate(out_fp)
                if out_id
                else pd.Series([], dtype=np.int64)
            )
            yield pd.DataFrame(cols)

    id_type = (
        docs.select(F.col(id_col).alias("id")).schema[0].dataType.simpleString()
    )
    src_rel = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    para = docs.sparkSession.sparkContext.defaultParallelism
    if src_rel.rdd.getNumPartitions() < para:
        src_rel = src_rel.repartition(para * 2)
    schema = (
        f"id {id_type}, pos int, fingerprint long"
        if positions
        else f"id {id_type}, fingerprint long"
    )
    return src_rel.mapInPandas(run, schema=schema)


def winnowing_candidate_pairs(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    id_col: str = "url",
    text_col: str = "text",
    max_bucket_size: int = 1000,
    salted_bucket_cap: int | None = None,
    n_salt: int = 8,
    count_shared: bool = True,
) -> DataFrame:
    """(id_a, id_b, shared_fingerprints) — documents sharing winnowing
    fingerprints: the local-match candidate sweep (any shared substring
    of length >= window + k - 1 guarantees a shared fingerprint, at
    ~2/(window+1) sampling density). Complements MinHash-LSH (global
    set overlap) and the content-defined substring pass (long exact
    matches) with partial/local overlap detection. Same scale shape as
    the other sweeps: equi-join on the fingerprint bucket, capped at
    ``max_bucket_size`` (a fingerprint shared by half the web —
    boilerplate — is evidence of nothing and would otherwise square).

    ``count_shared=False`` skips the pair aggregation and emits
    (id_a, id_b) once per shared fingerprint — for consumers that
    discard the count and deduplicate pairs downstream anyway (the
    pipeline's candidate groupBy)."""
    # positions=False: the kernel dedups fingerprints per doc, so the
    # (id, fingerprint) relation is distinct by construction and the
    # distinct exchange this select used to need disappears
    fps = winnowing_fingerprints(
        docs, k=k, window=window, id_col=id_col, text_col=text_col,
        positions=False,
    )
    pairs = _bucket_pairs(
        fps,
        ["fingerprint"],
        "id",
        max_bucket_size,
        salted_cap=salted_bucket_cap,
        n_salt=n_salt,
    )
    if not count_shared:
        return pairs
    return pairs.groupBy("id_a", "id_b").agg(
        F.count("*").alias("shared_fingerprints")
    )


def exact_duplicates(
    docs: DataFrame, id_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """(id, group_id, n_dups) for byte-identical texts — hash groupBy.

    group_id = min id in the group; only groups with >1 member returned.
    """
    h = docs.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("text_md5")
    )
    groups = h.groupBy("text_md5").agg(
        F.min("id").alias("group_id"), F.count("*").alias("n_dups")
    )
    return (
        h.join(groups.where(F.col("n_dups") > 1), "text_md5")
        .select("id", "group_id", "n_dups")
    )


def boilerplate_segments(
    docs: DataFrame,
    seg_len: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_re: str = "[a-z0-9]+",
) -> DataFrame:
    """Segment-level boilerplate detection (the CCNet/RefinedWeb
    repeated-paragraph pass, on token windows since web-extracted text
    here is newline-free): a document's tokens are cut into ALIGNED
    ``seg_len``-token segments; a segment is boilerplate if it occurs
    in >= ``min_docs`` DISTINCT documents (nav bars, footers, cookie
    banners repeat verbatim across a site's pages).

    -> one row per input document:
    ``(id, n_tokens, n_segments, n_boilerplate, boiler_ratio)`` where
    ``boiler_ratio = n_boilerplate / n_segments`` (0.0 for docs shorter
    than one segment) — the per-document signal a training-data filter
    thresholds on.

    Scale shape: pure Catalyst — one explode bounded by
    n_tokens/seg_len rows per doc, document frequencies via a single
    hash aggregation over (segment, id) pre-distinct (map-side partial
    combine), and the frequency table joined back on the segment key.
    No UDF, no self-join, no per-doc state; the segment strings are
    bounded at ``seg_len`` tokens so row width stays flat. At corpus
    scale the join key can be ``xxhash64(segment)`` — kept as the raw
    string here so the operator stays exactly SQL-replayable. The
    segments relation feeds three consumers (a diamond: document
    frequencies, per-doc counts, and the all-docs token counts), and
    Spark does not reuse subplans, so it is generation-scope persisted —
    the corpus text is tokenized ONCE, not three times.
    """
    toks = persist_scoped(
        docs.select(
            F.col(id_col).alias("id"),
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(token_re), 0
            ).alias("ts"),
        ).select("id", F.size("ts").cast("long").alias("n_tokens"), "ts"),
        "boilerplate_segments.toks",
    )
    segs = persist_scoped(
        toks.where(F.col("n_tokens") >= seg_len).select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        (F.col("n_tokens") / seg_len).cast("long") - 1,
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice("ts", i * seg_len + 1, seg_len)
                    ),
                )
            ).alias("seg"),
        ),
        "boilerplate_segments.segs",
    )
    df_counts = (
        segs.select("seg", "id")
        .distinct()
        .groupBy("seg")
        .agg(F.count("*").alias("seg_df"))
    )
    per_doc = (
        segs.join(df_counts, "seg")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(
                (F.col("seg_df") >= min_docs).cast("long")
            ).alias("n_boilerplate"),
        )
    )
    return (
        toks.select("id", "n_tokens")
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_boilerplate", F.lit(0)).alias("n_boilerplate"),
            F.when(F.coalesce("n_segments", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.col("n_boilerplate").cast("double")
                / F.col("n_segments").cast("double")
            )
            .alias("boiler_ratio"),
        )
    )


def ngram_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_re: str = "[a-z0-9]+",
) -> DataFrame:
    """Train/test contamination detection: for every training document,
    count its sliding ``n``-token grams that also occur anywhere in the
    ``benchmark`` corpus (the n-gram-overlap decontamination check run
    before LLM training so eval benchmarks don't leak into the data).

    -> one row per training document:
    ``(id, n_grams, n_contaminated)`` — docs shorter than ``n`` tokens
    get zeros; threshold ``n_contaminated > 0`` (or a ratio) to drop.

    Scale shape: the benchmark gram set is DISTINCT and tiny relative
    to the corpus (eval suites are MBs against TBs) so it broadcasts —
    the training side never shuffles: tokenize, explode sliding
    windows, broadcast-hash-join, aggregate map-side. Grams join as
    raw strings here so the operator stays exactly SQL-replayable; at
    corpus scale join on ``xxhash64(gram)`` instead to keep the
    broadcast and shuffle rows at 8 bytes (a collision only ever adds
    a false positive, the safe direction for decontamination).
    """
    tok = lambda df: df.select(  # noqa: E731
        F.col(id_col).alias("id"),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(token_re), 0
        ).alias("ts"),
    )
    grams = lambda toks: toks.where(F.size("ts") >= n).select(  # noqa: E731
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ts") - n),
                lambda i: F.concat_ws(" ", F.slice("ts", i + 1, n)),
            )
        ).alias("gram"),
    )
    bench_grams = grams(tok(benchmark)).select("gram").distinct()
    hits = (
        grams(tok(train))
        .join(
            F.broadcast(bench_grams.withColumn("_hit", F.lit(1))),
            "gram",
            "left",
        )
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("_hit").isNotNull().cast("long")).alias(
                "n_contaminated"
            ),
        )
    )
    return (
        train.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
    )


def _jaccard_expr() -> "F.Column":
    """|A∩B| / (|A| + |B| - |A∩B|) over the joined ``_ha``/``_hb`` arrays.

    Exactly |A∩B| / |A∪B| for the DISTINCT arrays this operator is
    contractually fed (shingle/gram sets are emitted sorted-unique), but
    builds ONE per-row hash set instead of two — ``array_union`` costs
    the same set machinery as ``array_intersect`` and its size is fully
    determined by the intersection size. Same integer operands, same
    single IEEE division, so the value is bit-identical to the
    array_union formulation.
    """
    inter = F.size(F.array_intersect("_ha", "_hb"))
    return inter / (F.size("_ha") + F.size("_hb") - inter)


def jaccard_verify(
    pairs: DataFrame,
    signatures: DataFrame,
    threshold: float = 0.7,
    hashes_col: str = "shingle_hashes",
    minhash_prefilter_margin: float | None = 0.2,
    two_phase: bool = False,
    hashes_df: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate pairs with *exact* shingle-set Jaccard.

    Joins the (distinct-shingle-hash) arrays back onto the pairs and
    computes |A∩B| / |A∪B| with array_intersect/array_union — JVM-side,
    no UDF. The SymSpell analogue is the post-candidate distance verify
    (symspellpy.py:582-584) with to_similarity thresholding
    (helpers.py:253-265).

    When the signatures carry a ``minhash`` column and
    ``minhash_prefilter_margin`` is set, pairs whose MinHash Jaccard
    *estimate* falls below ``threshold - margin`` are discarded before
    the exact verify. The estimate is a zip_with equality count over the
    (much smaller) 128-long signature, so candidate floods (e.g. SimHash
    Hamming-close but Jaccard-far pairs on topically uniform corpora)
    never reach the expensive array intersection. Chernoff bound at
    margin 0.2 / 128 perms: P(drop | true j >= threshold) < 4e-5 —
    inside the 0.99-recall budget.
    """
    use_prefilter = (
        minhash_prefilter_margin is not None and "minhash" in signatures.columns
    )
    # The pairs relation is narrow (two ids) but the joined relation is
    # wide (signature arrays), and the per-row intersect/union work is
    # the stage's real cost. AQE sizes the post-shuffle partitioning
    # from the NARROW pre-join bytes and would coalesce to one or two
    # partitions, serializing the verify — force a row-balanced
    # partitioning first.
    spark = pairs.sparkSession
    pairs = pairs.repartition(spark.sparkContext.defaultParallelism * 2, "id_a")

    def _est(ma, mb):
        return F.aggregate(
            F.zip_with(ma, mb, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.size(ma)

    if use_prefilter and two_phase:
        # Two-phase verify for callers whose signatures relation is
        # cheap to re-scan (the pipeline checkpoints it): phase 1 joins
        # ONLY the 128-long minhash per side and drops estimate-far
        # pairs; phase 2 joins the fat shingle arrays for survivors
        # only. The fat arrays (the dominant shuffle bytes of the
        # stage) are never shipped for pairs the prefilter kills.
        mh = signatures.select("id", "minhash")
        est_pairs = (
            pairs.join(mh.select(F.col("id").alias("id_a"), F.col("minhash").alias("_ma")), "id_a")
            .join(mh.select(F.col("id").alias("id_b"), F.col("minhash").alias("_mb")), "id_b")
            .where(
                _est(F.col("_ma"), F.col("_mb"))
                >= F.lit(threshold - minhash_prefilter_margin)
            )
            .drop("_ma", "_mb")
        )
        sh = (hashes_df if hashes_df is not None else signatures).select(
            "id", hashes_col
        )
        joined = est_pairs.join(
            sh.select(F.col("id").alias("id_a"), F.col(hashes_col).alias("_ha")),
            "id_a",
        ).join(
            sh.select(F.col("id").alias("id_b"), F.col(hashes_col).alias("_hb")),
            "id_b",
        )
        return (
            joined.withColumn("jaccard", _jaccard_expr())
            .drop("_ha", "_hb")
            .where(F.col("jaccard") >= threshold)
        )

    if hashes_df is not None:
        sig = signatures.select(
            "id", *(["minhash"] if use_prefilter else [])
        ).join(hashes_df.select("id", hashes_col), "id")
    else:
        sig = signatures.select(
            "id", hashes_col, *(["minhash"] if use_prefilter else [])
        )
    a = sig.select(
        F.col("id").alias("id_a"),
        F.col(hashes_col).alias("_ha"),
        *([F.col("minhash").alias("_ma")] if use_prefilter else []),
    )
    b = sig.select(
        F.col("id").alias("id_b"),
        F.col(hashes_col).alias("_hb"),
        *([F.col("minhash").alias("_mb")] if use_prefilter else []),
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    if use_prefilter:
        joined = joined.where(
            _est(F.col("_ma"), F.col("_mb"))
            >= F.lit(threshold - minhash_prefilter_margin)
        ).drop("_ma", "_mb")
    return (
        joined.withColumn("jaccard", _jaccard_expr())
        .drop("_ha", "_hb")
        .where(F.col("jaccard") >= threshold)
    )


def select_matches(
    verified_pairs: DataFrame,
    verbosity=None,
    score_col: str = "jaccard",
    id_col: str = "id_a",
) -> DataFrame:
    """Verbosity-style selection of verified matches per document
    (reference Verbosity semantics, verbosity.py:24-38, transplanted to
    pair verification): TOP keeps the single best match per ``id_col``,
    CLOSEST keeps all matches tied at the best score, ALL keeps every
    verified match.
    """
    from pyspark.sql import Window

    from symspellpy_spark.config import Verbosity

    if verbosity is None:
        verbosity = Verbosity.ALL
    if verbosity == Verbosity.ALL:
        return verified_pairs
    w = Window.partitionBy(id_col)
    if verbosity == Verbosity.TOP:
        ranked = verified_pairs.withColumn(
            "__rn",
            F.row_number().over(
                w.orderBy(F.col(score_col).desc(), F.col("id_b").asc())
            ),
        )
        return ranked.where(F.col("__rn") == 1).drop("__rn")
    # CLOSEST: all matches at the maximal score
    return (
        verified_pairs.withColumn("__best", F.max(score_col).over(w))
        .where(F.col(score_col) == F.col("__best"))
        .drop("__best")
    )
