"""Seeded input generators owned by the benchmark.

Nothing here imports ``symspellpy_spark``: a change to the program can
never shift a workload's inputs. Every generator draws from
``numpy.random.default_rng((seed, stream, k))``, so input ``k`` of a
stream is a pure function of the run's seed, the stream's tag and ``k``.
Timed batches and warm-up batches use different stream tags, so a
warm-up never pre-computes anything a timed call later asks for.

All generators return pandas frames; the workloads write them to
parquet before any timing starts and hand the program only those files.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

# stream tags: one per independent input stream of a run
DICTIONARY = 1
LOOKUP = 2
COMPOUND = 3
SEGMENT = 4
PAGES = 5
STREAM = 6
PAGE_VOCAB = 7
WARMUP = 1000  # added to a tag: the warm-up copy of that stream

ALPHABET = "abcdefghijklmnopqrstuvwxyz"
_ONSETS = list("bcdfghjklmnprstvwz") + ["br", "ch", "cl", "dr", "gr", "pl", "sh", "st", "th", "tr"]
_NUCLEI = list("aeiou") + ["ai", "ea", "ee", "ou", "oo"]
_CODAS = [""] * 6 + list("lmnrst") + ["nd", "ng", "rt", "st"]
# ~8k syllables: words built from 1-4 of them look and collide like real
# words (shared prefixes, one-edit neighbours), which is what keeps the
# delete index dense
SYLLABLES = [o + n + c for o in _ONSETS for n in _NUCLEI for c in _CODAS]


def rng(seed: int, stream: int, k: int = 0) -> np.random.Generator:
    return np.random.default_rng((seed, stream, k))


def zipf_probs(n: int, s: float = 1.0) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def digest(df: pd.DataFrame) -> str:
    """Content hash of a generated frame (column names, dtypes, values)."""
    h = hashlib.sha256()
    h.update(repr(list(zip(df.columns, map(str, df.dtypes)))).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


# ---------------- dictionary ----------------


def syllable_dictionary(seed: int, n_terms: int) -> pd.DataFrame:
    """``(term, count)``: ``n_terms`` distinct syllable words, counts
    Zipf-distributed by a random rank order (term length and frequency
    are independent, as they roughly are in the reference EN list)."""
    r = rng(seed, DICTIONARY)
    terms: set[str] = set()
    syl = np.array(SYLLABLES, dtype=object)
    while len(terms) < n_terms:
        n_syl = r.choice([1, 2, 2, 3, 3, 4], size=n_terms)
        for k in n_syl:
            terms.add("".join(r.choice(syl, size=k)))
            if len(terms) == n_terms:
                break
    ordered = sorted(terms)
    r.shuffle(ordered)
    ranks = np.arange(1, n_terms + 1)
    counts = (2_000_000_000 // ranks) + r.integers(0, 1000, size=n_terms)
    return pd.DataFrame({"term": ordered, "count": counts.astype(np.int64)})


# ---------------- typo streams ----------------


def typo(word: str, r: np.random.Generator, edits: int = 1) -> str:
    """Apply ``edits`` random delete / transpose / substitute / insert
    operations (the edit model of the Damerau-OSA distance)."""
    for _ in range(edits):
        n = len(word)
        op = int(r.integers(0, 4))
        i = int(r.integers(0, n)) if n else 0
        if op == 0 and n > 1:
            word = word[:i] + word[i + 1 :]
        elif op == 1 and i + 1 < n:
            word = word[:i] + word[i + 1] + word[i] + word[i + 2 :]
        elif op == 2 and n:
            word = word[:i] + ALPHABET[int(r.integers(0, 26))] + word[i + 1 :]
        else:
            word = word[:i] + ALPHABET[int(r.integers(0, 26))] + word[i:]
    return word


def _noisy_words(
    terms: np.ndarray, probs: np.ndarray, r: np.random.Generator, n: int, p_typo: float
) -> list[str]:
    words = r.choice(terms, size=n, p=probs).tolist()
    u = r.random(n)
    for i in np.flatnonzero(u < p_typo):
        # one edit mostly, two edits for a quarter of the typos
        words[i] = typo(words[i], r, 2 if u[i] < p_typo / 4 else 1)
    return words


def lookup_queries(
    dictionary: pd.DataFrame, seed: int, stream: int, k: int, n: int, p_typo: float = 0.3
) -> pd.DataFrame:
    """``(query)``: ``n`` tokens drawn by the dictionary's own Zipf
    counts, so tokens repeat within and across batches."""
    terms = dictionary["term"].to_numpy()
    probs = dictionary["count"].to_numpy() / dictionary["count"].sum()
    return pd.DataFrame({"query": _noisy_words(terms, probs, rng(seed, stream, k), n, p_typo)})


def compound_docs(
    dictionary: pd.DataFrame,
    seed: int,
    stream: int,
    k: int,
    n: int,
    words_per_doc: int = 8,
    p_typo: float = 0.15,
) -> pd.DataFrame:
    """``(doc_id, text)``: space-separated noisy sentences."""
    terms = dictionary["term"].to_numpy()
    probs = dictionary["count"].to_numpy() / dictionary["count"].sum()
    words = _noisy_words(terms, probs, rng(seed, stream, k), n * words_per_doc, p_typo)
    texts = [" ".join(words[i : i + words_per_doc]) for i in range(0, len(words), words_per_doc)]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def glued_docs(
    dictionary: pd.DataFrame, seed: int, stream: int, k: int, n: int, words_per_doc: int = 6
) -> pd.DataFrame:
    """``(doc_id, text)``: dictionary words glued without spaces."""
    terms = dictionary["term"].to_numpy()
    probs = dictionary["count"].to_numpy() / dictionary["count"].sum()
    words = rng(seed, stream, k).choice(terms, size=n * words_per_doc, p=probs).tolist()
    texts = ["".join(words[i : i + words_per_doc]) for i in range(0, len(words), words_per_doc)]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


# ---------------- pages with planted truth ----------------

_COMMON = (
    "the of and to in is was he for it with as his on be at by had not are "
    "but from or have an they which one you were all her she there would "
    "their we him been has when who will no more if out so up said what its"
).split()


@dataclass
class Pages:
    """A pages table plus its planted truth: ``truth`` holds
    ``(url_a, url_b, kind)`` for every planted duplicate pair."""

    pages: pd.DataFrame
    truth: pd.DataFrame


def page_vocab(seed: int) -> np.ndarray:
    """3000 page words: common English function words, then syllable
    words; ``pages`` draws them Zipf-distributed in this order."""
    n = 3000
    r = rng(seed, PAGE_VOCAB)
    words = set(_COMMON)
    syl = np.array(SYLLABLES, dtype=object)
    while len(words) < n:
        words.add("".join(r.choice(syl, size=int(r.integers(1, 4)))))
    extra = sorted(words - set(_COMMON))
    r.shuffle(extra)
    return np.array(_COMMON + extra[: n - len(_COMMON)], dtype=object)


def _text(vocab, probs, r, lo, hi) -> list[str]:
    return r.choice(vocab, size=int(r.integers(lo, hi)), p=probs).tolist()


def _edit(toks: list[str], r: np.random.Generator) -> list[str]:
    toks = list(toks)
    for _ in range(max(1, len(toks) * 3 // 100)):
        i = int(r.integers(0, len(toks)))
        op = int(r.integers(0, 3))
        if op == 0 and len(toks) > 10:
            del toks[i]
        elif op == 1 and i + 1 < len(toks):
            toks[i], toks[i + 1] = toks[i + 1], toks[i]
        else:
            toks[i] = typo(toks[i], r)
    return toks


def _reflow(toks: list[str], r: np.random.Generator) -> str:
    """Boilerplate header/footer plus whitespace noise; body order kept."""
    header = " ".join(r.choice(_COMMON, size=int(r.integers(3, 9))))
    body = "  ".join(" ".join(toks[i : i + 12]) for i in range(0, len(toks), 12))
    return f"{header}\n{body}\ncopyright {int(r.integers(1990, 2026))}"


# how a copy derives from its base; whole-page MinHash LSH is built to
# find the NEAR_DUP_KINDS, not a half page hosted in unrelated text
DUP_KINDS = ("near_dup_edit", "near_dup_shuffle", "exact_substring", "exact")
NEAR_DUP_KINDS = ("near_dup_edit", "near_dup_shuffle", "exact")


def pages(
    seed: int,
    stream: int,
    k: int,
    n_docs: int,
    dup_share: float = 0.5,
    kinds: tuple[str, ...] = DUP_KINDS,
    bases: list[tuple[str, list[str]]] | None = None,
    url_prefix: str = "",
) -> Pages:
    """Common-Crawl-style pages ``(url, text)`` with planted duplicates.

    A ``dup_share`` of the pages copies an earlier page (from this table
    or from ``bases``, ``(url, tokens)`` of pages published earlier) as
    one of ``kinds``: a few token edits and typos, a re-flowed layout
    with boilerplate, half the page embedded in unrelated text, or an
    exact copy. Every other page is new text."""
    vocab = page_vocab(seed)
    probs = zipf_probs(len(vocab))
    r = rng(seed, stream, k)
    pool: list[tuple[str, list[str]]] = list(bases or [])
    urls, texts, truth = [], [], []
    for i in range(n_docs):
        url = f"https://site{int(r.integers(0, 500))}.example.org/{url_prefix}{k}/{i}"
        if pool and r.random() < dup_share:
            base_url, base = pool[int(r.integers(0, len(pool)))]
            kind = kinds[int(r.integers(0, len(kinds)))]
            if kind == "near_dup_edit":
                text = " ".join(_edit(base, r))
            elif kind == "near_dup_shuffle":
                text = _reflow(base, r)
            elif kind == "exact_substring":
                start = int(r.integers(0, len(base) // 2 + 1))
                chunk = base[start : start + max(20, len(base) // 2)]
                text = " ".join(_text(vocab, probs, r, 40, 120) + chunk)
            else:
                text = " ".join(base)
            truth.append((base_url, url, kind))
        else:
            toks = _text(vocab, probs, r, 80, 400)
            text = " ".join(toks)
            # only original text seeds further duplicates: a chain of
            # copies would make truth pairs depend on each other
            pool.append((url, toks))
        urls.append(url)
        texts.append(text)
    return Pages(
        pages=pd.DataFrame({"url": urls, "text": texts}),
        truth=pd.DataFrame(truth, columns=["url_a", "url_b", "kind"]),
    )


def originals(p: Pages) -> list[tuple[str, list[str]]]:
    """``(url, tokens)`` of the pages in ``p`` that are not copies."""
    copies = set(p.truth["url_b"])
    return [
        (u, t.split())
        for u, t in zip(p.pages["url"], p.pages["text"])
        if u not in copies
    ]
