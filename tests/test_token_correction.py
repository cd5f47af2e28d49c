"""SymSpell token correction inside the fused signature kernel: the
pipeline's signatures equal the kernel run over text whose tokens a
brute-force TOP oracle corrected, on both lookup routes; the correction
reaches verify's shingle re-derivation of disk-checkpointed runs; and a
checkpoint is keyed on the dictionary that corrected it."""

from __future__ import annotations

import contextlib
import re

import pytest

from perfbench import inputs
from perfbench.checks import BruteForceTop
from symspellpy_spark.operators.dedup import kernel_tokens, text_to_signatures
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline

SEED = 17
SIG_COLS = ("shingle_hashes", "minhash", "simhash", "bands")
# the kernel tokenizer on ASCII text (dedup._WORD_BYTE)
ASCII_TOKEN = re.compile(r"[a-z0-9_']+")


@pytest.fixture(scope="module")
def syllables():
    return inputs.syllable_dictionary(SEED, 800)


@pytest.fixture(scope="module")
def syl_dict(spark, syllables):
    return SparkDictionary.from_words(
        spark, spark.createDataFrame(syllables)
    ).cache()


def _typo_pages(syllables) -> list[tuple[str, str]]:
    r = inputs.rng(SEED, inputs.PAGES)
    terms = syllables["term"].to_numpy()
    probs = syllables["count"].to_numpy() / syllables["count"].sum()
    rows = []
    for i in range(40):
        words = r.choice(terms, size=int(r.integers(2, 60)), p=probs).tolist()
        u = r.random(len(words))
        words = [
            inputs.typo(w, r, 2 if x < 0.05 else 1) if x < 0.25 else w
            for w, x in zip(words, u)
        ]
        rows.append((f"u{i}", " ".join(words)))
    # casing, punctuation, digits, apostrophes, a twin and empty docs
    rows += [
        ("caps", rows[0][1].upper() + ", 2024!"),
        ("punct", rows[1][1].replace(" ", ".. ") + " don't"),
        ("twin", rows[2][1]),
        ("empty", ""),
        ("null", None),
    ]
    return rows


def _signature_rows(df) -> dict:
    return {
        r["id"]: tuple(r[c] for c in SIG_COLS) for r in df.collect()
    }


@pytest.mark.parametrize("route", ["local", "relational"])
def test_kernel_correction_matches_brute_force(
    spark, relational_route, syllables, syl_dict, route
):
    rows = _typo_pages(syllables)
    pages = spark.createDataFrame(rows, "url string, text string")
    cfg = DedupConfig(shingle_k=3)
    pipe = DedupPipeline(spark, cfg, dictionary=syl_dict, collect_metrics=False)
    ctx = relational_route() if route == "relational" else contextlib.nullcontext()
    with ctx:
        got = _signature_rows(pipe.signatures(pages))

    oracle = BruteForceTop(syllables, syl_dict.config.max_dictionary_edit_distance)
    fixes = {}

    def correct(tok: str) -> str:
        if tok not in fixes:
            top = oracle.top(tok)
            fixes[tok] = top[0] if top is not None else tok
        return fixes[tok]

    def corrected(text):
        if text is None:
            return None
        return " ".join(map(correct, ASCII_TOKEN.findall(text.lower())))

    corrected_pages = spark.createDataFrame(
        [(u, corrected(t)) for u, t in rows], "url string, text string"
    )
    want = _signature_rows(
        text_to_signatures(
            pipe._pages64(corrected_pages),
            k=cfg.shingle_k,
            num_perm=cfg.num_perm,
            seed=cfg.minhash_seed,
            n_bands=cfg.bands,
        )
    )
    assert got == want
    n_fixed = sum(t != c for t, c in fixes.items())
    assert n_fixed > 20
    assert pipe.metrics[0]["metric"] == "corrected_tokens"
    assert pipe.metrics[0]["value"] == n_fixed


def test_kernel_tokens_are_the_ascii_tokens(spark):
    rows = [("a", "Hello, World! it's 2024_x"), ("b", "hello  again"), ("c", None)]
    docs = spark.createDataFrame(rows, "url string, text string")
    got = {r["query"] for r in kernel_tokens(docs).collect()}
    assert got == {"hello", "world", "it's", "2024_x", "again"}


def test_disk_checkpoint_verifies_on_corrected_shingles(spark, tmp_path):
    """A narrow disk checkpoint re-derives shingles at verify; those
    must carry the same token correction as the signature pass, so
    in-memory and checkpointed runs give the same edges."""
    words = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu zero"
    ).split()
    typod = [
        w[0] + w[2] + w[1] + w[3:] if i % 4 == 3 else w
        for i, w in enumerate(words)
    ]
    pages = spark.createDataFrame(
        [("clean", " ".join(words)), ("typod", " ".join(typod))],
        "url string, text string",
    )
    vocab = spark.createDataFrame(
        [(w, 100) for w in words], "term string, count long"
    )
    d = SparkDictionary.from_words(spark, vocab)
    cfg = DedupConfig(shingle_k=3)

    def edges(**kw):
        pipe = DedupPipeline(spark, cfg, dictionary=d, **kw)
        return {
            (r["id_a"], r["id_b"], r["jaccard"], tuple(sorted(r["sources"])))
            for r in pipe.edges(pages).collect()
        }

    in_memory = edges()
    assert [e[2] for e in in_memory] == [1.0]
    assert edges(checkpoint_dir=str(tmp_path / "ckpt")) == in_memory


def test_checkpoint_key_covers_dictionary(spark, tmp_path):
    """A rerun on the same checkpoint directory with another dictionary
    recomputes instead of resuming the first dictionary's signatures."""
    pages = spark.createDataFrame(
        [
            ("u0", "the quick brown fox jumps over the lazy dog again"),
            ("u1", "the quik brown fox jumps ovre the lazy dog again"),
        ],
        "url string, text string",
    )
    words = "the quick brown fox jumps over lazy dog again".split()

    def dictionary(vocab):
        return SparkDictionary.from_words(
            spark,
            spark.createDataFrame(
                [(w, 100) for w in vocab], "term string, count long"
            ),
        )

    full, partial = dictionary(words), dictionary(words[2:])
    cfg = DedupConfig(shingle_k=3)
    ckpt = str(tmp_path / "ckpt")

    def run(d, **kw):
        pipe = DedupPipeline(spark, cfg, dictionary=d, **kw)
        # a narrow disk checkpoint carries no shingle_hashes
        sig = {
            r["id"]: (r["minhash"], r["simhash"], r["bands"])
            for r in pipe.signatures(pages).collect()
        }
        resumed = any(
            m["metric"] == "resumed_from_checkpoint" for m in pipe.metrics
        )
        return sig, resumed

    first, resumed = run(full, checkpoint_dir=ckpt)
    assert not resumed
    again, resumed = run(full, checkpoint_dir=ckpt)
    assert resumed and again == first
    other, resumed = run(partial, checkpoint_dir=ckpt)
    assert not resumed
    assert other == run(partial)[0] != first
    # and a run without a dictionary does not resume a corrected one
    _, resumed = run(None, checkpoint_dir=ckpt)
    assert not resumed
