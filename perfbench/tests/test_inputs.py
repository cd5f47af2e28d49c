"""The benchmark's inputs are a pure function of the seed."""

import pytest

from perfbench import inputs as gen

DICT = gen.syllable_dictionary(7, 500)


def _frames(seed: int, stream_offset: int = 0):
    words = gen.syllable_dictionary(seed, 500)
    p = gen.pages(seed, gen.PAGES + stream_offset, 0, 40)
    return {
        "dictionary": words,
        "queries": gen.lookup_queries(DICT, seed, gen.LOOKUP + stream_offset, 0, 200),
        "compound": gen.compound_docs(DICT, seed, gen.COMPOUND + stream_offset, 0, 50),
        "glued": gen.glued_docs(DICT, seed, gen.SEGMENT + stream_offset, 0, 50),
        "pages": p.pages,
        "truth": p.truth,
    }


@pytest.mark.parametrize("name", ["dictionary", "queries", "compound", "glued", "pages", "truth"])
def test_same_seed_same_digest_other_seed_differs(name):
    a, b, c = _frames(1)[name], _frames(1)[name], _frames(2)[name]
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)


@pytest.mark.parametrize("name", ["queries", "compound", "glued", "pages"])
def test_warmup_stream_differs_from_timed_stream(name):
    assert gen.digest(_frames(1)[name]) != gen.digest(_frames(1, gen.WARMUP)[name])


def test_batches_of_one_stream_differ():
    a = gen.lookup_queries(DICT, 1, gen.LOOKUP, 0, 200)
    b = gen.lookup_queries(DICT, 1, gen.LOOKUP, 1, 200)
    assert gen.digest(a) != gen.digest(b)


def test_typo_applies_one_osa_edit():
    from perfbench.checks import osa_distance

    r = gen.rng(3, 0)
    for word in DICT["term"][:200]:
        assert osa_distance(word, gen.typo(word, r), 2) <= 1


def test_planted_truth_points_at_earlier_pages():
    p = gen.pages(5, gen.PAGES, 0, 200)
    order = {u: i for i, u in enumerate(p.pages["url"])}
    assert len(p.truth) > 50
    assert set(p.truth["kind"]) == set(gen.DUP_KINDS)
    assert all(order[a] < order[b] for a, b in zip(p.truth["url_a"], p.truth["url_b"]))
    # copies are never copied again
    assert not set(p.truth["url_a"]) & set(p.truth["url_b"])
