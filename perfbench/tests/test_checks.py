"""The brute-force references the benchmark checks outputs against."""

import pandas as pd

from perfbench.checks import BruteForceTop, cluster_recall, osa_distance, pair_recall


def test_osa_distance():
    assert osa_distance("abcd", "abcd", 2) == 0
    assert osa_distance("abcd", "acbd", 2) == 1  # one transposition
    assert osa_distance("ca", "abc", 3) == 3  # OSA, not unrestricted Damerau
    assert osa_distance("kitten", "sitting", 2) == 3  # capped at max_d + 1
    assert osa_distance("a", "abcd", 2) == 3


def test_brute_force_top_prefers_distance_then_count():
    d = pd.DataFrame({"term": ["hello", "help", "hallo", "yellow"], "count": [10, 500, 20, 1000]})
    b = BruteForceTop(d, 2)
    assert b.top("hello") == ("hello", 0, 10)
    assert b.top("helo") == ("help", 1, 500)  # hello is also 1 away but rarer
    assert b.top("zzzzzzzz") is None


def test_recalls():
    truth = pd.DataFrame({"url_a": ["a", "c"], "url_b": ["b", "d"]})
    clusters = pd.DataFrame({"url": ["a", "b", "c", "d"], "cluster_id": [1, 1, 2, 3]})
    assert cluster_recall(clusters, truth) == 0.5
    assert pair_recall(pd.DataFrame({"id_a": ["b", "x"], "id_b": ["a", "y"]}), truth) == 0.5
