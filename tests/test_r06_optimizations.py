"""Round-6 optimization equivalences (focused tests per the round rule:
an optimization that changes an operator's internals gets a test).

Each test pins the NEW fast path against the result-equivalent old
formulation on the same inputs:

- winnowing's count_shared flag: skipping the pair aggregation must
  change multiplicity only, never the pair set;
- jaccard_verify's |A|+|B|-|A∩B| union size: bit-identical jaccard
  values vs the array_union formulation on distinct arrays;
- winnowing positions=False: the kernel-deduped (id, fingerprint)
  relation equals the positions path's select+distinct.
"""

import pytest
from pyspark.sql import functions as F

from symspellpy_spark.operators.dedup import (
    winnowing_candidate_pairs,
    winnowing_fingerprints,
)


@pytest.fixture(scope="module")
def corpus(spark):
    from symspellpy_spark.sources.pages import synthesize_pages

    return (
        synthesize_pages(spark, n_docs=400, n_base=100, seed=11)
        .select(F.xxhash64("url").alias("id"), "url", "text")
        .localCheckpoint(eager=True)
    )


def _pairs(df):
    return sorted(
        (r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()
    )


def test_winnowing_count_shared_flag_same_pair_set(corpus):
    counted = _pairs(winnowing_candidate_pairs(corpus, id_col="id", k=16,
                                               window=8))
    raw = winnowing_candidate_pairs(corpus, id_col="id", k=16, window=8,
                                    count_shared=False)
    assert sorted(set(_pairs(raw))) == counted


def test_winnowing_positions_false_equals_distinct_set(corpus):
    with_pos = (
        winnowing_fingerprints(corpus, k=16, window=8, id_col="id",
                               text_col="text")
        .select("id", "fingerprint").distinct()
    )
    no_pos = winnowing_fingerprints(corpus, k=16, window=8, id_col="id",
                                    text_col="text", positions=False)
    assert no_pos.columns == ["id", "fingerprint"]
    a = sorted((r["id"], r["fingerprint"]) for r in with_pos.collect())
    b = sorted((r["id"], r["fingerprint"]) for r in no_pos.collect())
    assert a == b
    # distinct by construction: no duplicate rows in the kernel output
    assert len(b) == len(set(b))


def test_jaccard_expr_bit_identical_to_array_union(spark):
    from symspellpy_spark.operators.dedup import _jaccard_expr

    rows = [
        ([1, 2, 3], [2, 3, 4]),
        ([1], [1]),
        ([1, 2], [3, 4]),
        ([-5, 0, 7, 9], [0, 9]),
        (list(range(100)), list(range(50, 160))),
    ]
    df = spark.createDataFrame(rows, "_ha array<long>, _hb array<long>")
    got = df.select(
        _jaccard_expr().alias("fast"),
        (F.size(F.array_intersect("_ha", "_hb"))
         / F.size(F.array_union("_ha", "_hb"))).alias("ref"),
    ).collect()
    for r in got:
        assert r["fast"] == r["ref"]  # exact float equality, same operands
