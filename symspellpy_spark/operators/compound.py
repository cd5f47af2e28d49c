"""Batch compound-aware correction.

Reference: ``SymSpell.lookup_compound`` (symspellpy.py:639-865). The
reference walks each phrase token-by-token, with three inner lookup
families per token: the token itself, the merge of the previous+current
token (split-error repair, symspellpy.py:702-735), and every split
point of the token (merge-error repair, symspellpy.py:749-832) with
bigram / Naive-Bayes rescoring.

One kernel, two resolvers: both routes run :func:`_compound_kernel` in
one ``mapInPandas`` pass over documents. Per Arrow batch it resolves
every token and merge pair, then the split halves of the
out-of-vocabulary tokens, scores the split candidates with ONE batched
distance call, and runs the reference's sequential fold
(:func:`_fold_parts`) per document. The routes differ only in where
the TOP answers and bigram counts come from:

- worker-local (the vocabulary and the bigram table fit
  ``BROADCAST_VOCAB_LIMIT``): the per-worker :class:`TopResolver` over
  the dictionary's cached index broadcast, a broadcast bigram map and
  a per-worker split cache;
- relational (above the limit): a JVM query relation (tokens, merged
  pairs, split halves of out-of-vocabulary tokens) goes through one
  ``lookup_batch_relational`` TOP, the candidate split terms join the
  bigram table when there is one, and both answers attach to each
  document as map columns. A document's maps hold only its own
  queries, so nothing corpus-sized is collected or broadcast.

Tokenization runs JVM-side (``parse_words_expr``) on both routes: Java
and Python regex Unicode classes differ on edge characters.

Output: exactly one row per document (the reference always returns a
single SuggestItem) plus the ``_replaced_words`` audit as a map column
(the reference hides it in mutable state, symspellpy.py:733,837-851 —
in Spark it must be a returned result).
"""
from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from symspellpy_spark.config import MAX_INT64, Verbosity
from symspellpy_spark.functions.text import (
    case_transfer_similar_py,
    parse_words_expr,
)
from symspellpy_spark.operators import neighborhood
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import lookup_batch_relational

__all__ = ["lookup_compound_batch"]

_ACRONYM_RE = re.compile(r"\b[A-Z0-9]{2,}\b")
_DIGIT_RE = re.compile(r"\d")


def _try_parse_int64(s: str):
    # reference helpers.py:268-284
    try:
        v = int(s)
    except ValueError:
        return None
    return v if -(2**63) <= v <= 2**63 - 1 else None


def _is_acronym(word: str, contain_digits: bool) -> bool:
    # reference helpers.py:153-168
    if _ACRONYM_RE.search(word) is not None:
        return True
    return bool(contain_digits and _DIGIT_RE.search(word))


def _fold_parts(
    rows: list,
    ignore_non_words: bool,
    ignore_term_with_digits: bool,
    max_ed: int,
    n_const: float,
    bigram_min: int,
) -> tuple[list, dict]:
    """The reference's left-to-right token fold (symspellpy.py:688-851)
    over one document, the last phase of :func:`_compound_kernel`.

    Each row: ``{term1, term2, sugg, combi, splits}`` where ``sugg`` /
    ``combi`` are ``(term, distance, count)`` or None (the TOP lookup of
    the token / of prev+current merged) and ``splits`` is the j-ascending
    list of ``{p1_term, p1_count, p2_term, p2_count, tmp_term, tmp_dist,
    bigram_count}`` for every split point where BOTH halves matched.
    -> ``(parts, replaced_words)``.
    """
    parts: list[tuple[str, int, float]] = []
    replaced: dict[str, str] = {}
    is_last_combi = False
    for i, row in enumerate(rows):
        term1 = row["term1"]
        term2 = row["term2"]
        if ignore_non_words:
            if _try_parse_int64(term1) is not None:
                parts.append((term1, 0, n_const))
                continue
            if _is_acronym(term2 or "", ignore_term_with_digits):
                parts.append((term2, 0, n_const))
                continue
        sugg = row["sugg"]
        # merge check (symspellpy.py:702-735)
        if i > 0 and not is_last_combi and row["combi"] is not None:
            combi = row["combi"]
            best_1 = parts[-1]
            if sugg is not None:
                best_2 = sugg
            else:
                best_2 = (term1, max_ed + 1, float(10 // 10 ** len(term1)))
            distance_1 = best_1[1] + best_2[1]
            if distance_1 >= 0 and (
                combi[1] + 1 < distance_1
                or (
                    combi[1] + 1 == distance_1
                    and combi[2] > best_1[2] / n_const * best_2[2]
                )
            ):
                merged = (combi[0], combi[1] + 1, combi[2])
                parts[-1] = merged
                replaced[rows[i - 1]["term1"]] = merged[0]
                is_last_combi = True
                continue
        is_last_combi = False

        if sugg is not None and (sugg[1] == 0 or len(term1) == 1):
            parts.append(sugg)
            continue

        # split check (symspellpy.py:749-832)
        split_best = sugg  # may be None
        if len(term1) > 1:
            for s in row["splits"]:
                tmp_term = s["tmp_term"]
                tmp_distance = int(s["tmp_dist"])
                if tmp_distance < 0:
                    tmp_distance = max_ed + 1
                if split_best is not None:
                    if tmp_distance > split_best[1]:
                        continue
                    if tmp_distance < split_best[1]:
                        split_best = None
                if s["bigram_count"] is not None and not pd.isna(
                    s["bigram_count"]
                ):
                    tmp_count = float(s["bigram_count"])
                    if sugg is not None:
                        if s["p1_term"] + s["p2_term"] == term1:
                            tmp_count = max(tmp_count, sugg[2] + 2)
                        elif sugg[0] in (s["p1_term"], s["p2_term"]):
                            tmp_count = max(tmp_count, sugg[2] + 1)
                    elif s["p1_term"] + s["p2_term"] == term1:
                        tmp_count = max(
                            tmp_count,
                            max(float(s["p1_count"]), float(s["p2_count"])) + 2,
                        )
                else:
                    tmp_count = float(
                        min(
                            bigram_min,
                            int(
                                float(s["p1_count"])
                                / n_const
                                * float(s["p2_count"])
                            ),
                        )
                    )
                cand = (tmp_term, tmp_distance, tmp_count)
                if split_best is None or cand[2] > split_best[2]:
                    split_best = cand
            if split_best is not None:
                parts.append(split_best)
                replaced[term1] = split_best[0]
            else:
                item = (term1, max_ed + 1, float(10 // 10 ** len(term1)))
                parts.append(item)
                replaced[term1] = item[0]
        else:
            item = (term1, max_ed + 1, float(10 // 10 ** len(term1)))
            parts.append(item)
            replaced[term1] = item[0]
    return parts, replaced


def lookup_compound_batch(
    docs: DataFrame,
    dictionary: SparkDictionary,
    max_edit_distance: int | None = None,
    ignore_non_words: bool = False,
    transfer_casing: bool = False,
    split_by_space: bool = False,
    ignore_term_with_digits: bool = False,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> one row per document: (doc_id, term, distance, count, replacements).

    Routed by :func:`~symspellpy_spark.operators.neighborhood.route`,
    like lookup and segmentation, plus one compound condition: the
    worker-local route also needs the bigram table to fit
    ``BROADCAST_VOCAB_LIMIT``. Both routes run one kernel (see the
    module docstring)."""
    cfg = dictionary.config
    if max_edit_distance is None:
        max_edit_distance = cfg.max_dictionary_edit_distance
    spark = docs.sparkSession
    prepped = docs.select(
        F.col(doc_col).alias("doc_id"),
        F.col(text_col).alias("phrase"),
        parse_words_expr(
            F.col(text_col), split_by_space=split_by_space
        ).alias("terms1"),
        parse_words_expr(
            F.col(text_col), preserve_case=True, split_by_space=split_by_space
        ).alias("terms2"),
    )
    doc_id_type = dict(prepped.dtypes)["doc_id"]

    engine = neighborhood.route(dictionary, max_edit_distance)
    resolvers = None
    if engine.local:
        bigram_bc, bigrams_fit = _bigram_broadcast(spark, dictionary)
        if bigrams_fit:
            resolvers = _local_resolvers(
                spark, dictionary, engine, max_edit_distance, bigram_bc
            )
            # the kernel is compute-bound; pin a row-balanced
            # partitioning when the input arrives under-partitioned
            # (AQE coalescing would serialize it)
            para = spark.sparkContext.defaultParallelism
            if prepped.rdd.getNumPartitions() < para:
                prepped = prepped.repartition(para * 2)
    if resolvers is None:
        prepped = _with_answer_maps(prepped, dictionary, max_edit_distance)
        resolvers = _map_resolvers

    kernel = _compound_kernel(
        resolvers,
        engine.kernel,
        max_edit_distance,
        ignore_non_words,
        ignore_term_with_digits,
        transfer_casing,
        float(cfg.corpus_n),
        dictionary.bigram_count_min,
    )
    return prepped.mapInPandas(
        kernel,
        schema=(
            f"doc_id {doc_id_type}, term string, distance int, count long, "
            "replacements map<string,string>"
        ),
    )


# driver-side broadcast reuse for the bigram map: one broadcast per
# SparkDictionary instance (weakref-validated, same pattern as
# neighborhood.fuzzy_index_broadcast)
_BIGRAM_CACHE: dict = {}


def _bigram_broadcast(spark, dictionary: SparkDictionary):
    """-> ``(broadcast({bigram: count}) | None, fits)``.

    ``fits=False`` means the bigram table exceeds
    ``BROADCAST_VOCAB_LIMIT`` rows and the caller must use the
    relational route (a join against the distributed bigram table)
    instead of a broadcast dict. The size probe is
    ``limit(n+1).collect()`` — when it returns <= n rows that IS the
    whole table, so no separate count job runs.
    """
    if dictionary.bigrams is None:
        return None, True
    limit = neighborhood.BROADCAST_VOCAB_LIMIT

    def build():
        rows = (
            dictionary.bigrams.select("bigram", "count")
            .limit(limit + 1)
            .collect()
        )
        if len(rows) > limit:
            return None, False
        return (
            spark.sparkContext.broadcast(
                {r["bigram"]: r["count"] for r in rows}
            ),
            True,
        )

    # the limit is part of the key: a fits=False verdict probed at one
    # limit must not answer under a larger one
    (bc, fits), _ = neighborhood.cached_driver_value(
        _BIGRAM_CACHE, dictionary, (limit,), build
    )
    return bc, fits


# per-python-worker split-candidate cache, keyed by the index build key
# (dictionary token, d, p): a token's split list depends only on the
# token string + dictionary + d, so it is computed once per worker and
# reused across batches
_WORKER_SPLIT_STATE: dict = {}
_SPLIT_CACHE_CAP = 1_000_000


def _no_prepare(queries) -> None:
    pass


def _local_resolvers(
    spark,
    dictionary: SparkDictionary,
    engine: neighborhood.Route,
    max_edit_distance: int,
    bigram_bc,
):
    """The worker-local route's ``resolvers`` (see
    :func:`_compound_kernel`): the shared per-worker
    :class:`TopResolver` over the dictionary's cached index broadcast,
    the broadcast bigram map, and the per-worker split cache."""
    idx_bc, key = neighborhood.fuzzy_index_broadcast(
        spark, dictionary, max_edit_distance, dictionary.config.prefix_length
    )

    def resolvers():
        resolver = neighborhood.worker_resolver(
            idx_bc, key, engine.kernel, engine.transpositions
        )
        split_cache = _WORKER_SPLIT_STATE.get(key)
        if split_cache is None:
            split_cache = {}
            _WORKER_SPLIT_STATE.clear()  # one index build per worker
            _WORKER_SPLIT_STATE[key] = split_cache
        bigram_get = (bigram_bc.value if bigram_bc is not None else {}).get
        answers = (resolver.prepare, resolver.get, bigram_get)
        return split_cache, lambda pdf: answers

    return resolvers


def _with_answer_maps(
    prepped: DataFrame, dictionary: SparkDictionary, max_edit_distance: int
) -> DataFrame:
    """The relational route's input: ``prepped`` plus, per phrase, a
    ``top`` map (query -> its TOP answer) over the phrase's tokens,
    merged pairs and the split halves of its out-of-vocabulary tokens
    longer than one character, and a ``bigrams`` map (split candidate
    -> bigram count) of the candidates found in ``dictionary.bigrams``.

    Exact-match tokens never read their splits (symspellpy.py:745-748),
    so in-vocabulary tokens, the bulk of real text, generate no split
    lookups. No join here carries a broadcast hint: this route runs
    exactly when a table is too large to broadcast."""
    t1 = F.col("terms1")
    n = F.size(t1)
    tokens = prepped.select("phrase", F.explode(t1).alias("query"))
    pairs = prepped.select(
        "phrase",
        F.explode(
            F.zip_with(
                F.slice(t1, 1, F.greatest(n - 1, F.lit(0))),
                F.slice(t1, 2, n),
                lambda a, b: F.concat(a, b),
            )
        ).alias("query"),
    )
    oov = tokens.where(F.length("query") > 1).join(
        dictionary.words.select(F.col("term").alias("query")), "query", "left_anti"
    )
    splits = oov.select(
        "phrase",
        "query",
        F.explode(F.sequence(F.lit(1), F.length("query") - 1)).alias("j"),
    ).select(
        "phrase",
        F.expr("substring(query, 1, j)").alias("part1"),
        F.expr("substring(query, j + 1)").alias("part2"),
    )
    queries = (
        tokens.unionByName(pairs)
        .unionByName(splits.select("phrase", F.col("part1").alias("query")))
        .unionByName(splits.select("phrase", F.col("part2").alias("query")))
    )
    lut = lookup_batch_relational(
        queries, dictionary, Verbosity.TOP, max_edit_distance=max_edit_distance
    ).select("query", F.struct("term", "distance", "count").alias("answer"))
    entries = queries.join(lut, "query").select(
        "phrase", F.struct("query", "answer").alias("top")
    )
    if dictionary.bigrams is not None:

        def half(col):
            return lut.select(
                F.col("query").alias(col), F.col("answer.term").alias(col + "_term")
            )

        candidates = (
            splits.join(half("part1"), "part1")
            .join(half("part2"), "part2")
            .select(
                "phrase",
                F.concat_ws(" ", "part1_term", "part2_term").alias("bigram"),
            )
        )
        found = candidates.join(
            dictionary.bigrams.select("bigram", "count"), "bigram"
        ).select("phrase", F.struct("bigram", "count").alias("bigram"))
        entries = entries.unionByName(found, allowMissingColumns=True)
    else:
        entries = entries.withColumn(
            "bigram", F.lit(None).cast("struct<bigram:string,count:long>")
        )
    answers = entries.groupBy("phrase").agg(
        F.map_from_entries(F.collect_set("top")).alias("top"),
        F.map_from_entries(F.collect_set("bigram")).alias("bigrams"),
    )
    return prepped.join(answers, "phrase", "left")


def _map_resolvers():
    """The relational route's ``resolvers`` (see
    :func:`_compound_kernel`): each batch answers from its documents'
    ``top`` and ``bigrams`` maps; the split cache lives for one task."""

    def answers(pdf):
        top = neighborhood.merged_answers(pdf["top"])
        bigrams: dict = {}
        for m in pdf["bigrams"]:
            if m:
                bigrams.update(m)
        return _no_prepare, top.get, bigrams.get

    return {}, answers


def _compound_kernel(
    resolvers,
    kernel,
    max_ed: int,
    inw: bool,
    itwd: bool,
    tc: bool,
    n_const: float,
    bigram_min: int,
):
    """-> the ``mapInPandas`` function of both routes over
    ``(doc_id, phrase, terms1, terms2, ...)`` rows.

    ``resolvers()`` runs once per task and returns ``(split_cache,
    answers)``; ``answers(pdf)`` returns the batch's ``(prepare, get,
    bigram_get)``: ``prepare(queries)`` readies the TOP answers of a
    query set, ``get(q)`` returns ``(term, distance, count)`` or None,
    ``bigram_get(tmp_term)`` a bigram count or None. A token is in the
    vocabulary when its TOP answer has distance 0. ``split_cache`` maps
    an out-of-vocabulary token to its split candidates
    (symspellpy.py:749-800); their ``tmp_term`` distances run as one
    batched ``kernel`` call per batch, as does the final whole-phrase
    distance (symspellpy.py:855-858)."""

    def run(batches):
        split_cache, answers = resolvers()
        for pdf in batches:
            prepare, get, bigram_get = answers(pdf)

            def oov(t):
                r = get(t)
                return r is None or r[1] != 0

            doc_rows = list(
                zip(pdf["doc_id"], pdf["phrase"], pdf["terms1"], pdf["terms2"])
            )
            # phase A: batch-resolve every token and merge combo
            todo = set()
            for _, _, t1, _ in doc_rows:
                if t1 is None:
                    continue
                prev = None
                for t in t1:
                    todo.add(t)
                    if prev is not None:
                        todo.add(prev + t)
                    prev = t
            prepare(todo)
            # phase B: split halves for OOV len>1 tokens not yet cached
            # (exact-match tokens never read splits: symspellpy.py:745-748).
            # Cap-clear BEFORE need_split is computed: clearing later
            # would wipe entries this batch's phase D reads without
            # re-resolving them (phase D has no miss fallback)
            if len(split_cache) > _SPLIT_CACHE_CAP:
                split_cache.clear()
            need_split = set()
            for _, _, t1, _ in doc_rows:
                if t1 is None:
                    continue
                for t in t1:
                    if len(t) > 1 and t not in split_cache and oov(t):
                        need_split.add(t)
            part_todo = set()
            for t in need_split:
                for j in range(1, len(t)):
                    part_todo.add(t[:j])
                    part_todo.add(t[j:])
            prepare(part_todo)
            # phase C: split candidate lists; ONE kernel call for every
            # (token, tmp_term) distance of the batch
            cand = []
            for t in sorted(need_split):
                for j in range(1, len(t)):
                    r1 = get(t[:j])
                    r2 = get(t[j:])
                    if r1 is None or r2 is None:
                        continue
                    cand.append((t, r1, r2, r1[0] + " " + r2[0]))
            if cand:
                tmp_dists = kernel(
                    pd.Series([c[0] for c in cand], dtype=object),
                    pd.Series([c[3] for c in cand], dtype=object),
                    max_ed,
                ).to_numpy()
            for t in need_split:
                split_cache[t] = []
            for k, (t, r1, r2, tmp) in enumerate(cand):
                split_cache[t].append(
                    {
                        "p1_term": r1[0],
                        "p1_count": r1[2],
                        "p2_term": r2[0],
                        "p2_count": r2[2],
                        "tmp_term": tmp,
                        "tmp_dist": int(tmp_dists[k]),
                        "bigram_count": bigram_get(tmp),
                    }
                )
            # phase D: the sequential per-document fold
            out_ids: list = []
            out_terms: list = []
            out_counts: list = []
            out_repl: list = []
            phrases: list = []
            for doc_id, phrase, t1, t2 in doc_rows:
                rows = []
                if t1 is not None and len(t1) > 0:
                    # iterate the LOWERCASE tokenization only, like the
                    # reference (symspellpy.py:688: enumerate(terms_1));
                    # terms2 is indexed defensively — case-folding can in
                    # principle change codepoint runs
                    n2 = len(t2) if t2 is not None else 0
                    prev = None
                    for i, term1 in enumerate(t1):
                        term2 = t2[i] if i < n2 else None
                        sugg = get(term1)
                        if sugg is not None:
                            sugg = (sugg[0], sugg[1], float(sugg[2]))
                        combi = get(prev + term1) if prev is not None else None
                        if combi is not None:
                            combi = (combi[0], combi[1], float(combi[2]))
                        # only out-of-vocabulary tokens have a split list
                        splits = split_cache.get(term1, ())
                        rows.append(
                            {
                                "term1": term1,
                                "term2": term2,
                                "sugg": sugg,
                                "combi": combi,
                                "splits": splits,
                            }
                        )
                        prev = term1
                parts, replaced = _fold_parts(
                    rows, inw, itwd, max_ed, n_const, bigram_min
                )
                joined_term = " ".join(p[0] for p in parts)
                joined_count = n_const
                for p in parts:
                    joined_count *= p[2] / n_const
                if tc:
                    joined_term = case_transfer_similar_py(phrase, joined_term)
                out_ids.append(doc_id)
                out_terms.append(joined_term)
                out_counts.append(min(int(joined_count), MAX_INT64))
                out_repl.append(replaced)
                phrases.append(phrase)
            # final whole-phrase distance, batched (symspellpy.py:855-858)
            if out_ids:
                dists = kernel(
                    pd.Series(phrases, dtype=object),
                    pd.Series(out_terms, dtype=object),
                    2**31 - 1,
                ).to_numpy()
            else:
                dists = []
            yield pd.DataFrame(
                {
                    "doc_id": out_ids,
                    "term": out_terms,
                    "distance": [int(x) for x in dists],
                    "count": out_counts,
                    "replacements": out_repl,
                }
            )

    return run
