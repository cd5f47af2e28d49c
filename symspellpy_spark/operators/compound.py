"""Batch compound-aware correction.

Reference: ``SymSpell.lookup_compound`` (symspellpy.py:639-865). The
reference walks each phrase token-by-token, with three inner lookup
families per token: the token itself, the merge of the previous+current
token (split-error repair, symspellpy.py:702-735), and every split
point of the token (merge-error repair, symspellpy.py:749-832) with
bigram / Naive-Bayes rescoring.

Relational shape: ALL inner lookups are hoisted into one set-at-a-time
``lookup_batch_relational`` over the distinct strings of the whole
corpus (tokens + merged pairs + split halves), pre-joined back to token
rows; the only sequential piece — the left-to-right fold whose merge decision
depends on the previous token's decision (``is_last_combi`` /
``suggestion_parts[-1]``) — runs per-document inside ``applyInPandas``.
At 100 TB this means: the expensive fuzzy matching is one shared
broadcast-join pipeline over *distinct* strings; the Python fold only
touches each document's own pre-joined rows.

Output: exactly one row per document (the reference always returns a
single SuggestItem) plus the ``_replaced_words`` audit as a map column
(the reference hides it in mutable state, symspellpy.py:733,837-851 —
in Spark it must be a returned result).

Routing: :func:`~symspellpy_spark.operators.neighborhood.route`, the
rule lookup and segmentation share, plus one compound condition: the
worker-local shape needs the bigram table to fit the broadcast limit
too. That shape mirrors fuzzy segmentation's — the delete-neighborhood
index is built once on the driver (operators/neighborhood.py),
broadcast, and every inner TOP lookup resolves inside the
``mapInPandas`` kernel with a cross-batch cache, so a document never
leaves its partition (no token explode, no LUT joins, no groupBy
shuffle). Tokenization stays JVM-side (``parse_words_expr``) for byte
parity with the relational shape. Above ``BROADCAST_VOCAB_LIMIT``
terms or bigrams the relational staged-lookup shape takes over.
"""

from __future__ import annotations

import re
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from symspellpy_spark.config import MAX_INT64, Verbosity
from symspellpy_spark.functions.distance import distance_udf
from symspellpy_spark.functions.text import (
    case_transfer_similar_py,
    parse_words_expr,
)
from symspellpy_spark.operators import neighborhood
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import lookup_batch_relational
from symspellpy_spark.operators.scoped_cache import persist_scoped

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
    """The reference's left-to-right token fold (symspellpy.py:688-851),
    shared by the relational and worker-local routes so their
    decisions are bit-identical.

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
    """-> one row per document: (doc_id, term, distance, count, replacements)."""
    cfg = dictionary.config
    if max_edit_distance is None:
        max_edit_distance = cfg.max_dictionary_edit_distance
    n_const = float(cfg.corpus_n)
    bigram_min = dictionary.bigram_count_min

    engine = neighborhood.route(dictionary, max_edit_distance)
    if engine.local:
        bigram_bc, bigrams_fit = _bigram_broadcast(docs.sparkSession, dictionary)
        if bigrams_fit:
            return _compound_broadcast(
                docs,
                dictionary,
                engine,
                max_edit_distance,
                ignore_non_words,
                transfer_casing,
                split_by_space,
                ignore_term_with_digits,
                doc_col,
                text_col,
                bigram_bc,
            )

    docs = docs.select(
        F.col(doc_col).alias("doc_id"), F.col(text_col).alias("phrase")
    )

    toks = docs.select(
        "doc_id",
        "phrase",
        F.posexplode_outer(
            F.arrays_zip(
                parse_words_expr(F.col("phrase"), split_by_space=split_by_space).alias(
                    "t1"
                ),
                parse_words_expr(
                    F.col("phrase"), preserve_case=True, split_by_space=split_by_space
                ).alias("t2"),
            )
        ).alias("pos", "tok"),
    ).select(
        "doc_id",
        "phrase",
        "pos",
        F.col("tok.t1").alias("term1"),
        F.col("tok.t2").alias("term2"),
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = toks.withColumn("prev1", F.lag("term1").over(w)).withColumn(
        "combo", F.concat(F.col("prev1"), F.col("term1"))
    )

    # ---- one shared TOP lookup over every distinct string we need ----
    term_strs = toks.select(F.col("term1").alias("query"))
    combo_strs = toks.where(F.col("combo").isNotNull()).select(
        F.col("combo").alias("query")
    )
    # split halves only for tokens that can enter the split branch:
    # len > 1 AND no exact dictionary match — the fold accepts an exact
    # match outright (reference symspellpy.py:745-748) and never reads
    # splits for it, so in-vocabulary tokens (the overwhelming majority
    # of web text) generate no split lookups at all
    split_src = (
        toks.where(F.col("term1").isNotNull() & (F.length("term1") > 1))
        .join(
            F.broadcast(dictionary.words.select(F.col("term").alias("term1"))),
            "term1",
            "left_anti",
        )
        .select("doc_id", "pos", "term1")
    )
    split_rows = split_src.select(
        "doc_id",
        "pos",
        "term1",
        F.explode(F.sequence(F.lit(1), F.length("term1") - 1)).alias("j"),
    ).select(
        "doc_id",
        "pos",
        "term1",
        "j",
        F.expr("substring(term1, 1, j)").alias("part1"),
        F.expr("substring(term1, j + 1, 2147483647)").alias("part2"),
    )
    part_strs = split_rows.select(F.col("part1").alias("query")).unionByName(
        split_rows.select(F.col("part2").alias("query"))
    )
    all_strs = term_strs.unionByName(combo_strs).unionByName(part_strs).where(
        F.col("query").isNotNull()
    )

    lut = lookup_batch_relational(
        all_strs,
        dictionary,
        Verbosity.TOP,
        max_edit_distance=max_edit_distance,
    ).select(
        F.col("query"),
        F.col("term").alias("s_term"),
        F.col("distance").alias("s_dist"),
        F.col("count").alias("s_count"),
    )
    # the lookup table feeds FOUR joins (term, combo, part1, part2);
    # persist so the staged lookup computes once, not once per consumer.
    # Generation-scoped (see scoped_cache.py): older generations are
    # unpersisted on each new call, keeping executor storage flat across
    # repeated lookup_compound_batch calls.
    lut = persist_scoped(lut, "compound.lut")

    # ---- pre-join lookups back onto token / split rows ----
    toks = (
        toks.join(
            lut.select(
                F.col("query").alias("term1"),
                F.col("s_term").alias("sugg_term"),
                F.col("s_dist").alias("sugg_dist"),
                F.col("s_count").alias("sugg_count"),
            ),
            "term1",
            "left",
        )
        .join(
            lut.select(
                F.col("query").alias("combo"),
                F.col("s_term").alias("combi_term"),
                F.col("s_dist").alias("combi_dist"),
                F.col("s_count").alias("combi_count"),
            ),
            "combo",
            "left",
        )
    )

    splits = (
        split_rows.join(
            lut.select(
                F.col("query").alias("part1"),
                F.col("s_term").alias("p1_term"),
                F.col("s_dist").alias("p1_dist"),
                F.col("s_count").alias("p1_count"),
            ),
            "part1",
            "inner",
        )
        .join(
            lut.select(
                F.col("query").alias("part2"),
                F.col("s_term").alias("p2_term"),
                F.col("s_dist").alias("p2_dist"),
                F.col("s_count").alias("p2_count"),
            ),
            "part2",
            "inner",
        )
        .withColumn("tmp_term", F.concat_ws(" ", F.col("p1_term"), F.col("p2_term")))
    )

    dist = distance_udf(comparer=engine.kernel, max_distance=max_edit_distance)
    splits = splits.withColumn("tmp_dist", dist(F.col("term1"), F.col("tmp_term")))
    if dictionary.bigrams is not None:
        splits = splits.join(
            F.broadcast(
                dictionary.bigrams.select(
                    F.col("bigram").alias("tmp_term"),
                    F.col("count").alias("bigram_count"),
                )
            ),
            "tmp_term",
            "left",
        )
    else:
        splits = splits.withColumn("bigram_count", F.lit(None).cast("long"))

    split_arr = splits.groupBy("doc_id", "pos").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "j",
                    "p1_term",
                    "p1_count",
                    "p2_term",
                    "p2_count",
                    "tmp_term",
                    "tmp_dist",
                    "bigram_count",
                )
            )
        ).alias("splits")
    )

    full = toks.join(split_arr, ["doc_id", "pos"], "left")

    # ---- per-document sequential fold ----
    max_ed = max_edit_distance
    pair_kernel = engine.kernel

    def _pair_distance(a: str, b: str, bound: int) -> int:
        return int(pair_kernel(pd.Series([a]), pd.Series([b]), bound).iloc[0])

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        doc_id = pdf["doc_id"].iloc[0]
        phrase = pdf["phrase"].iloc[0]

        raw = pdf.to_dict("records")
        if len(raw) == 1 and raw[0].get("term1") is None:
            raw = []
        rows = []
        for row in raw:
            sugg = (
                (row["sugg_term"], int(row["sugg_dist"]), float(row["sugg_count"]))
                if not pd.isna(row["sugg_term"]) and not pd.isna(row["sugg_dist"])
                else None
            )
            combi = (
                (
                    row["combi_term"],
                    int(row["combi_dist"]),
                    float(row["combi_count"]),
                )
                if not pd.isna(row["combi_term"]) and not pd.isna(row["combi_dist"])
                else None
            )
            s_list = row.get("splits")
            if s_list is None or not hasattr(s_list, "__len__"):
                s_list = []
            rows.append(
                {
                    "term1": row["term1"],
                    "term2": row["term2"],
                    "sugg": sugg,
                    "combi": combi,
                    "splits": [
                        dict(s) if not isinstance(s, dict) else s for s in s_list
                    ],
                }
            )
        parts, replaced = _fold_parts(
            rows,
            ignore_non_words,
            ignore_term_with_digits,
            max_ed,
            n_const,
            bigram_min,
        )

        joined_term = " ".join(p[0] for p in parts)
        joined_count = n_const
        for p in parts:
            joined_count *= p[2] / n_const
        if transfer_casing:
            joined_term = case_transfer_similar_py(phrase, joined_term)
        distance = _pair_distance(phrase, joined_term, 2**31 - 1)
        count = min(int(joined_count), MAX_INT64)
        return pd.DataFrame(
            {
                "doc_id": [doc_id],
                "term": [joined_term],
                "distance": [distance],
                "count": [count],
                "replacements": [replaced],
            }
        )

    doc_id_type = dict(docs.dtypes)["doc_id"]
    out_schema = (
        f"doc_id {doc_id_type}, term string, distance int, count long, "
        "replacements map<string,string>"
    )
    return full.groupBy("doc_id").applyInPandas(fold, schema=out_schema)


# driver-side broadcast reuse for the bigram map: one broadcast per
# SparkDictionary instance (weakref-validated, same pattern as
# neighborhood.fuzzy_index_broadcast)
_BIGRAM_CACHE: dict = {}


def _bigram_broadcast(spark, dictionary: SparkDictionary):
    """-> ``(broadcast({bigram: count}) | None, fits)``.

    ``fits=False`` means the bigram table exceeds
    ``BROADCAST_VOCAB_LIMIT`` rows and the caller must use the
    relational shape (joins against the distributed bigram table)
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


def _compound_broadcast(
    docs: DataFrame,
    dictionary: SparkDictionary,
    engine: neighborhood.Route,
    max_edit_distance: int,
    ignore_non_words: bool,
    transfer_casing: bool,
    split_by_space: bool,
    ignore_term_with_digits: bool,
    doc_col: str,
    text_col: str,
    bigram_bc,
) -> DataFrame:
    """Worker-local ``lookup_compound`` kernel.

    Same results as the relational shape (both run :func:`_fold_parts`;
    equivalence-tested on merge/split/bigram corpora), different plan:
    ONE ``mapInPandas`` pass over documents — no token explode, no
    shared-LUT joins, no per-document ``groupBy`` shuffle. Inner TOP
    lookups (tokens, merge combos, split halves — reference
    symspellpy.py:690-790) resolve against the broadcast delete index
    via the shared :class:`TopResolver`, vectorized per Arrow batch and
    cached across batches; split candidates additionally cache per
    distinct token, and their ``tmp_term`` distances
    (symspellpy.py:791-800) run as one batched kernel call.

    Tokenization runs JVM-side (``parse_words_expr``) and ships token
    arrays into the kernel, so token boundaries are byte-identical to
    the relational path's (Java and Python regex Unicode classes differ
    on edge characters).
    """
    cfg = dictionary.config
    kernel = engine.kernel
    n_const = float(cfg.corpus_n)
    bigram_min = dictionary.bigram_count_min
    spark = docs.sparkSession

    idx_bc, key = neighborhood.fuzzy_index_broadcast(
        spark, dictionary, max_edit_distance, cfg.prefix_length
    )

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
    out_schema = (
        f"doc_id {doc_id_type}, term string, distance int, count long, "
        "replacements map<string,string>"
    )
    inw = ignore_non_words
    itwd = ignore_term_with_digits
    tc = transfer_casing
    max_ed = max_edit_distance

    def run(batches):
        resolver = neighborhood.worker_resolver(
            idx_bc, key, kernel, engine.transpositions
        )
        words = resolver.words
        split_cache = _WORKER_SPLIT_STATE.get(key)
        if split_cache is None:
            split_cache = {}
            _WORKER_SPLIT_STATE.clear()  # one index build per worker
            _WORKER_SPLIT_STATE[key] = split_cache
        bigram_map = bigram_bc.value if bigram_bc is not None else {}

        for pdf in batches:
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
            resolver.prepare(todo)
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
                    if len(t) > 1 and t not in words and t not in split_cache:
                        need_split.add(t)
            part_todo = set()
            for t in need_split:
                for j in range(1, len(t)):
                    part_todo.add(t[:j])
                    part_todo.add(t[j:])
            resolver.prepare(part_todo)
            # phase C: split candidate lists; ONE kernel call for every
            # (token, tmp_term) distance of the batch
            cand = []
            for t in sorted(need_split):
                for j in range(1, len(t)):
                    r1 = resolver.get(t[:j])
                    r2 = resolver.get(t[j:])
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
                        "bigram_count": bigram_map.get(tmp),
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
                    # reference (symspellpy.py:688: enumerate(terms_1))
                    # and the relational path (posexplode of terms1);
                    # terms2 is indexed defensively — case-folding can in
                    # principle change codepoint runs
                    n2 = len(t2) if t2 is not None else 0
                    prev = None
                    for i, term1 in enumerate(t1):
                        term2 = t2[i] if i < n2 else None
                        sugg = resolver.get(term1)
                        if sugg is not None:
                            sugg = (sugg[0], sugg[1], float(sugg[2]))
                        combi = (
                            resolver.get(prev + term1)
                            if prev is not None
                            else None
                        )
                        if combi is not None:
                            combi = (combi[0], combi[1], float(combi[2]))
                        splits = (
                            split_cache.get(term1, ())
                            if len(term1) > 1 and term1 not in words
                            else ()
                        )
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

    # the kernel is compute-bound; pin a row-balanced partitioning when
    # the input arrives under-partitioned (same guard as segmentation's
    # _run_doc_local_dp — AQE coalescing would serialize it)
    para = spark.sparkContext.defaultParallelism
    if prepped.rdd.getNumPartitions() < para:
        prepped = prepped.repartition(para * 2)
    return prepped.mapInPandas(run, schema=out_schema)
