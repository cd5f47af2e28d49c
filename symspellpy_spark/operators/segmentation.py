"""Batch word segmentation.

Reference: ``SymSpell.word_segmentation`` (symspellpy.py:867-1015) — a
triangular DP over all (start, length<=max_word_len) substrings with a
circular Composition buffer, where each cell consults a TOP lookup.

One kernel, two resolvers: both routes run the DP
(:func:`_segment_phrase`) doc-local in one ``mapInPandas`` pass, with
the reference's exact cell ordering and tie-breaking
(symspellpy.py:976-1013). The routes differ only in how a cell's TOP
lookup is answered:

- worker-local (the vocabulary fits ``BROADCAST_VOCAB_LIMIT``): the
  per-worker :class:`TopResolver` over the dictionary's cached index
  broadcast;
- relational (above the limit): a first Arrow pass emits each
  phrase's distinct cell queries (:func:`cell_queries`), one
  ``lookup_batch_relational`` TOP resolves the corpus-wide distinct
  set, and the answers join back to their documents as a map column.
  A document's map holds only its own queries, so nothing corpus-sized
  is collected or broadcast.
"""

from __future__ import annotations

import math
import re
import string as _string
import unicodedata

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from symspellpy_spark.config import Verbosity
from symspellpy_spark.operators import neighborhood
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import lookup_batch_relational

__all__ = ["word_segmentation_batch", "nfkc_strip_hyphens_udf"]

_PUNCT = set(_string.punctuation)
_WS_RE = re.compile(r"\s")  # Python's whitespace, like the reference


def nfkc_strip_hyphens_udf():
    """NFKC normalize + remove U+002D (reference symspellpy.py:906)."""

    @F.pandas_udf(StringType())
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None
            if x is None
            else unicodedata.normalize("NFKC", x).replace("-", "")
        )

    return _norm


_OUT_COLS = [
    "doc_id",
    "segmented_string",
    "corrected_string",
    "distance_sum",
    "log_prob_sum",
]


def word_segmentation_batch(
    docs: DataFrame,
    dictionary: SparkDictionary,
    max_edit_distance: int | None = None,
    max_segmentation_word_length: int | None = None,
    ignore_pattern: str | None = None,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (doc_id, segmented_string, corrected_string, distance_sum,
    log_prob_sum) — one row per document (the reference's Composition).

    Routed by :func:`~symspellpy_spark.operators.neighborhood.route`,
    like lookup and compound. Both routes run one kernel
    (:func:`_segmentation_kernel`). Up to ``BROADCAST_VOCAB_LIMIT``
    terms its cells resolve on the per-worker :class:`TopResolver`
    (:func:`_segmentation_local`): at d = 0 each cell is one membership
    probe of the resolver's words map; at d > 0 every cell query of a
    batch resolves in one vectorized pass, cached across batches. Above
    the limit they read a per-document map of ``lookup_batch_relational``
    answers (:func:`_with_answer_map`). Null, empty and normalized-away
    texts get the empty Composition.
    """
    cfg = dictionary.config
    if max_edit_distance is None:
        max_edit_distance = cfg.max_dictionary_edit_distance
    if max_segmentation_word_length is None:
        max_segmentation_word_length = dictionary.max_length
    max_word_len = max_segmentation_word_length
    spark = docs.sparkSession

    norm = nfkc_strip_hyphens_udf()
    prepped = docs.select(
        F.col(doc_col).alias("doc_id"), norm(F.col(text_col)).alias("phrase")
    )
    live = prepped.where(F.length("phrase") > 0)
    engine = neighborhood.route(dictionary, max_edit_distance)
    if engine.local:
        resolvers = _segmentation_local(
            spark, dictionary, engine, max_edit_distance, max_word_len,
            ignore_pattern,
        )
        # the kernel is compute-bound (~1 ms/row vs ~100 B/row), so AQE's
        # size-based coalescing would serialize it onto one task; pin a
        # row-balanced partitioning when the input arrives
        # under-partitioned
        para = spark.sparkContext.defaultParallelism
        if live.rdd.getNumPartitions() < para:
            live = live.repartition(para * 2)
    else:
        live = _with_answer_map(
            live, dictionary, max_edit_distance, max_word_len, ignore_pattern
        )
        resolvers = _map_resolvers

    doc_id_type = dict(prepped.dtypes)["doc_id"]
    result = live.mapInPandas(
        _segmentation_kernel(resolvers, max_word_len, float(cfg.corpus_n)),
        schema=(
            f"doc_id {doc_id_type}, segmented_string string, "
            "corrected_string string, distance_sum int, log_prob_sum double"
        ),
    )
    # null, empty or normalized-away phrases have no cells; the
    # reference raises on these — we return the empty Composition instead
    # (length(null) is null, so null must be treated as empty explicitly)
    empties = prepped.where(
        F.coalesce(F.length("phrase"), F.lit(0)) == 0
    ).select(
        "doc_id",
        F.lit("").alias("segmented_string"),
        F.lit("").alias("corrected_string"),
        F.lit(0).alias("distance_sum"),
        F.lit(0.0).alias("log_prob_sum"),
    )
    return result.unionByName(empties)


def _segmentation_kernel(resolvers, max_word_len: int, n_const: float):
    """-> the ``mapInPandas`` function of both routes: the reference DP
    (:func:`_segment_phrase`) over each non-empty ``phrase``.
    ``resolvers()`` runs once per task and returns ``answers(pdf) ->
    resolve``, the TOP lookup (``query -> (term, distance, count) |
    None``) of that batch's cells."""
    log10_n = math.log10(n_const)

    def run(batches):
        answers = resolvers()
        for pdf in batches:
            resolve = answers(pdf)
            yield pd.DataFrame(
                [
                    (doc_id, *_segment_phrase(
                        phrase, resolve, max_word_len, n_const, log10_n
                    ))
                    for doc_id, phrase in zip(pdf["doc_id"], pdf["phrase"])
                ],
                columns=_OUT_COLS,
            )

    return run


def _segmentation_local(
    spark,
    dictionary: SparkDictionary,
    engine: neighborhood.Route,
    max_edit_distance: int,
    max_word_len: int,
    ignore_pattern: str | None,
):
    """The worker-local route's ``resolvers``: each cell resolves on
    the shared :class:`TopResolver` — the semantics of ``lookup_batch``
    TOP, ignore_pattern and exact-hit short-circuits included.

    The index is built ONCE per (dictionary, d) on the driver as flat
    numpy arrays and broadcast, and workers keep the deserialized
    resolver across calls. At d = 0 a cell is one
    ``TopResolver.probe`` (a words-map lookup, plus the ignore
    pattern); at d > 0 a batch's cell queries resolve in ONE vectorized
    verify call first, and the resolution cache persists across
    batches."""
    idx_bc, key = neighborhood.fuzzy_index_broadcast(
        spark, dictionary, max_edit_distance, dictionary.config.prefix_length
    )

    def resolvers():
        resolver = neighborhood.worker_resolver(
            idx_bc,
            key,
            engine.kernel,
            engine.transpositions,
            ign_pat=ignore_pattern,
        )
        if not max_edit_distance:
            return lambda pdf: resolver.probe

        def answers(pdf):
            resolver.prepare(cell_queries(pdf["phrase"], max_word_len))
            return resolver.get

        return answers

    return resolvers


def _with_answer_map(
    live: DataFrame,
    dictionary: SparkDictionary,
    max_edit_distance: int,
    max_word_len: int,
    ignore_pattern: str | None,
) -> DataFrame:
    """The relational route's input: ``live`` plus an ``answers`` map
    from each of its phrase's distinct cell queries to their
    ``lookup_batch_relational`` TOP answer (unanswered queries are
    absent). The maps key on the phrase, so duplicate texts share one
    and null doc ids need no special case."""

    def emit(batches):
        for pdf in batches:
            rows = [
                (phrase, q)
                for phrase in pdf["phrase"]
                for q in cell_queries((phrase,), max_word_len)
            ]
            yield pd.DataFrame(rows, columns=["phrase", "query"])

    # hash-partitioned by query, so the lookup's distinct and the join
    # back both read this one exchange and the Python pass runs once
    cells = live.select("phrase").mapInPandas(
        emit, schema="phrase string, query string"
    ).repartition("query")
    lut = lookup_batch_relational(
        cells,
        dictionary,
        Verbosity.TOP,
        max_edit_distance=max_edit_distance,
        ignore_pattern=ignore_pattern,
    )
    answers = (
        cells.join(lut, "query")
        .groupBy("phrase")
        .agg(
            F.map_from_entries(
                F.collect_set(
                    F.struct("query", F.struct("term", "distance", "count"))
                )
            ).alias("answers")
        )
    )
    return live.join(answers, "phrase", "left")


def _map_resolvers():
    """The relational route's ``resolvers``: each batch answers from
    its documents' ``answers`` maps."""
    return lambda pdf: neighborhood.merged_answers(pdf["answers"]).get


def cell_queries(phrases, max_word_len: int) -> set:
    """Every distinct cell query of ``phrases`` (the reference's space
    accounting, symspellpy.py:925-942)."""
    ws = _WS_RE
    todo = set()
    add = todo.add
    for phrase in phrases:
        if not phrase:
            continue
        n_j = len(phrase)
        if phrase.isascii() and ws.search(phrase) is None:
            # cell queries are plain slices of the lowered phrase
            # (same guard as _segment_phrase_ascii)
            low = phrase.lower()
            for j in range(n_j):
                imax = min(n_j - j, max_word_len) + j + 1
                for e in range(j + 1, imax):
                    add(low[j:e])
            continue
        for j in range(n_j):
            imax = min(n_j - j, max_word_len)
            for i in range(1, imax + 1):
                raw = phrase[j : j + i]
                if ws.match(raw[:1]):
                    raw = raw[1:]
                add(raw.replace(" ", "").lower())
    return todo


def _segment_phrase(
    phrase: str,
    resolve,
    max_word_len: int,
    n_const: float,
    log10_n: float,
) -> tuple[str, str, int, float]:
    """The reference's triangular DP over one phrase
    (symspellpy.py:925-1013), parameterized by ``resolve(query) ->
    (s_term, s_dist, s_count) | None`` — the resolver's d = 0 probe or
    its TOP lookup, or a relational answer map."""
    ws = _WS_RE
    punct = _PUNCT
    n_j = len(phrase)
    # ASCII whitespace-free fast path (the overwhelming cell shape for
    # glued web tokens): every cell then has lead=False, separator_len=1,
    # spaces_removed=0, part == raw slice and query == lower slice, so
    # the per-cell match/replace/lower collapses to two slices of
    # precomputed strings. Restricted to ASCII because str.lower() is
    # only context-free and length-preserving there (final sigma,
    # İ -> i+combining-dot would misalign the precomputed lower).
    if phrase.isascii() and ws.search(phrase) is None:
        return _segment_phrase_ascii(
            phrase, resolve, max_word_len, n_const, log10_n
        )
    array_size = min(max_word_len, n_j)
    comps = [("", "", 0, 0.0)] * array_size
    idx = -1
    for j in range(n_j):
        imax = min(n_j - j, max_word_len)
        for i in range(1, imax + 1):
            raw_part = phrase[j : j + i]
            lead = bool(ws.match(raw_part[:1]))
            part1 = raw_part[1:] if lead else raw_part
            separator_len = 0 if lead else 1
            part = part1.replace(" ", "")
            spaces_removed = len(part1) - len(part)
            query = part.lower()
            res = resolve(query)
            if res is not None:
                s_term, s_dist, s_count = res
                if part[:1] != part[:1].lower():
                    top_result = s_term[:1].upper() + s_term[1:].lower()
                else:
                    top_result = s_term
                top_ed = spaces_removed + s_dist
                top_log_prob = math.log10(float(s_count) / n_const)
            else:
                top_result = part
                top_ed = spaces_removed + len(part)
                top_log_prob = 1.0 - log10_n - float(len(part))
            dest = (i + idx) % array_size
            if j == 0:
                comps[dest] = (part, top_result, top_ed, top_log_prob)
            elif (
                i == max_word_len
                or (
                    comps[dest][2]
                    in (
                        comps[idx][2] + top_ed,
                        comps[idx][2] + separator_len + top_ed,
                    )
                    and comps[dest][3] < comps[idx][3] + top_log_prob
                )
                or comps[idx][2] + separator_len + top_ed < comps[dest][2]
            ):
                if (len(top_result) == 1 and top_result[0] in punct) or (
                    len(top_result) == 2 and top_result.startswith("'")
                ):
                    comps[dest] = (
                        comps[idx][0] + part,
                        comps[idx][1] + top_result,
                        comps[idx][2] + top_ed,
                        comps[idx][3] + top_log_prob,
                    )
                else:
                    comps[dest] = (
                        comps[idx][0] + " " + part,
                        comps[idx][1] + " " + top_result,
                        comps[idx][2] + separator_len + top_ed,
                        comps[idx][3] + top_log_prob,
                    )
        idx = (idx + 1) % array_size
    return comps[idx]


def _segment_phrase_ascii(
    phrase: str,
    resolve,
    max_word_len: int,
    n_const: float,
    log10_n: float,
) -> tuple[str, str, int, float]:
    """ASCII whitespace-free specialization of :func:`_segment_phrase`
    — decision-identical (the general loop with lead=False,
    separator_len=1, spaces_removed=0 constant-folded and the previous
    composition hoisted out of the inner loop)."""
    punct = _PUNCT
    low = phrase.lower()
    n_j = len(phrase)
    array_size = min(max_word_len, n_j)
    comps = [("", "", 0, 0.0)] * array_size
    idx = -1
    for j in range(n_j):
        imax = min(n_j - j, max_word_len)
        prev = comps[idx] if j > 0 else None
        upper_j = phrase[j] != low[j]
        for i in range(1, imax + 1):
            part = phrase[j : j + i]
            res = resolve(low[j : j + i])
            if res is not None:
                s_term, s_dist, s_count = res
                if upper_j:
                    top_result = s_term[:1].upper() + s_term[1:].lower()
                else:
                    top_result = s_term
                top_ed = s_dist
                top_log_prob = math.log10(float(s_count) / n_const)
            else:
                top_result = part
                top_ed = i
                top_log_prob = 1.0 - log10_n - float(i)
            dest = (i + idx) % array_size
            if j == 0:
                comps[dest] = (part, top_result, top_ed, top_log_prob)
            elif (
                i == max_word_len
                or (
                    comps[dest][2]
                    in (prev[2] + top_ed, prev[2] + 1 + top_ed)
                    and comps[dest][3] < prev[3] + top_log_prob
                )
                or prev[2] + 1 + top_ed < comps[dest][2]
            ):
                if (len(top_result) == 1 and top_result[0] in punct) or (
                    len(top_result) == 2 and top_result.startswith("'")
                ):
                    comps[dest] = (
                        prev[0] + part,
                        prev[1] + top_result,
                        prev[2] + top_ed,
                        prev[3] + top_log_prob,
                    )
                else:
                    comps[dest] = (
                        prev[0] + " " + part,
                        prev[1] + " " + top_result,
                        prev[2] + 1 + top_ed,
                        prev[3] + top_log_prob,
                    )
        idx = (idx + 1) % array_size
    return comps[idx]
