"""Batch word segmentation.

Reference: ``SymSpell.word_segmentation`` (symspellpy.py:867-1015) — a
triangular DP over all (start, length<=max_word_len) substrings with a
circular Composition buffer, where each cell consults a TOP lookup.

Relational shape: the O(n * max_word_len) substring enumeration, space
accounting, and probability scoring are pure Catalyst expressions; the
inner lookups are hoisted into ONE batch ``lookup_batch_relational``
over distinct part strings; only the (inherently sequential,
per-document) DP relax loop runs in ``applyInPandas``. This mirrors the
reference's exact cell ordering and tie-breaking
(symspellpy.py:976-1013). Below the broadcast limit the same DP runs
doc-local in ``mapInPandas`` (see ``word_segmentation_batch``).
"""

from __future__ import annotations

import math
import string as _string
import unicodedata

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from symspellpy_spark.config import Verbosity
from symspellpy_spark.operators import neighborhood
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import lookup_batch_relational

__all__ = ["word_segmentation_batch", "nfkc_strip_hyphens_udf"]


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
    like lookup and compound. Up to ``BROADCAST_VOCAB_LIMIT`` terms the
    DP runs doc-local in ``mapInPandas`` on the per-worker
    :class:`TopResolver` over the dictionary's cached index broadcast
    (operators/neighborhood.py), shared with lookup and compound: at
    d = 0 each cell is one membership probe of the resolver's words
    map; at d > 0 every cell query of a batch resolves in one
    vectorized pass, cached across batches. Above the limit the
    corpus's distinct part strings resolve with
    ``lookup_batch_relational`` and every scored (doc, j, i) cell
    shuffles into a per-document ``applyInPandas`` fold.
    """
    cfg = dictionary.config
    if max_edit_distance is None:
        max_edit_distance = cfg.max_dictionary_edit_distance
    if max_segmentation_word_length is None:
        max_segmentation_word_length = dictionary.max_length
    n_const = float(cfg.corpus_n)
    max_word_len = max_segmentation_word_length

    engine = neighborhood.route(dictionary, max_edit_distance)
    if engine.local:
        return _segmentation_local(
            docs,
            dictionary,
            engine,
            max_edit_distance,
            max_word_len,
            ignore_pattern,
            n_const,
            doc_col,
            text_col,
        )

    norm = nfkc_strip_hyphens_udf()
    docs = docs.select(
        F.col(doc_col).alias("doc_id"), norm(F.col(text_col)).alias("phrase")
    )

    # all (j, i) parts, with the reference's space accounting
    # (symspellpy.py:925-942) done relationally
    parts = (
        docs.where(F.length("phrase") > 0)
        .select(
            "doc_id",
            "phrase",
            F.explode(F.sequence(F.lit(0), F.length("phrase") - 1)).alias("j"),
        )
        .select(
            "doc_id",
            "phrase",
            "j",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.length("phrase") - F.col("j"), F.lit(max_word_len)
                    ),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            "j",
            "i",
            F.expr("substring(phrase, j + 1, i)").alias("raw_part"),
        )
        .withColumn(
            "lead_space", F.substring("raw_part", 1, 1).rlike(r"(?U)^\s")
        )
        .withColumn(
            "part1",
            F.when(
                F.col("lead_space"), F.expr("substring(raw_part, 2, 2147483647)")
            ).otherwise(F.col("raw_part")),
        )
        .withColumn("separator_len", F.when(F.col("lead_space"), 0).otherwise(1))
        .withColumn("part", F.replace(F.col("part1"), F.lit(" "), F.lit("")))
        .withColumn(
            "spaces_removed", F.length("part1") - F.length("part")
        )
        .withColumn("query", F.lower(F.col("part")))
        .drop("raw_part", "part1", "lead_space")
    )

    lut = lookup_batch_relational(
        parts.select("query"),
        dictionary,
        Verbosity.TOP,
        max_edit_distance=max_edit_distance,
        ignore_pattern=ignore_pattern,
    ).select(
        "query",
        F.col("term").alias("s_term"),
        F.col("distance").alias("s_dist"),
        F.col("count").alias("s_count"),
    )

    found = F.col("s_term").isNotNull()
    first_upper = F.substring("part", 1, 1) != F.lower(F.substring("part", 1, 1))
    scored = (
        parts.join(lut, "query", "left")
        .withColumn(
            "top_result",
            F.when(
                found,
                # capitalization retention (symspellpy.py:954-955):
                # Python str.capitalize() = upper first char, lower rest
                F.when(
                    (F.length("part") > 0) & first_upper,
                    F.concat(
                        F.upper(F.substring("s_term", 1, 1)),
                        F.lower(F.expr("substring(s_term, 2, 2147483647)")),
                    ),
                ).otherwise(F.col("s_term")),
            ).otherwise(F.col("part")),
        )
        .withColumn(
            "top_ed",
            F.col("spaces_removed")
            + F.when(found, F.col("s_dist")).otherwise(F.length("part")),
        )
        .withColumn(
            "top_log_prob",
            F.when(
                found, F.log10(F.col("s_count").cast("double") / F.lit(n_const))
            ).otherwise(
                F.lit(1.0)
                - F.log10(F.lit(n_const))
                - F.length("part").cast("double")
            ),
        )
        .select(
            "doc_id",
            "j",
            "i",
            "part",
            "separator_len",
            "top_result",
            "top_ed",
            "top_log_prob",
        )
    )

    punct = set(_string.punctuation)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["j", "i"])
        doc_id = pdf["doc_id"].iloc[0]
        n_j = int(pdf["j"].max()) + 1
        array_size = min(max_word_len, n_j)
        # Composition tuples: (segmented, corrected, distance_sum, log_prob_sum)
        comps = [("", "", 0, 0.0)] * array_size
        idx = -1
        cells = {(int(r.j), int(r.i)): r for r in pdf.itertuples()}
        for j in range(n_j):
            imax = min(n_j - j, max_word_len)
            for i in range(1, imax + 1):
                r = cells[(j, i)]
                part = r.part
                top_result = r.top_result
                top_ed = int(r.top_ed)
                top_log_prob = float(r.top_log_prob)
                separator_len = int(r.separator_len)
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
        seg, corr, dist, logp = comps[idx]
        return pd.DataFrame(
            {
                "doc_id": [doc_id],
                "segmented_string": [seg],
                "corrected_string": [corr],
                "distance_sum": [dist],
                "log_prob_sum": [logp],
            }
        )

    doc_id_type = dict(docs.dtypes)["doc_id"]
    out_schema = (
        f"doc_id {doc_id_type}, segmented_string string, corrected_string string, "
        "distance_sum int, log_prob_sum double"
    )
    result = scored.groupBy("doc_id").applyInPandas(fold, schema=out_schema)
    return _with_empties(result, docs)


def _with_empties(result: DataFrame, docs: DataFrame) -> DataFrame:
    # null, empty or normalized-away phrases produce no part rows; the
    # reference raises on these — we return the empty Composition instead
    # (length(null) is null, so null must be treated as empty explicitly)
    empties = docs.where(F.coalesce(F.length("phrase"), F.lit(0)) == 0).select(
        "doc_id",
        F.lit("").alias("segmented_string"),
        F.lit("").alias("corrected_string"),
        F.lit(0).alias("distance_sum"),
        F.lit(0.0).alias("log_prob_sum"),
    )
    return result.unionByName(empties)


_PUNCT = set(_string.punctuation)
_WS_RE = None  # compiled lazily on executors


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
    its TOP lookup. Every scoring expression mirrors the relational
    route's Catalyst expression, so both routes are bit-identical."""
    import re

    global _WS_RE
    if _WS_RE is None:
        _WS_RE = re.compile(r"\s")
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


def _segmentation_local(
    docs: DataFrame,
    dictionary: SparkDictionary,
    engine: neighborhood.Route,
    max_edit_distance: int,
    max_word_len: int,
    ignore_pattern: str | None,
    n_const: float,
    doc_col: str,
    text_col: str,
) -> DataFrame:
    """The worker-local route: the doc-local DP in ``mapInPandas``,
    each cell resolved on the shared :class:`TopResolver` — the
    semantics of ``lookup_batch`` TOP, ignore_pattern and exact-hit
    short-circuits included.

    The relational route's cost is one distributed
    ``lookup_batch_relational`` over the corpus's distinct substrings —
    O(len * max_word_len) candidate strings per document through a join
    pipeline. Here the index is built ONCE per (dictionary, d) on the
    driver as flat numpy arrays and broadcast, and workers keep the
    deserialized resolver across calls. At d = 0 a cell is one
    ``TopResolver.probe`` (a words-map lookup, plus the ignore pattern);
    at d > 0 a batch's cell queries resolve in ONE vectorized verify
    call first, and the resolution cache persists across batches.
    """
    log10_n = math.log10(n_const)
    idx_bc, key = neighborhood.fuzzy_index_broadcast(
        docs.sparkSession,
        dictionary,
        max_edit_distance,
        dictionary.config.prefix_length,
    )
    norm = nfkc_strip_hyphens_udf()
    prepped = docs.select(
        F.col(doc_col).alias("doc_id"), norm(F.col(text_col)).alias("phrase")
    )
    doc_id_type = dict(prepped.dtypes)["doc_id"]
    out_schema = (
        f"doc_id {doc_id_type}, segmented_string string, corrected_string string, "
        "distance_sum int, log_prob_sum double"
    )

    def cell_queries(phrases, ws) -> set:
        """Every distinct cell query of the batch (the reference's
        space accounting, symspellpy.py:925-942)."""
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

    def run(batches):
        import re

        resolver = neighborhood.worker_resolver(
            idx_bc,
            key,
            engine.kernel,
            engine.transpositions,
            ign_pat=ignore_pattern,
        )
        resolve = resolver.get if max_edit_distance else resolver.probe
        ws = re.compile(r"\s")
        for pdf in batches:
            if max_edit_distance:
                resolver.prepare(cell_queries(pdf["phrase"], ws))
            out = []
            for doc_id, phrase in zip(pdf["doc_id"], pdf["phrase"]):
                if phrase is None or len(phrase) == 0:
                    continue
                seg, corr, dist, logp = _segment_phrase(
                    phrase, resolve, max_word_len, n_const, log10_n
                )
                out.append((doc_id, seg, corr, dist, logp))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "segmented_string",
                    "corrected_string",
                    "distance_sum",
                    "log_prob_sum",
                ],
            )

    live = prepped.where(F.length("phrase") > 0)
    # the kernel is compute-bound (~1 ms/row vs ~100 B/row), so AQE's
    # size-based coalescing would serialize it onto one task; pin a
    # row-balanced partitioning when the input arrives under-partitioned
    para = docs.sparkSession.sparkContext.defaultParallelism
    if live.rdd.getNumPartitions() < para:
        live = live.repartition(para * 2)
    result = live.mapInPandas(run, schema=out_schema)
    return _with_empties(result, prepped)
