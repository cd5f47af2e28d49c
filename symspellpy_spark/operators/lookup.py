"""Batch fuzzy lookup — the engine's read path.

Reference: ``SymSpell.lookup`` (symspellpy.py:358-637). The reference
walks a per-query BFS over delete candidates with a shrinking distance
bound; set-at-a-time the same result is: *every dictionary term that
shares a delete key with the query and verifies within
max_edit_distance*, ranked by (distance ASC, count DESC) with a
verbosity-dependent cut (TOP / CLOSEST / ALL — verbosity.py:24-38).
The sequential bound-shrinking and the pruning cascade
(symspellpy.py:476-576) are DP-avoidance optimizations that do not
change the final ranked set; the two shortcut branches
(candidate_len==0 / suggestion_len==1, symspellpy.py:513-541) assign
exactly the true edit distance for the pairs they can reach, so a
uniform verify-with-kernel produces identical results.

``lookup_batch`` routes every call to one of two result-identical
engines by :func:`~symspellpy_spark.operators.neighborhood.route`, the
routing rule compound and segmentation share:

- worker-local (``num_terms <=
  BROADCAST_VOCAB_LIMIT``): the delete index is built once on the
  driver and broadcast (operators/neighborhood.py); distinct queries
  resolve inside one ``mapInPandas`` pass on the per-worker
  :class:`TopResolver` that compound and segmentation share, cached
  across batches and calls. Measured on 4 cores (TOP, d=2, syllable
  dictionaries of 10k to 500k terms) it beat the warm relational
  engine 6-23x at every size, on a Zipf query stream and on an
  all-distinct one, so the rule needs no repeat-rate term. Its cost is
  the driver-side index build on a dictionary's first call (linear in
  the vocabulary: ~8 s at 80k terms, ~39 s at 500k), paid once per
  dictionary and shared with compound and segmentation;
- relational (:func:`lookup_batch_relational`): the delete-key join
  below, for vocabularies too big to broadcast. The relational routes
  of compound and segmentation call it directly.

Relational plan shape (scale notes):
- queries are deduplicated first (at corpus scale many documents share
  tokens — lookup cost is per *distinct* token);
- the delete-key join broadcasts the dictionary index exactly when the
  vocabulary fits the broadcast limit (the EN index is ~676k rows /
  tens of MB — trivially broadcastable to 1000 executors; the query
  side streams); above it AQE picks the join (for a bucketed index,
  ``SparkDictionary.save_bucketed``, one with no index-side exchange);
- cheap length prunes run as column predicates before the Arrow
  boundary; the DP kernel sees each distinct (query, term) pair once.
"""

from __future__ import annotations

from dataclasses import replace

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from symspellpy_spark.config import Verbosity
from symspellpy_spark.functions.distance import distance_udf
from symspellpy_spark.functions.text import (
    case_transfer_similar_py,
    case_transfer_similar_udf,
)
from symspellpy_spark.operators.deletes import delete_neighborhood
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.neighborhood import (
    Route,
    fuzzy_index_broadcast,
    route,
    worker_resolver,
)
from symspellpy_spark.operators.scoped_cache import persist_scoped

__all__ = ["lookup_batch", "lookup_batch_relational"]


def lookup_batch(
    queries: DataFrame,
    dictionary: SparkDictionary,
    verbosity: Verbosity = Verbosity.TOP,
    max_edit_distance: int | None = None,
    include_unknown: bool = False,
    ignore_pattern: str | None = None,
    transfer_casing: bool = False,
    query_col: str = "query",
) -> DataFrame:
    """Fuzzy-match every (distinct) query against the dictionary.

    Returns ``(query, term, distance, count)`` — ``query`` is the
    caller's original string; ``term`` the suggested dictionary term.
    """
    cfg = dictionary.config
    if max_edit_distance is None:
        max_edit_distance = cfg.max_dictionary_edit_distance
    if max_edit_distance > cfg.max_dictionary_edit_distance:
        raise ValueError("Distance too large")
    args = (
        queries,
        dictionary,
        verbosity,
        max_edit_distance,
        include_unknown,
        ignore_pattern,
        transfer_casing,
        query_col,
    )
    engine = route(dictionary, max_edit_distance)
    if engine.local:
        return _lookup_local(*args, engine)
    return lookup_batch_relational(*args)


def _lookup_local(
    queries: DataFrame,
    dictionary: SparkDictionary,
    verbosity: Verbosity,
    max_edit_distance: int,
    include_unknown: bool,
    ignore_pattern: str | None,
    transfer_casing: bool,
    query_col: str,
    engine: Route,
) -> DataFrame:
    """The worker-local engine: one ``mapInPandas`` pass over the
    queries, hash-partitioned so each distinct query is answered once.

    Lower-casing and the ignore-pattern test run JVM-side, with the
    relational engine's expressions (Java and Python regex and case
    mapping differ on edge characters). TOP reads the resolver's TOP
    mode; CLOSEST and ALL cut its all-matches lists here, then the
    ignore short-circuit, the ALL one-char quirk, ``transfer_casing``
    and ``include_unknown`` apply as in the relational engine.
    """
    d = max_edit_distance
    spark = queries.sparkSession
    idx_bc, key = fuzzy_index_broadcast(
        spark, dictionary, d, dictionary.config.prefix_length
    )

    q = queries.select(F.col(query_col).alias("query")).where(
        F.col("query").isNotNull()
    )
    phrase = F.lower(F.col("query")) if transfer_casing else F.col("query")
    q = q.select("query", phrase.alias("phrase"))
    ignored = (
        F.col("phrase").rlike(f"^(?:{ignore_pattern})")
        if ignore_pattern is not None
        else F.lit(False)
    )
    # a fixed partition count (never coalesced by AQE) keeps the
    # compute-bound kernel on every core, and hash routing puts all
    # copies of a query in one partition, so a per-task seen-set is a
    # global distinct
    para = spark.sparkContext.defaultParallelism
    q = q.select("query", "phrase", ignored.alias("ignored")).repartition(
        para * 2, "query"
    )
    closest = verbosity == Verbosity.CLOSEST

    def run(batches):
        resolver = worker_resolver(
            idx_bc, key, engine.kernel, engine.transpositions
        )
        words = resolver.words
        one_char = (
            [t for t in words if len(t) == 1] if verbosity == Verbosity.ALL else []
        )
        seen: set = set()
        for pdf in batches:
            fresh = []
            for row in zip(pdf["query"], pdf["phrase"], pdf["ignored"]):
                if row[0] not in seen:
                    seen.add(row[0])
                    fresh.append(row)
            # an ignored phrase off the vocabulary answers itself
            # outside ALL (exact hits win, symspellpy.py:413-428)
            short_cut = {
                p for _, p, ign in fresh
                if ign and verbosity != Verbosity.ALL and p not in words
            }
            todo = {p for _, p, _ in fresh} - short_cut
            if verbosity == Verbosity.TOP:
                resolver.prepare(todo)
            else:
                resolver.prepare_matches(todo, closest)
            rows = []
            for query, p, ign in fresh:
                if p in short_cut:
                    hits = [(p, 0, 1)]
                elif verbosity == Verbosity.TOP:
                    top = resolver.get(p)
                    hits = [top] if top is not None else []
                else:
                    hits = resolver.matches(p, closest)
                    if closest and hits:
                        mind = min(h[1] for h in hits)
                        hits = [h for h in hits if h[1] == mind]
                    elif verbosity == Verbosity.ALL:
                        # the one-char duplicate quirk (see the relational
                        # engine) and the ignore row, which under ALL
                        # keeps the fuzzy results
                        hits = list(hits)
                        if len(p) <= d:
                            hits += [
                                (t, len(p), words[t])
                                for t in one_char
                                if t in p and t != p
                            ]
                        if ign:
                            hits.append((p, 0, 1))
                if transfer_casing:
                    hits = [
                        (case_transfer_similar_py(query, t), dist, c)
                        for t, dist, c in hits
                    ]
                if not hits and include_unknown:
                    hits = [(p, d + 1, 0)]
                rows.extend((query, t, dist, c) for t, dist, c in hits)
            yield pd.DataFrame(
                rows, columns=["query", "term", "distance", "count"]
            )

    return q.mapInPandas(
        run, schema="query string, term string, distance int, count long"
    )


def lookup_batch_relational(
    queries: DataFrame,
    dictionary: SparkDictionary,
    verbosity: Verbosity = Verbosity.TOP,
    max_edit_distance: int | None = None,
    include_unknown: bool = False,
    ignore_pattern: str | None = None,
    transfer_casing: bool = False,
    query_col: str = "query",
) -> DataFrame:
    """The relational engine: delete-key join -> verify -> verbosity
    ranks, same contract as :func:`lookup_batch`.

    The index side is broadcast exactly when the vocabulary fits the
    broadcast limit; above it AQE picks the join.
    """
    cfg = dictionary.config
    if max_edit_distance is None:
        max_edit_distance = cfg.max_dictionary_edit_distance
    if max_edit_distance > cfg.max_dictionary_edit_distance:
        raise ValueError("Distance too large")
    engine = route(dictionary, max_edit_distance)
    broadcast_index = engine.local

    q = queries.select(F.col(query_col).alias("query")).where(
        F.col("query").isNotNull()
    ).distinct()
    phrase = F.lower(F.col("query")) if transfer_casing else F.col("query")
    q = q.select("query", phrase.alias("phrase"))

    # ignore_token short-circuit (symspellpy.py:423-428): matching
    # phrases return themselves with count=1 and skip the fuzzy search
    # (except under ALL, where the fuzzy search still runs — but the
    # reference *also* returns early for ALL only after adding the
    # token; it continues searching. We mirror: matching rows keep the
    # injected row and, under ALL, fuzzy results too.)
    ignored = None
    if ignore_pattern is not None:
        is_ignored = F.col("phrase").rlike(f"^(?:{ignore_pattern})")
        vocab_terms = dictionary.words.select(F.col("term").alias("phrase"))
        if verbosity == Verbosity.ALL:
            # ALL adds the token row *and* keeps searching
            ignored = q.where(is_ignored)
        else:
            # exact dictionary hits win over the ignore short-circuit
            # (symspellpy.py:413-428 ordering)
            ignored = q.where(is_ignored).join(vocab_terms, "phrase", "left_anti")
            q = q.join(ignored.select("query"), "query", "left_anti")
        ignored = ignored.select(
            "query",
            F.col("phrase").alias("term"),
            F.lit(0).alias("distance"),
            F.lit(1).cast("long").alias("count"),
        )

    # global length early-exit (symspellpy.py:408-410)
    q = q.where(
        F.length("phrase") - max_edit_distance <= F.lit(dictionary.max_length)
    )

    if max_edit_distance == 0:
        # membership probe (symspellpy.py:432-433): plain equi-join
        matches = q.join(
            dictionary.words.select(
                F.col("term"), F.col("count")
            ),
            q["phrase"] == F.col("term"),
            "inner",
        ).select("query", "term", F.lit(0).alias("distance"), "count")
    else:
        # A term t with distance(q, t) = k <= d always shares a delete
        # key reachable with <= k deletions on EACH side (every edit
        # consumes at most one deletion per side; the reference's index
        # depth guarantee, symspellpy.py:1038-1068). Two consequences:
        # (a) index keys deeper than max_edit_distance can never witness
        #     a real match -> filter them out before the join;
        # (b) for TOP/CLOSEST a cheap depth<=1 pass finds EVERY term at
        #     distance <= 1; only queries it leaves unresolved need the
        #     full-depth join. This is the set-at-a-time analogue of the
        #     reference's shrinking TOP bound (symspellpy.py:590-609) —
        #     at corpus scale most tokens are correct or one edit off,
        #     so the expensive deep join runs on a small remainder.
        index_all = dictionary.deletes  # (delete_key, term, count)
        key_depth = F.least(
            F.length("term"), F.lit(cfg.prefix_length)
        ) - F.length("delete_key")

        def cand_pairs(
            qdf: DataFrame, bound: int, idx: DataFrame, hint: str | None
        ) -> DataFrame:
            # candidate keys: delete neighborhood of the query prefix up
            # to depth ``bound`` (symspellpy.py:444-450,613-622)
            qcfg = replace(cfg, max_dictionary_edit_distance=bound)
            keys = delete_neighborhood(
                qdf.withColumnRenamed("phrase", "term"), qcfg
            ).select("query", F.col("term").alias("phrase"), "delete_key")
            if hint == "index":
                idx = F.broadcast(idx)
            elif hint == "keys":
                keys = F.broadcast(keys)
            return (
                keys.join(idx, "delete_key", "inner")
                .where(
                    F.abs(F.length("term") - F.length("phrase"))
                    <= F.lit(bound)
                )
                .select("query", "phrase", "term", "count")
                .dropDuplicates(["query", "term"])
            )

        def verified(cand: DataFrame, bound: int) -> DataFrame:
            """distance column within ``bound`` (rows above it dropped).

            Levenshtein runs entirely JVM-side via the built-in banded
            ``levenshtein(l, r, threshold)`` (same -1-above-threshold
            convention as reference editdistance.py:88-100). Damerau-OSA
            uses it as an exact prefilter: OSA == Levenshtein whenever
            Levenshtein <= 1 (OSA only diverges when a transposition
            saves edits, which needs lev >= 2), so only the lev>=2
            remainder crosses the Arrow boundary into the numpy kernel.
            """
            lv = F.levenshtein(F.col("phrase"), F.col("term"), bound)
            if not engine.transpositions:
                out = cand.withColumn("distance", lv).where(
                    F.col("distance") >= 0
                )
            else:
                withlv = cand.withColumn("__lv", lv)
                easy = withlv.where(
                    (F.col("__lv") >= 0) & (F.col("__lv") <= 1)
                ).withColumn("distance", F.col("__lv"))
                dist = distance_udf(comparer=engine.kernel, max_distance=bound)
                hard = (
                    withlv.where((F.col("__lv") < 0) | (F.col("__lv") > 1))
                    .withColumn(
                        "distance", dist(F.col("phrase"), F.col("term"))
                    )
                    .where(F.col("distance") >= 0)
                )
                out = easy.unionByName(hard)
            return out.select(
                "query", "term", F.col("distance").cast("int"), "count"
            )

        if max_edit_distance < cfg.max_dictionary_edit_distance:
            index_all = index_all.where(key_depth <= max_edit_distance)

        staged = (
            verbosity in (Verbosity.TOP, Verbosity.CLOSEST)
            and max_edit_distance >= 2
        )
        if staged:
            near = verified(
                cand_pairs(
                    q,
                    1,
                    dictionary.deletes.where(key_depth <= 1),
                    "index" if broadcast_index else None,
                ),
                1,
            )
            # the shallow pass feeds BOTH the final union and (via the
            # anti-join) the deep pass's probe side — persist it so the
            # diamond computes once. Generation-scoped: each new
            # lookup_batch call unpersists older generations, so repeated
            # calls in a long-lived session keep storage flat (see
            # scoped_cache.py for why localCheckpoint is not an option).
            near = persist_scoped(near, "lookup_batch.near")
            unresolved = q.join(
                near.select("query").distinct(), "query", "left_anti"
            )
            # the deep join's probe side is the unresolved remainder,
            # usually a small fraction — broadcast IT rather than the
            # full index, so the common near-empty case costs a token
            # broadcast plus one scan of the cached index instead of a
            # full-index broadcast build (or shuffle) per action. Above
            # the broadcast limit both joins are left to AQE.
            far = verified(
                cand_pairs(
                    unresolved,
                    max_edit_distance,
                    index_all,
                    "keys" if broadcast_index else None,
                ),
                max_edit_distance,
            )
            matches = near.unionByName(far)
        else:
            matches = verified(
                cand_pairs(
                    q,
                    max_edit_distance,
                    index_all,
                    "index" if broadcast_index else None,
                ),
                max_edit_distance,
            )

        if verbosity == Verbosity.ALL:
            # Reference quirk (symspellpy.py:513-541): the suggestion_len==1
            # branch never registers in considered_suggestions, so under ALL
            # a 1-char dictionary term whose char occurs in a short query
            # (len(phrase) <= max_edit_distance) is emitted a second time by
            # the empty-candidate branch at distance max(len(phrase), 1).
            one_char = F.broadcast(
                dictionary.words.where(F.length("term") == 1)
            )
            dup_rows = (
                q.where(F.length("phrase") <= max_edit_distance)
                .join(
                    one_char,
                    F.instr(F.col("phrase"), F.col("term")) > 0,
                    "inner",
                )
                .where(F.col("term") != F.col("phrase"))
                .select(
                    "query",
                    "term",
                    F.length("phrase").cast("int").alias("distance"),
                    "count",
                )
            )
            matches = matches.unionByName(dup_rows)

    # verbosity cut (symspellpy.py:590-609 re-expressed as ranks)
    if verbosity == Verbosity.TOP:
        w = Window.partitionBy("query").orderBy(
            F.col("distance").asc(), F.col("count").desc(), F.col("term").asc()
        )
        matches = matches.withColumn("__rn", F.row_number().over(w)).where(
            F.col("__rn") == 1
        ).drop("__rn")
    elif verbosity == Verbosity.CLOSEST:
        w = Window.partitionBy("query")
        matches = matches.withColumn(
            "__mind", F.min("distance").over(w)
        ).where(F.col("distance") == F.col("__mind")).drop("__mind")
    else:
        # ALL keeps everything; exact-match rows coexist with fuzzy ones
        pass

    if ignored is not None:
        matches = matches.unionByName(ignored)

    if transfer_casing:
        recase = case_transfer_similar_udf()
        matches = matches.select(
            "query",
            recase(F.col("query"), F.col("term")).alias("term"),
            "distance",
            "count",
        )

    if include_unknown:
        # (phrase, max_ed+1, 0) for queries with no suggestions
        # (symspellpy.py:403-406)
        orig = queries.select(F.col(query_col).alias("query")).where(
            F.col("query").isNotNull()
        ).distinct()
        missing = orig.join(matches, "query", "left_anti").select(
            "query",
            (F.lower(F.col("query")) if transfer_casing else F.col("query")).alias(
                "term"
            ),
            F.lit(max_edit_distance + 1).cast("int").alias("distance"),
            F.lit(0).cast("long").alias("count"),
        )
        matches = matches.unionByName(missing)

    return matches
