"""End-to-end near-duplicate detection + clustering pipeline.

The north-star job (BASELINE.json): pages -> one fused Arrow kernel
(``text_to_signatures``: tokens, shingles, MinHash, SimHash, LSH bands,
substring grams, text hash) -> candidate pairs -> exact-Jaccard verify
-> connected components -> clusters.

Candidate generation reads the signatures relation, not the text
(only the optional winnowing sweep has its own text pass). LSH bands,
SimHash blocks and substring grams are all key -> id buckets, the shape
of SymSpell's delete index, so one tagged relation carries the three and
ONE capped bucket join pairs them (``signature_candidate_pairs``);
exact-hash groups add star edges to the group minimum, never capped.
A final groupBy folds each pair's sources into one row.

Passing a ``dictionary`` turns on SymSpell token correction: the
kernel's distinct tokens are resolved once with ``lookup_batch`` TOP
(worker-local or relational, as ``neighborhood.route`` picks), and the
kernel hashes each corrected token as its correction, in the signature
pass and in verify's shingle re-derivation alike.

Checkpointing: ``signatures`` and ``edges`` are written as parquet
checkpoint tables (Iceberg-shaped: data + a properties JSON carrying
config and stage lineage); a rerun with the same ``checkpoint_dir``
resumes from the newest complete stage instead of recomputing
(the save_pickle/load_pickle analogue, reference pickle_mixin.py).
Per-stage row counts land in a ``metrics`` table.

Invariant (BASELINE.json input_hint): extracted ``text`` is carried
byte-identically per url — the pipeline only ever *reads* it.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from symspellpy_spark.config import DistanceAlgorithm, Verbosity
from symspellpy_spark.operators.cluster import connected_components
from symspellpy_spark.operators.dedup import (
    exact_duplicates_from_hash,
    jaccard_verify,
    kernel_tokens,
    signature_candidate_pairs,
    text_to_signatures,
    token_correction_map,
    unpack_hashes,
    winnowing_candidate_pairs,
)
from symspellpy_spark.operators.dictionary import SparkDictionary
from symspellpy_spark.operators.lookup import lookup_batch

__all__ = ["DedupConfig", "DedupPipeline"]

# v2: checkpoint format changed incompatibly vs v1 — `id` switched from
# url string to xxhash64 long, signatures carry a precomputed `bands`
# column, and the MinHash/shingle hash families changed. Bumping the
# version invalidates all v1 checkpoints by design (validity is keyed on
# config+version, which would otherwise accept them).
PIPELINE_VERSION = 2

# Candidate-source tags, defined ONCE: candidate_pairs() names each pair's
# sources with these literals, and the per-source metrics tally in
# edges() iterates the same constants — so adding or renaming a source
# cannot silently drop it from metrics.
SRC_LSH = "minhash_lsh"
SRC_SIMHASH = "simhash"
SRC_SUBSTRING = "substring"
SRC_EXACT = "exact"
SRC_WINNOW = "winnowing"
# the sources of signature_candidate_pairs, indexed by its tags 0, 1, 2
BUCKET_SOURCES = (SRC_LSH, SRC_SIMHASH, SRC_SUBSTRING)
CANDIDATE_SOURCES = (*BUCKET_SOURCES, SRC_EXACT)


@dataclass
class DedupConfig:
    shingle_k: int = 5
    num_perm: int = 128
    bands: int = 32
    minhash_seed: int = 1337
    jaccard_threshold: float = 0.7
    simhash_max_hamming: int = 3
    substring_gram_len: int = 40
    # content-defined sampling rate: a shared substring of m chars is
    # missed with (1-1/mod)^(m-gram_len+1) ~ 2e-7 at m=280 chars; halving
    # the rate halves the dominant candidate-stage shuffle
    substring_sample_mod: int = 16
    max_bucket_size: int = 1000
    # hot-band salted tier (north rule: "salted repartitioning for
    # hot-band skew"): buckets with max_bucket_size < size <= this cap
    # still generate pairs, via a salted self-join that spreads one hot
    # bucket's O(size^2) work over n_salt tasks; None keeps the plain
    # drop-over-cap behavior
    salted_bucket_cap: int | None = None
    n_salt: int = 8
    # winnowing local-match sweep (MOSS fingerprints): off by default —
    # LSH + SimHash + substring already cover whole-doc near-dups; turn
    # on to also catch PARTIAL overlap (a shared section >=
    # winnow_window + winnow_k - 1 chars guarantees a candidate pair).
    # Winnowing is deliberately NOT fused into the signature kernel: its
    # fingerprint density is 2/(winnow_window+1) per character — ~1.8-3.2
    # BYTES of int64 fingerprints per text byte at the shipped configs —
    # so carrying them on the signatures relation would make every
    # signature checkpoint/localCheckpoint 2-3x wider than the text it
    # summarizes to save one scan; its own doc-local kernel pass is the
    # cheaper shape at any scale where the checkpoint is ever written.
    use_winnowing: bool = False
    winnow_k: int = 8
    winnow_window: int = 4
    # False (default): a DISK signatures checkpoint stores only
    # (id, minhash packed as 1KB binary, simhash, bands) with zstd —
    # the fat shingle_hashes column (the majority of signature bytes)
    # is re-derived by a shingles-only kernel pass at verify phase 2,
    # where only estimate-surviving pairs ever read it. True restores
    # the legacy full-width checkpoint (pay bytes, skip the re-derive).
    # In-memory runs (no checkpoint_dir) always keep the full row: RAM
    # re-reads are nearly free, so re-deriving would only cost.
    checkpoint_shingles: bool = False
    checkpoint_codec: str = "zstd"

    def to_json(self) -> str:
        d = dict(self.__dict__)
        d["pipeline_version"] = PIPELINE_VERSION
        return json.dumps(d, sort_keys=True)


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: DedupConfig | None = None,
        dictionary: SparkDictionary | None = None,
        checkpoint_dir: str | None = None,
        collect_metrics: bool = True,
    ):
        self.spark = spark
        self.config = config or DedupConfig()
        self.dictionary = dictionary
        self.collect_metrics = collect_metrics
        self.checkpoint_dir = checkpoint_dir
        self.metrics: list[dict] = []
        self._memo: dict[str, DataFrame] = {}
        self._token_map_memo = None
        self._dictionary_digest_memo = None
        if checkpoint_dir is not None:
            from symspellpy_spark.sources.catalog import TableCatalog

            self._catalog = TableCatalog(spark, checkpoint_dir)
        else:
            self._catalog = None

    # ---------------- checkpoint plumbing ----------------

    def _ckpt_path(self, stage: str) -> str | None:
        if self.checkpoint_dir is None:
            return None
        return os.path.join(self.checkpoint_dir, stage)

    def _load_ckpt(self, stage: str) -> DataFrame | None:
        if self._catalog is None:
            return None
        props = self._catalog.properties(stage)
        if (
            props is None
            or props.get("config") != self.config.to_json()
            or props.get("dictionary") != self._dictionary_digest()
        ):
            # absent, or config or dictionary changed -> checkpoint
            # invalid; recompute
            return None
        self._metric(stage, "resumed_from_checkpoint", 1)
        return self._catalog.load(stage)

    def _save_ckpt(self, stage: str, df: DataFrame) -> DataFrame:
        if self._catalog is None:
            return df
        return self._catalog.save(
            df,
            stage,
            {
                "config": self.config.to_json(),
                "dictionary": self._dictionary_digest(),
                "stage": stage,
            },
            compression=self.config.checkpoint_codec,
        )

    def _dictionary_digest(self) -> str:
        """What the correcting dictionary contributes to a checkpoint's
        validity: "none" without one, else a digest of its ``(term,
        count)`` rows and lookup settings — one aggregate job, once per
        pipeline."""
        if self.dictionary is None:
            return "none"
        if self._dictionary_digest_memo is None:
            # order-independent aggregates over the (distinct) terms
            row = self.dictionary.words.agg(
                F.count(F.lit(1)),
                F.bit_xor(F.xxhash64("term", "count")),
                F.sum(F.hash("term", "count").cast("long")),
            ).first()
            cfg = self.dictionary.config
            self._dictionary_digest_memo = json.dumps(
                [
                    *row,
                    DistanceAlgorithm(cfg.distance_algorithm).value,
                    cfg.max_dictionary_edit_distance,
                    cfg.prefix_length,
                ]
            )
        return self._dictionary_digest_memo

    def _metric_count(
        self, stage: str, df: DataFrame, sources: list[str] | None = None
    ) -> None:
        """Row-count + per-partition lineage metrics — extra jobs;
        skipped when metrics are off (e.g. throughput benchmarking,
        where the caller counts anyway).

        ``sources``: names to tally from an array ``sources`` column —
        folded into the SAME per-partition aggregation (one job, a few
        extra map-side sums), so per-source recall attribution costs no
        additional pass over the relation."""
        if not self.collect_metrics:
            return
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for s in sources or ():
            aggs.append(
                F.sum(F.array_contains("sources", s).cast("long")).alias(
                    f"_src_{s}"
                )
            )
        per_part = (
            df.groupBy(F.spark_partition_id().alias("pid"))
            .agg(*aggs)
            .collect()
        )
        total = 0
        for r in per_part:
            self._metric(stage, f"partition_{r['pid']}_rows", r["_rows"])
            total += r["_rows"]
        self._metric(stage, "rows", total)
        self._metric(stage, "partitions", len(per_part))
        for s in sources or ():
            self._metric(
                stage,
                f"source_{s}_pairs",
                sum(r[f"_src_{s}"] or 0 for r in per_part),
            )

    def _metric(self, stage: str, name: str, value) -> None:
        self.metrics.append(
            {"stage": stage, "metric": name, "value": float(value), "ts": time.time()}
        )

    def metrics_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            self.metrics or [{"stage": "none", "metric": "none", "value": 0.0, "ts": 0.0}],
            "stage string, metric string, value double, ts double",
        )

    # ---------------- stages ----------------

    def _pages64(self, pages: DataFrame) -> DataFrame:
        """(id long, url, text): all internal stages key on
        ``xxhash64(url)`` — every shuffle row then carries an 8-byte id
        instead of a URL string (3-10x narrower candidate/edge shuffles;
        at 10^12 docs you would never shuffle URL strings). Collision
        odds at 10^12 docs are ~3e-2 pairs corpus-wide; urls are joined
        back onto the final outputs from the (id, url) dimension.

        The projection drops ``html`` (usually the widest column) before
        any stage logic; against the engine's real input (an
        Iceberg/parquet pages table) Catalyst pushes this pruning into
        the scan, so repeated consumers re-read only the url/text
        columns.
        """
        return pages.select(
            F.xxhash64(F.col("url")).alias("id"), "url", "text"
        )

    def _id_map(self, pages: DataFrame) -> DataFrame:
        return self._pages64(pages).select("id", "url")

    def _token_map(self, pages: DataFrame):
        """The SymSpell token correction the signature kernel applies
        (``text_to_signatures``' ``token_map``), or None without a
        dictionary.

        Built on first use, once per pipeline: the kernel tokenizer's
        distinct tokens, resolved with ``lookup_batch`` TOP (so
        ``neighborhood.route`` picks the worker-local or the relational
        engine), keeping each token whose suggestion differs from it.
        In-vocabulary tokens suggest themselves at distance 0 and drop
        out; tokens with no suggestion stay as they are."""
        if self.dictionary is None:
            return None
        if self._token_map_memo is None:
            rows = (
                lookup_batch(
                    kernel_tokens(self._pages64(pages)),
                    self.dictionary,
                    Verbosity.TOP,
                )
                .where(F.col("term") != F.col("query"))
                .select("query", "term")
                .collect()
            )
            self._token_map_memo = token_correction_map(
                [(r["query"], r["term"]) for r in rows]
            )
            self._metric("signatures", "corrected_tokens", len(rows))
        return self._token_map_memo

    def signatures(self, pages: DataFrame) -> DataFrame:
        if "signatures" in self._memo:
            return self._memo["signatures"]
        cached = self._load_ckpt("signatures")
        if cached is not None:
            cached = self._unpack_sig(cached)
            self._memo["signatures"] = cached
            return cached
        c = self.config
        # narrow persisted relation (default): shingle_hashes is the
        # majority of signature bytes and its ONLY consumer is verify
        # phase 2 (which re-derives it for estimate survivors), and
        # neither the RDD localCheckpoint nor a parquet scan
        # column-prunes what the checkpoint row carries for the
        # banding/probing consumers. The kernel emits the packed-binary
        # minhash and omits shingles directly — no second Python stage.
        # narrowing applies to DISK checkpoints only: there the 2.5x
        # bytes-per-doc saving is real (written + stored + re-read),
        # while the in-memory localCheckpoint re-reads shingle arrays
        # from executor RAM nearly for free — measured at 60k docs,
        # re-deriving shingles at verify costs +8s of edges time and
        # saves nothing on the in-memory signatures stage
        narrow = (
            self.checkpoint_dir is not None
            and not c.checkpoint_shingles
        )
        # the kernel also emits the substring sample grams (sub_grams)
        # and a 64-bit full-text content hash (text_hash): candidate
        # generation derives the substring + exact sources from the
        # signatures relation, so the batch path reads corpus text ONCE
        # (plus the survivors-only shingle re-derive of narrow-checkpoint
        # runs and winnowing's own pass, if enabled)
        sig = text_to_signatures(
            self._pages64(pages),
            k=c.shingle_k,
            num_perm=c.num_perm,
            seed=c.minhash_seed,
            n_bands=c.bands,
            emit_shingles=not narrow,
            pack_minhash=narrow,
            substring_gram_len=c.substring_gram_len,
            substring_sample_mod=c.substring_sample_mod,
            emit_text_hash=True,
            token_map=self._token_map(pages),
        )
        if self.checkpoint_dir is None:
            sig = sig.localCheckpoint(eager=False)
        sig = self._save_ckpt("signatures", sig)
        sig = self._unpack_sig(sig)
        self._metric_count("signatures", sig)
        self._memo["signatures"] = sig
        return sig

    def _unpack_sig(self, sig: DataFrame) -> DataFrame:
        if "minhash_bin" not in sig.columns:
            return sig
        return sig.select(
            "id",
            unpack_hashes(F.col("minhash_bin")).alias("minhash"),
            "simhash",
            "bands",
            "sub_grams",
            "text_hash",
        )

    def candidate_pairs(self, pages: DataFrame) -> DataFrame:
        """(id_a, id_b, sources): every candidate pair once, with the
        names of the sources that found it.

        All sources read the signatures relation, never the text (a
        signatures-checkpoint resume regenerates candidates without
        touching the pages table), except winnowing, which has its own
        kernel pass. LSH bands, SimHash blocks and substring grams share
        ONE tagged, capped bucket join (``signature_candidate_pairs``).
        Exact-hash groups are star edges to the group minimum, outside
        the bucket cap: an exact-duplicate group is never dropped."""
        c = self.config
        sig = self.signatures(pages)
        tag_names = F.array(*(F.lit(s) for s in BUCKET_SOURCES))
        bucketed = signature_candidate_pairs(
            sig,
            max_hamming=c.simhash_max_hamming,
            max_bucket_size=c.max_bucket_size,
            salted_bucket_cap=c.salted_bucket_cap,
            n_salt=c.n_salt,
        ).select(
            "id_a", "id_b", F.element_at(tag_names, F.col("source") + 1).alias("source")
        )
        exact = (
            exact_duplicates_from_hash(sig)
            .where(F.col("id") != F.col("group_id"))
            .select(
                F.col("group_id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.lit(SRC_EXACT).alias("source"),
            )
        )
        pairs = bucketed.unionByName(exact)
        if c.use_winnowing:
            win = winnowing_candidate_pairs(
                self._pages64(pages),
                k=c.winnow_k,
                window=c.winnow_window,
                id_col="id",
                max_bucket_size=c.max_bucket_size,
                salted_bucket_cap=c.salted_bucket_cap,
                n_salt=c.n_salt,
                count_shared=False,
            ).select("id_a", "id_b", F.lit(SRC_WINNOW).alias("source"))
            pairs = pairs.unionByName(win)
        # a pair shared by several buckets or sources arrives once per
        # bucket; this groupBy is the one deduplicating exchange. Candidate
        # rows are narrow, and AQE would coalesce it to ~1 partition and
        # serialize the dedup — pin a row-balanced partitioning on the
        # group keys (reused by the groupBy)
        pairs = pairs.repartition(
            self.spark.sparkContext.defaultParallelism * 2, "id_a", "id_b"
        )
        return pairs.groupBy("id_a", "id_b").agg(
            F.collect_set("source").alias("sources")
        )

    def edges(self, pages: DataFrame) -> DataFrame:
        if "edges" in self._memo:
            return self._memo["edges"]
        cached = self._load_ckpt("edges")
        if cached is not None:
            self._memo["edges"] = cached
            return cached
        sig = self.signatures(pages)
        pairs = self.candidate_pairs(pages).localCheckpoint(eager=False)
        # per-source recall attribution (a pair found by two sources
        # counts toward both) rides the row-count job — no extra pass
        self._metric_count(
            "candidates",
            pairs,
            sources=list(CANDIDATE_SOURCES)
            + ([SRC_WINNOW] if self.config.use_winnowing else []),
        )
        hashes_df = None
        if "shingle_hashes" not in sig.columns:
            # narrow checkpoint: re-derive the shingle sets in one
            # tokenize+shingle Arrow pass (no MinHash/SimHash/band work);
            # phase 2 joins them only for estimate-surviving pairs. Same
            # kernel and token correction as the signature pass, so the
            # shingles are hash-identical to the ones it dropped
            hashes_df = text_to_signatures(
                self._pages64(pages),
                k=self.config.shingle_k,
                shingles_only=True,
                token_map=self._token_map(pages),
            )
        # two_phase: signatures are checkpointed here, so the extra
        # narrow-minhash join is a cheap re-scan and the fat shingle
        # arrays are only shuffled for pairs that survive the estimate
        verified = jaccard_verify(
            pairs, sig, threshold=self.config.jaccard_threshold, two_phase=True,
            hashes_df=hashes_df
        ).select("id_a", "id_b", "jaccard", "sources")
        # exact-substring / exact-hash pairs are kept even below the
        # Jaccard threshold: containment, not symmetric similarity
        containment = pairs.where(
            F.arrays_overlap(F.col("sources"), F.array(F.lit(SRC_SUBSTRING), F.lit(SRC_EXACT)))
        ).join(verified.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti").select(
            "id_a", "id_b", F.lit(None).cast("double").alias("jaccard"), "sources"
        )
        edges = verified.unionByName(containment)
        if self.checkpoint_dir is None:
            edges = edges.localCheckpoint(eager=False)
        edges = self._save_ckpt("edges", edges)
        self._metric_count("edges", edges)
        self._memo["edges"] = edges
        return edges

    def clusters(self, pages: DataFrame, include_singletons: bool = False) -> DataFrame:
        e = self.edges(pages)
        verts = self._pages64(pages).select("id") if include_singletons else None
        cl = connected_components(e, vertices=verts)
        # map the 8-byte internal ids back to urls for the public output
        # (plain equi-join: AQE broadcasts the small side locally; at
        # 10^12 docs this is a shuffle join and correctly so)
        cl = cl.join(self._id_map(pages), "id").select("url", "cluster_id")
        # the output is narrow (url, cluster_id) but NOT a memoized
        # stage: without a checkpoint every consumer — the metric pass
        # below, a caller's count, survivors() — re-executes the
        # url-map join and the label scan once each
        if self.checkpoint_dir is None:
            cl = cl.localCheckpoint(eager=False)
        self._metric_count("clusters", cl)
        return cl

    def survivors(self, pages: DataFrame) -> DataFrame:
        """The deduplicated corpus: one url per surviving page — every
        page in no duplicate cluster plus one deterministic
        representative per cluster (longest extracted text, ties ->
        smallest url). This is the pipeline's end product for a
        training-data consumer; the text of every surviving url is
        byte-identical to its input row (the pipeline never rewrites
        text)."""
        from symspellpy_spark.operators.cluster import select_canonical

        cl = self.clusters(pages)
        out = select_canonical(pages, cl, id_col="url")
        self._metric_count("survivors", out)
        return out

    def run(self, pages: DataFrame) -> dict[str, DataFrame]:
        clusters = self.clusters(pages)
        return {
            "signatures": self.signatures(pages),
            "edges": self.edges(pages),
            "clusters": clusters,
            "metrics": self.metrics_df(),
        }
