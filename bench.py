"""Benchmark harness.

Runs the engine's headline workloads at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": ..., "unit": "sec", "queries": {...},
"sf": ...}.

Workloads:
- testdata-table queries (index build, fuzzy lookup, ANN top-k,
  sessionization, TPC-H-style rollup) straight from __spark_entry__;
- the flagship near-dup pipeline (signatures -> LSH/SimHash/substring
  candidates -> exact-Jaccard verify -> connected components) over a
  deterministic synthesized Common-Crawl-style corpus sized by sf
  (the testdata documents table has a 31-word vocabulary — too small to
  exercise signature stages), reporting docs/sec AND dup-pair recall
  against the generator's planted truth pairs per dup kind (the north
  rule's >=0.99 criterion, measured at bench scale every full run);
- the composed corpus-assembly job end-to-end (corpus_job_full, with
  --gopher and --dedup-spans stages on) plus per-stage seconds and
  survivor counts.

The pipeline corpus is written to parquet first (untimed) and read back
as the pipeline input — the production shape (the engine's input is an
Iceberg/parquet table of pages), giving columnar pruned scans. A small
warmup corpus runs the full pipeline once beforehand so the timed run
measures the operators, not Janino/JIT compilation of their stages.

Env:
  SPARK_GRAFT_SF_DIR   input dir            (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local parallelism    (default 32)
  BENCH_PIPELINE_DOCS  override corpus size (default 600000*sf)
  BENCH_DOC_TOKENS     min,max tokens/doc   (default 80,400)
  BENCH_REPS           pipeline repetitions (default 2; best is reported)
  BENCH_WORKLOAD_REPS  repetitions per non-pipeline workload (default 2;
                       best is reported). Reps rebuild the operator plan
                       (fresh scoped-cache generation) but keep the JVM,
                       generated-code cache, and worker-local
                       dictionary/cell caches warm — i.e. entries report
                       STEADY-STATE throughput, the shape of a
                       long-running pipeline, not first-query latency
                       with Janino compile time folded in. Raised from
                       single-shot in round 3 for stall robustness (see
                       BASELINE.md: this VM stalls intermittently, and a
                       single-shot entry spanning a stall records the
                       stall, not the engine).
  BENCH_SCRATCH        scratch dir for the parquet corpus
  BENCH_ONLY           "pipeline" -> only the flagship pipeline runs
                       (what scaling_bench measures per level)
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from symspellpy_spark.session import get_spark  # noqa: E402


def host_bw_probe(seconds: float = 5.0) -> int:
    """Single-worker memory-bandwidth probe (the BASELINE.md protocol:
    stream a 64MB uint64 array through a multiply+min for ``seconds``;
    healthy reference reading ~454 reps at 5s). Reported as
    ``host_bw_reps`` in the JSON line so every bench artifact carries
    its own host-health context — cross-run comparisons are only
    meaningful between runs whose probes read similarly (the round-3
    pipeline 'regression' tracked a probe at 20-44% of healthy)."""
    import numpy as np

    a = np.arange(8 * 1024 * 1024, dtype=np.uint64)
    t_end = time.time() + seconds
    reps = 0
    while time.time() < t_end:
        (a * np.uint64(2862933555777941757)).min()
        reps += 1
    return int(reps * (5.0 / seconds))


def run_pipeline(spark, pages, n_docs: int) -> dict[str, float]:
    from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline

    pipe = DedupPipeline(spark, DedupConfig())
    t: dict[str, float] = {}
    t0 = time.perf_counter()
    pipe.signatures(pages).count()
    t1 = time.perf_counter()
    pipe.edges(pages).count()
    t2 = time.perf_counter()
    pipe.clusters(pages).count()
    t3 = time.perf_counter()
    t["pipeline_signatures"] = round(t1 - t0, 3)
    t["pipeline_edges"] = round(t2 - t1, 3)
    t["pipeline_clusters"] = round(t3 - t2, 3)
    t["pipeline_sec"] = round(t3 - t0, 3)
    t["docs_per_sec"] = round(n_docs / (t3 - t0), 1)
    return t


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    n_pages = int(os.environ.get("BENCH_PIPELINE_DOCS", str(int(600_000 * sf))))
    min_tok, max_tok = map(
        int, os.environ.get("BENCH_DOC_TOKENS", "80,400").split(",")
    )
    # default to best-of-2: this VM shows up to 3x wall-clock noise
    # between byte-identical runs, and a single rep records the noise,
    # not the engine
    reps = int(os.environ.get("BENCH_REPS", "2"))
    scratch = os.environ.get(
        "BENCH_SCRATCH",
        ("/dev/shm" if os.path.isdir("/dev/shm") else "/tmp") + "/spark_graft_bench",
    )

    # BENCH_ONLY=pipeline: run just the flagship pipeline (+ corpus
    # synth) — what scaling_bench measures; skipping the fixed-cost
    # workloads keeps multi-level scaling runs tractable
    only_pipeline = os.environ.get("BENCH_ONLY", "") == "pipeline"

    # host-health stamp BEFORE Spark starts competing for the machine
    bw_reps = host_bw_probe()

    spark = get_spark("bench", cores=cpus)

    import __spark_entry__ as E
    from symspellpy_spark.sources.pages import synthesize_pages

    timings: dict[str, float] = {}

    # best-of-N per workload (not just for the pipeline): this VM's
    # noise is not gaussian jitter but intermittent multi-second stalls
    # (hypervisor preemption — measured: the same 5s numpy bandwidth
    # probe returning 8 and 715 aggregate reps minutes apart), so a
    # single-shot entry that spans a stall records the stall, not the
    # engine. Each rep rebuilds the operator plan (fresh scoped-cache
    # generation), so rep 2 is JIT-warm but intermediate-cold — the
    # same thing rep 1 measures after the untimed warmups.
    wreps = int(os.environ.get("BENCH_WORKLOAD_REPS", "2"))

    def timed(name, fn, reps: int | None = None):
        best, out = None, None
        for _ in range(wreps if reps is None else reps):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
        return out

    # untimed warmup at the smallest sf: Janino/codegen compilation of
    # the query shapes, so the first timed entry measures the operator,
    # not the compiler (same treatment the pipeline warmup gets below)
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and not only_pipeline:
        E.q_deletes_index(spark, warm_dir).count()
        E.q_lookup_top(spark, warm_dir).count()

    # --- testdata-table workloads ---
    if not only_pipeline:
        timed("index_build", lambda: E.q_deletes_index(spark, sf_dir).count())
        timed("lookup_top", lambda: E.q_lookup_top(spark, sf_dir).count())
        timed("embedding_topk", lambda: E.q_embedding_topk(spark, sf_dir).count())
        timed(
            "lsh_cosine_topk",
            lambda: E.q_lsh_cosine_topk(spark, sf_dir).count(),
        )
        timed(
            "ivf_cosine_topk",
            lambda: E.q_ivf_cosine_topk(spark, sf_dir).count(),
        )
        timed(
            "semantic_dedup",
            lambda: E.q_semantic_dedup(spark, sf_dir).count(),
        )
        timed(
            "boilerplate_segments",
            lambda: E.q_boilerplate_segments(spark, sf_dir).count(),
        )
        timed(
            "ngram_contamination",
            lambda: E.q_ngram_contamination(spark, sf_dir).count(),
        )
        timed(
            "tfidf_top_terms",
            lambda: E.q_tfidf_top_terms(spark, sf_dir).count(),
        )
        timed("data_mix", lambda: E.q_data_mix(spark, sf_dir).count())
        timed(
            "gopher_repetition",
            lambda: E.q_gopher_repetition(spark, sf_dir).count(),
        )
        timed("sessionize", lambda: E.q_sessionize(spark, sf_dir).count())
        timed("tpch_q1", lambda: E.q_tpch_q1(spark, sf_dir).count())

    # --- reference-comparable lookup workload: TOP correction of
    # deterministic misspellings against the reference's shipped EN
    # dictionary (its benchmark anchor is 107us/lookup single-threaded
    # ~ 9.3k qps; we report batch qps at the same d=2/prefix=7 config) ---
    en_dict = "/root/reference/symspellpy/frequency_dictionary_en_82_765.txt"
    n_q = 0
    if os.path.exists(en_dict) and not only_pipeline:
        from pyspark.sql import functions as F

        from symspellpy_spark.config import Verbosity
        from symspellpy_spark.operators.dictionary import SparkDictionary
        from symspellpy_spark.operators.lookup import lookup_batch

        d = SparkDictionary.load_dictionary(spark, en_dict).cache()
        d.deletes.count()  # index build is timed separately above
        # three deterministic typo variants (two deletions, one
        # transposition) of every dictionary term >= 5 chars: ~222k
        # distinct queries, large enough to amortize per-action plan /
        # broadcast overheads the way a corpus-scale token batch would
        allw = d.words.where(F.length("term") >= 5)
        tail = lambda i: F.expr(f"substring(term, {i}, 2147483647)")  # noqa: E731
        variants = [
            F.concat(F.substring("term", 1, 1), tail(3)),
            F.concat(F.substring("term", 1, 3), tail(5)),
            F.concat(
                F.substring("term", 1, 2),
                F.substring("term", 4, 1),
                F.substring("term", 3, 1),
                tail(5),
            ),
        ]
        queries = (
            allw.select(variants[0].alias("query"))
            .unionByName(allw.select(variants[1].alias("query")))
            .unionByName(allw.select(variants[2].alias("query")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_q = queries.count()
        # rebuild the lookup plan per rep: a fresh lookup_batch call
        # bumps the scoped-cache generation, so reps don't reuse rep 1's
        # persisted intermediates
        timed(
            "lookup_en_batch",
            lambda: lookup_batch(queries, d, Verbosity.TOP).count(),
        )
        timings["lookup_en_queries"] = n_q
        timings["lookup_en_qps"] = round(n_q / timings["lookup_en_batch"], 1)

        # lookup_compound over 20k web-text-like docs (8 tokens, 1-in-8
        # misspelled; reference anchor: 9.89 ms per 97-char sentence,
        # i.e. ~101 docs/sec single-threaded).
        # BENCH_EN_SCALE multiplies the compound/segmentation doc counts
        # (same 8-token doc shape, more docs): the per-doc kernels got
        # fast enough that the default sizes finish in ~2 s, where
        # fixed job overhead — not throughput — dominates a scaling
        # comparison; scaling_bench raises it so each level runs
        # long enough to measure sustained docs/sec
        en_scale = int(os.environ.get("BENCH_EN_SCALE", "1"))
        timings["en_scale"] = en_scale
        from symspellpy_spark.operators.compound import lookup_compound_batch

        pool = (
            d.words.where(F.length("term") >= 6)
            .orderBy(F.desc("count"))
            .limit(16000)
            .withColumn("rn", F.monotonically_increasing_id())
        )
        ctoks = pool.crossJoin(
            spark.range(10 * en_scale).withColumnRenamed("id", "rep")
        ).select(
            F.when(
                (F.col("rn") + F.col("rep")) % 8 == 0,
                F.concat(
                    F.substring("term", 1, 2),
                    F.expr("substring(term, 4, 2147483647)"),
                ),
            )
            .otherwise(F.col("term"))
            .alias("w"),
            ((F.col("rn") * (10 * en_scale) + F.col("rep"))
             % (20000 * en_scale))
            .cast("long")
            .alias("doc_id"),
        )
        cdocs = (
            ctoks.groupBy("doc_id")
            .agg(F.concat_ws(" ", F.collect_list("w")).alias("text"))
            .localCheckpoint(eager=True)
        )
        n_c = cdocs.count()
        timed(
            "compound_en_batch",
            lambda: lookup_compound_batch(cdocs, d, max_edit_distance=2).count(),
        )
        timings["compound_en_docs"] = n_c
        timings["compound_en_docs_per_sec"] = round(
            n_c / timings["compound_en_batch"], 1
        )

        # word_segmentation at d=0 over 20k glued docs (reference
        # anchor: 1.13 ms/op, ~885 docs/sec single-threaded)
        from symspellpy_spark.operators.segmentation import (
            word_segmentation_batch,
        )

        sdocs = (
            pool.crossJoin(
                spark.range(10 * en_scale).withColumnRenamed("id", "rep")
            )
            .select(
                F.col("term").alias("w"),
                ((F.col("rn") * (10 * en_scale) + F.col("rep"))
                 % (20000 * en_scale))
                .cast("long")
                .alias("doc_id"),
            )
            .groupBy("doc_id")
            .agg(F.concat_ws("", F.collect_list("w")).alias("text"))
            .localCheckpoint(eager=True)
        )
        n_s = sdocs.count()
        timed(
            "segmentation_en_batch",
            lambda: word_segmentation_batch(
                sdocs, d, max_edit_distance=0
            ).count(),
        )
        timings["segmentation_en_docs"] = n_s
        timings["segmentation_en_docs_per_sec"] = round(
            n_s / timings["segmentation_en_batch"], 1
        )

        # fuzzy segmentation (d=1) over a 5k-doc subset: cell lookups
        # resolve worker-locally (full-single-delete candidate gen +
        # scan verify); the relational cell-shuffle path runs above
        # neighborhood.BROADCAST_VOCAB_LIMIT
        sdocs_d1 = sdocs.where(
            F.col("doc_id") < 5000 * en_scale
        ).localCheckpoint(eager=True)
        n_s1 = sdocs_d1.count()
        timed(
            "segmentation_en_d1_batch",
            lambda: word_segmentation_batch(
                sdocs_d1, d, max_edit_distance=1
            ).count(),
        )
        timings["segmentation_en_d1_docs"] = n_s1
        timings["segmentation_en_d1_docs_per_sec"] = round(
            n_s1 / timings["segmentation_en_d1_batch"], 1
        )

        # fuzzy segmentation (d=2) over a 500-doc subset — the 28x
        # cell-blowup configuration: every (start, len) substring takes
        # a full depth-2 delete-neighborhood lookup
        sdocs_d2 = sdocs.where(F.col("doc_id") < 500).localCheckpoint(eager=True)
        n_s2 = sdocs_d2.count()
        timed(
            "segmentation_en_d2_batch",
            lambda: word_segmentation_batch(
                sdocs_d2, d, max_edit_distance=2
            ).count(),
        )
        timings["segmentation_en_d2_docs"] = n_s2
        timings["segmentation_en_d2_docs_per_sec"] = round(
            n_s2 / timings["segmentation_en_d2_batch"], 1
        )

    # --- release the EN-dictionary workloads' memory before the
    # flagship pipeline: the cached deletes index, the eager
    # localCheckpoint inputs, the index/words broadcasts, and — the
    # dominant term — 32 reused python workers each holding a
    # deserialized EN dictionary + resolution cache. Left in place they
    # cost the pipeline's Arrow kernels ~10 s (measured: full-bench
    # signatures 17.6-18.2 s vs 4.6-8.2 s pipeline-only on the same
    # host; see BASELINE.md round-4). A real deployment runs these
    # workloads in separate applications — the release makes the
    # one-process bench measure each section, not their interference.
    if n_q:
        from symspellpy_spark.operators.scoped_cache import (
            release_worker_state,
        )

        d.unpersist()
        for df in (queries, cdocs, sdocs, sdocs_d1, sdocs_d2):
            df.unpersist(False)
        release_worker_state(spark)

    # --- flagship pipeline over a synthesized parquet pages table ---
    pages_path = os.path.join(scratch, f"pages_{n_pages}")
    shutil.rmtree(pages_path, ignore_errors=True)
    t0 = time.perf_counter()
    synthesize_pages(
        spark,
        n_docs=n_pages,
        n_base=n_pages // 4,
        seed=42,
        min_tokens=min_tok,
        max_tokens=max_tok,
    ).write.mode("overwrite").parquet(pages_path)
    timings["pages_synth_write"] = round(time.perf_counter() - t0, 3)
    pages = spark.read.parquet(pages_path)

    # warmup: identical stages over a small corpus (JIT/codegen compile)
    warm = synthesize_pages(
        spark, n_docs=4000, n_base=1000, seed=7,
        min_tokens=min_tok, max_tokens=max_tok,
    ).localCheckpoint(eager=True)
    run_pipeline(spark, warm, 4000)

    best: dict[str, float] | None = None
    for _ in range(reps):
        cur = run_pipeline(spark, pages, n_pages)
        if best is None or cur["pipeline_sec"] < best["pipeline_sec"]:
            best = cur
    timings.update(best)

    if not only_pipeline:
        # --- dup-pair recall at bench scale (the north rule's primary
        # criterion, BASELINE.json:2 "dup-pair recall >= 0.99"): the
        # generator's truth pairs joined against the pipeline's cluster
        # assignments, entirely relationally — no driver-side pair sets
        # at 60k docs (the pytest acceptance pins the same number, plus
        # a brute-force-Jaccard variant, at 600 docs where O(n^2) truth
        # is computable; this entry evidences it at bench scale and per
        # dup kind). Deterministic in (seed, n), so one measurement per
        # bench run suffices; skipped under BENCH_ONLY=pipeline so the
        # scaling sweeps stay pure-throughput.
        from pyspark.sql import functions as F

        from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline
        from symspellpy_spark.sources.pages import truth_pairs

        t0 = time.perf_counter()
        _cl = (
            DedupPipeline(spark, DedupConfig())
            .clusters(pages)
            .select("url", "cluster_id")
            .localCheckpoint(eager=True)
        )
        _truth = truth_pairs(pages)
        _joined = (
            _truth.join(
                _cl.select(
                    F.col("url").alias("url_a"), F.col("cluster_id").alias("cid_a")
                ),
                "url_a",
                "left",
            )
            .join(
                _cl.select(
                    F.col("url").alias("url_b"), F.col("cluster_id").alias("cid_b")
                ),
                "url_b",
                "left",
            )
            .withColumn(
                "hit",
                (F.col("cid_a").isNotNull() & (F.col("cid_a") == F.col("cid_b"))).cast(
                    "int"
                ),
            )
        )
        by_kind = {
            r["kind"]: (int(r["hits"]), int(r["total"]))
            for r in _joined.groupBy("kind")
            .agg(F.sum("hit").alias("hits"), F.count("*").alias("total"))
            .collect()
        }
        hits = sum(h for h, _ in by_kind.values())
        total = sum(t for _, t in by_kind.values())
        timings["dup_pair_recall_sec"] = round(time.perf_counter() - t0, 3)
        timings["dup_pair_truth_pairs"] = total
        timings["dup_pair_recall"] = round(hits / total, 5) if total else None
        timings["dup_pair_recall_by_kind"] = {
            k: round(h / t, 5) for k, (h, t) in sorted(by_kind.items())
        }
        _cl.unpersist()
        # --- corpus-prep narrow ops over the full pages table: passage
        # chunking + PII scrub fused in one pass (both zero-exchange
        # projections; one count materializes both), URL dedup as its
        # one hash agg ---
        from symspellpy_spark.operators.corpus_prep import (
            passage_chunks,
            pii_scrub,
            url_dedup,
        )

        timed(
            "corpus_prep_chunks_pii",
            lambda: passage_chunks(
                pii_scrub(pages, id_col="url", keep_all=True),
                id_col="url",
                chunk_tokens=64,
                stride=48,
            ).count(),
        )
        timed(
            "corpus_prep_url_dedup",
            lambda: url_dedup(pages, url_col="url", id_col="url").count(),
        )
        timings["corpus_prep_docs"] = n_pages
        timings["corpus_prep_docs_per_sec"] = round(
            n_pages / timings["corpus_prep_chunks_pii"], 1
        )

        # --- span-level exact-substring dedup (Lee et al. style):
        # corpus-duplicated 8-token grams -> keep-first flagging ->
        # island-merge -> excision, over the full pages table (the
        # near-dup variants share long base-doc spans, so the span
        # structure is real, not hash noise); production xxhash64 gram
        # keys ---
        from symspellpy_spark.operators.corpus_prep import (
            remove_duplicate_spans,
        )

        timed(
            "dup_span_removal",
            lambda: remove_duplicate_spans(
                pages, k=8, id_col="url", text_col="text"
            ).count(),
        )
        timings["dup_span_docs"] = n_pages
        timings["dup_span_docs_per_sec"] = round(
            n_pages / timings["dup_span_removal"], 1
        )

        # --- winnowing local-match sweep (MOSS fingerprints -> pairs) ---
        from pyspark.sql import functions as F

        from symspellpy_spark.operators.dedup import winnowing_candidate_pairs

        # k=16/window=8: the synthetic corpus has a tiny vocabulary, so
        # short grams occur in every doc and pair everything with
        # everything; 16-char grams keep the sweep discriminative (real web
        # text is discriminative at the k=8 default already)
        n_win_target = min(n_pages, 5_000)
        frac = max(1, n_pages // n_win_target)
        win_pages = pages.where(
            F.crc32(F.col("url")) % frac == 0
        ).localCheckpoint(eager=True)
        n_win = win_pages.count()
        timed(
            "winnowing_pairs",
            lambda: winnowing_candidate_pairs(
                win_pages, id_col="url", k=16, window=8
            ).count(),
        )
        timings["winnowing_docs"] = n_win
        timings["winnowing_docs_per_sec"] = round(
            n_win / timings["winnowing_pairs"], 1
        )

        # --- full pipeline WITH the winnowing sweep enabled, over the
        # same subset (use_winnowing adds the kernel fingerprint pass +
        # one more capped bucket join to candidate generation; this
        # entry prices that recall sweep end-to-end vs the default
        # 4-source pipeline) ---
        from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline

        def _run_winnow_pipeline():
            # same collect_metrics setting as run_pipeline (default on),
            # so the 5-source vs 4-source per-doc rates compare
            # like-for-like (the per-source tally rides the row-count
            # job — no extra pass either way)
            pipe = DedupPipeline(
                spark,
                DedupConfig(use_winnowing=True, winnow_k=16, winnow_window=8),
            )
            return pipe.clusters(win_pages).count()

        timed("pipeline_winnow", _run_winnow_pipeline)
        timings["pipeline_winnow_docs"] = n_win
        timings["pipeline_winnow_docs_per_sec"] = round(
            n_win / timings["pipeline_winnow"], 1
        )

        # --- streaming incremental LSH: drain the same corpus subset in 4
        # micro-batches (batch-vs-history band-index probe per batch) ---
        from symspellpy_spark.streaming.stream_dedup import run_incremental_lsh

        n_st_target = min(n_pages, 20_000)
        frac_st = max(1, n_pages // n_st_target)
        st_pages = pages.where(F.crc32(F.col("url")) % frac_st == 0)
        st_src = os.path.join(scratch, "stream_src")
        shutil.rmtree(st_src, ignore_errors=True)
        for i in range(4):
            st_pages.where((F.crc32(F.col("url")) / frac_st).cast("long") % 4 == i).coalesce(
                4
            ).write.mode("overwrite").parquet(f"{st_src}/p{i}")
        n_st = st_pages.count()
        st_schema = spark.read.parquet(f"{st_src}/p0").schema
        st_stream = (
            spark.readStream.schema(st_schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(st_src + "/*")
        )
        st_state = os.path.join(scratch, "stream_state")
        shutil.rmtree(st_state, ignore_errors=True)
        t0 = time.perf_counter()
        q = run_incremental_lsh(
            spark,
            st_stream,
            os.path.join(st_state, "band_index"),
            os.path.join(st_state, "pairs"),
            checkpoint=os.path.join(st_state, "ckpt"),
        )
        q.processAllAvailable()
        q.stop()
        timings["streaming_lsh"] = round(time.perf_counter() - t0, 3)
        timings["streaming_lsh_docs"] = n_st
        timings["streaming_lsh_docs_per_sec"] = round(
            n_st / timings["streaming_lsh"], 1
        )
        shutil.rmtree(st_src, ignore_errors=True)
        shutil.rmtree(st_state, ignore_errors=True)

        # --- streaming winnowing: drain the winnowing subset in 4
        # micro-batches (kernel fingerprints per batch, broadcast probe
        # against the accumulated fingerprint index; the final batch
        # triggers a compaction, so its cost is in the number) ---
        from symspellpy_spark.streaming.stream_dedup import (
            run_incremental_winnowing,
        )

        sw_src = os.path.join(scratch, "swin_src")
        shutil.rmtree(sw_src, ignore_errors=True)
        for i in range(4):
            win_pages.where(
                (F.crc32(F.col("url")) / frac).cast("long") % 4 == i
            ).coalesce(4).write.mode("overwrite").parquet(f"{sw_src}/p{i}")
        sw_schema = spark.read.parquet(f"{sw_src}/p0").schema
        sw_stream = (
            spark.readStream.schema(sw_schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(sw_src + "/*")
        )
        sw_state = os.path.join(scratch, "swin_state")
        shutil.rmtree(sw_state, ignore_errors=True)
        t0 = time.perf_counter()
        q = run_incremental_winnowing(
            spark,
            sw_stream,
            os.path.join(sw_state, "fp_index"),
            os.path.join(sw_state, "pairs"),
            k=16,
            window=8,
            checkpoint=os.path.join(sw_state, "ckpt"),
            compact_every=4,
        )
        q.processAllAvailable()
        q.stop()
        timings["streaming_winnow"] = round(time.perf_counter() - t0, 3)
        timings["streaming_winnow_docs"] = n_win
        timings["streaming_winnow_docs_per_sec"] = round(
            n_win / timings["streaming_winnow"], 1
        )
        shutil.rmtree(sw_src, ignore_errors=True)
        shutil.rmtree(sw_state, ignore_errors=True)

        # --- composed corpus-assembly job END-TO-END with every stage
        # enabled (--gopher + --dedup-spans; VERDICT_r04 Next #3): the
        # url_dedup -> near-dup -> boilerplate -> gopher -> decontam ->
        # span-excision chain over the winnowing subset, so the
        # ASSEMBLY JOB's composite cost is a tracked number, per-stage
        # attributed, not just its stages benched in isolation. The
        # subset (<=5k docs) keeps the Gopher gram fan-out (~9x tokens)
        # within one bench budget; correctness of the composition is
        # pinned separately by the corpus_survivors oracle. single-rep:
        # the near-dup stage inside would otherwise dominate bench wall.
        from jobs.corpus_job import run_corpus_stages

        cj_bench = win_pages.where(
            F.pmod(F.xxhash64("url"), F.lit(50)) == 0
        ).localCheckpoint(eager=True)
        cj_bench.count()

        def _run_corpus_job():
            corpus, m = run_corpus_stages(
                spark,
                win_pages,
                cj_bench,
                gopher=True,
                dedup_spans=8,
            )
            return m

        t0 = time.perf_counter()
        cj_metrics = _run_corpus_job()
        timings["corpus_job_full"] = round(time.perf_counter() - t0, 3)
        timings["corpus_job_full_docs"] = n_win
        timings["corpus_job_full_docs_per_sec"] = round(
            n_win / timings["corpus_job_full"], 1
        )
        for st, sec in cj_metrics["stage_sec"].items():
            timings[f"corpus_job_stage_{st}"] = sec
        timings["corpus_job_survivors"] = {
            k: v for k, v in cj_metrics.items() if k != "stage_sec"
        }


    non_time = (
        # pipeline_sec is the SUM of the three pipeline_* stage timings
        # already present in `timings` — excluding it avoids counting the
        # pipeline twice in total_sec
        "pipeline_sec",
        "docs_per_sec",
        "lookup_en_qps",
        "lookup_en_queries",
        "compound_en_docs",
        "compound_en_docs_per_sec",
        "segmentation_en_docs",
        "segmentation_en_docs_per_sec",
        "segmentation_en_d1_docs",
        "segmentation_en_d1_docs_per_sec",
        "segmentation_en_d2_docs",
        "segmentation_en_d2_docs_per_sec",
        "en_scale",
        "corpus_prep_docs",
        "corpus_prep_docs_per_sec",
        "dup_span_docs",
        "dup_span_docs_per_sec",
        "winnowing_docs",
        "winnowing_docs_per_sec",
        "pipeline_winnow_docs",
        "pipeline_winnow_docs_per_sec",
        "streaming_lsh_docs",
        "streaming_lsh_docs_per_sec",
        "streaming_winnow_docs",
        "streaming_winnow_docs_per_sec",
        "corpus_job_full_docs",
        "corpus_job_full_docs_per_sec",
        "corpus_job_survivors",
        # recall is a correctness figure, not a timing (its measurement
        # cost IS counted, via dup_pair_recall_sec)
        "dup_pair_recall",
        "dup_pair_recall_by_kind",
        "dup_pair_truth_pairs",
    )
    total = round(
        sum(
            v
            for k, v in timings.items()
            if k not in non_time
            # per-stage seconds are components of corpus_job_full,
            # already counted once via that key
            and not k.startswith("corpus_job_stage_")
            and isinstance(v, (int, float))
        ),
        3,
    )
    print(
        json.dumps(
            {
                "metric": "total_sec",
                "value": total,
                "unit": "sec",
                "queries": {
                    k: v for k, v in timings.items()
                    if k not in ("pipeline_sec", "docs_per_sec")
                },
                "sf": sf,
                "cpus": cpus,
                "host_bw_reps": bw_reps,
                "pipeline_docs": n_pages,
                "pipeline_reps": reps,
                "pipeline_sec": best["pipeline_sec"],
                "docs_per_sec": best["docs_per_sec"],
            }
        )
    )
    shutil.rmtree(pages_path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
