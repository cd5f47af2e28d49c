"""The benchmark's two workloads; one runs per process.

``python -m perfbench.workloads --workload NAME --seed N --seconds S
--trace 0|1 --work DIR --result PATH --trace-out PATH`` runs one workload
with scratch space DIR and writes its result as JSON to PATH.
``perfbench/run.py`` is the entry point that supervises this process;
run this module directly only to debug a workload.

Each workload:

1. generates its seeded inputs and writes them to parquet (untimed);
2. starts the Spark session and does its set-up (timed as ``setup_s``);
3. times fresh inputs, one call at a time, until ``--seconds`` of timed
   work have run; with ``--trace 1`` the first half runs untraced and
   the second half traced, and the difference is the tracing overhead;
4. checks every timed output and counts the calls whose check failed.

The traced run of ``dedup_batch`` then drives the streaming layer for
``--seconds`` (``stream_layer``). An end-to-end stream workload spread its
drop-to-commit latency by 0.27-0.51 (IQR/median over ten seeds) on a shared
4-core VM: each run saw only three or four micro-batches.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import pandas as pd
import pyarrow.parquet as pq

from perfbench import checks, inputs as gen
from perfbench.trace import RssSampler, SessionCounters, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOOKUP_MAX_D = 2
LOOKUP_SAMPLE = 8  # distinct queries per lookup call checked by brute force
MIN_RECALL = 0.99


T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class Run:
    """State of one workload run: the session, its timers and results."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    scale: float
    work: str
    session_start_s: float
    tracer: Tracer
    counters: SessionCounters | None = None
    measured_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    latencies: dict[bool, list[float]] = field(default_factory=lambda: {False: [], True: []})
    items: int = 0
    items_s: float = 0.0
    setup_extra_s: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)

    def n(self, base: int) -> int:
        return max(1, int(base * self.scale))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def write(self, df: pd.DataFrame, *parts: str) -> str:
        p = self.path(*parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        df.to_parquet(p, index=False)
        return p

    def write_table(self, df: pd.DataFrame, *parts: str) -> str:
        """Write ``df`` as a directory of 8 parquet files, the shape of a
        real table: the scan then spreads over the cores."""
        for i in range(8):
            self.write(df.iloc[i::8], *parts, f"part-{i:03d}.parquet")
        return self.path(*parts)

    def read(self, p: str):
        return self.spark.read.parquet(p)

    def rounds(self):
        """Yield ``(k, traced)`` until ``seconds`` of timed work ran.

        Untraced runs give the whole budget to untraced calls. Traced
        runs give half to untraced calls and half to traced ones, at
        least one call each."""
        k = 0
        halves = [(False, self.seconds / 2), (True, self.seconds)] if self.trace else [(False, self.seconds)]
        for traced, until in halves:
            self.tracer.enabled = traced
            if traced and self.counters is not None:
                self.counters.skip()
            first = True
            while first or self.measured_s < until:
                first = False
                yield k, traced
                k += 1
        self.tracer.enabled = self.trace

    def check(self, ok: bool) -> None:
        """Count one timed operation, failed unless its check passed."""
        self.attempted += 1
        if not ok:
            self.failed += 1

    def take(self, phase: str) -> None:
        if self.tracer.enabled and self.counters is not None:
            self.counters.take(phase)


# ---------------------------------------------------------------- dedup_batch


def dedup_batch(run: Run) -> None:
    """North-star batch job: pages -> near-duplicate clusters."""
    from symspellpy_spark.plans.pipeline import (
        CANDIDATE_SOURCES,
        DedupConfig,
        DedupPipeline,
    )

    n_docs, n_warm = run.n(2000), run.n(300)
    warm = gen.pages(run.seed, gen.PAGES + gen.WARMUP, 0, n_warm)
    warm_path = run.write_table(warm.pages, "warm", "pages")

    def job(pages_path: str, out: str, traced: bool) -> DedupPipeline:
        # per-stage row counts are extra jobs: only the traced run pays
        pl = DedupPipeline(run.spark, DedupConfig(), collect_metrics=traced)
        pages = run.read(pages_path)
        if not traced:
            pl.clusters(pages).write.parquet(out)
            return pl
        tr = run.tracer
        with tr.span("pipeline.signatures"):
            pl.signatures(pages).count()
        run.take("dedup")
        # signatures are memoized now, so this times candidate
        # generation alone
        with tr.span("pipeline.candidates"):
            pl.candidate_pairs(pages).count()
        run.take("dedup")
        # edges() rebuilds the candidate pairs (they are not memoized) and
        # counts them for pl.metrics before it verifies: pipeline.edges_s
        # subtracts the candidates span to leave the verification alone
        with tr.span("pipeline.edges"):
            pl.edges(pages).count()
        run.take("dedup")
        with tr.span("pipeline.clusters"):
            pl.clusters(pages).write.parquet(out)
        run.take("cluster")
        return pl

    t = time.perf_counter()
    job(warm_path, run.path("warm", "clusters"), traced=False)
    run.setup_extra_s = time.perf_counter() - t
    log(f"warm-up job: {run.setup_extra_s:.2f}s")

    recalls, pairs, sources, edges = [], 0.0, {s: 0.0 for s in CANDIDATE_SOURCES}, 0.0
    for k, traced in run.rounds():
        p = gen.pages(run.seed, gen.PAGES, k, n_docs)
        pages_path = run.write_table(p.pages, f"t{k}", "pages")
        out = run.path(f"t{k}", "clusters")
        with run.tracer.span("pipeline.job", docs=n_docs) as sp:
            pl = job(pages_path, out, traced)
        run.measured_s += sp.duration
        run.latencies[traced].append(sp.duration)
        log(f"job {k}: {sp.duration:.2f}s")
        if not traced:
            run.items += n_docs
            run.items_s += sp.duration
        recall = checks.cluster_recall(pq.read_table(out).to_pandas(), p.truth)
        recalls.append(recall)
        run.check(recall >= MIN_RECALL)
        if traced:
            m = {(r["stage"], r["metric"]): r["value"] for r in pl.metrics}
            pairs += m.get(("candidates", "rows"), 0.0)
            edges += m.get(("edges", "rows"), 0.0)
            for s in CANDIDATE_SOURCES:
                sources[s] += m.get(("candidates", f"source_{s}_pairs"), 0.0)
        shutil.rmtree(run.path(f"t{k}"), ignore_errors=True)

    tr = run.tracer
    n_traced = max(1, len(run.latencies[True]))
    run.layer.update(
        {
            "pipeline.signatures_s": median(tr.durations("pipeline.signatures")),
            "pipeline.candidates_s": median(tr.durations("pipeline.candidates")),
            "pipeline.edges_s": median(
                [e - c for e, c in zip(tr.durations("pipeline.edges"), tr.durations("pipeline.candidates"))]
            ),
            "pipeline.clusters_s": median(tr.durations("pipeline.clusters")),
            "pipeline.candidate_pairs": pairs / n_traced,
            "pipeline.edges": edges / n_traced,
            "pipeline.verify_yield": edges / pairs if pairs else 0.0,
            "pipeline.dup_pair_recall": min(recalls),
        }
    )
    for s in CANDIDATE_SOURCES:
        run.layer[f"pipeline.candidate_pairs.{s}"] = sources[s] / n_traced
    if run.trace:
        stream_layer(run)


# -------------------------------------------------------------- spell_service


def spell_service(run: Run) -> None:
    """Closed loop, one client: every round sends a fresh batch through
    ``lookup_batch``, ``lookup_compound_batch`` and
    ``word_segmentation_batch`` and waits for each reply."""
    from symspellpy_spark.config import Verbosity
    from symspellpy_spark.operators.compound import lookup_compound_batch
    from symspellpy_spark.operators.dictionary import SparkDictionary
    from symspellpy_spark.operators.lookup import lookup_batch
    from symspellpy_spark.operators.segmentation import word_segmentation_batch

    words = gen.syllable_dictionary(run.seed, run.n(10000))
    dict_path = run.write(words, "dictionary.parquet")
    n_q, n_c, n_s = run.n(10000), run.n(1000), run.n(1000)
    wpd_c, wpd_s = 8, 6
    brute = checks.BruteForceTop(words, LOOKUP_MAX_D)
    tr = run.tracer

    def batch(stream: int, k: int, size_q: int, size_c: int, size_s: int) -> dict:
        tag = f"{'w' if stream else 't'}{k}"
        q = gen.lookup_queries(words, run.seed, gen.LOOKUP + stream, k, size_q)
        c = gen.compound_docs(words, run.seed, gen.COMPOUND + stream, k, size_c, wpd_c)
        s = gen.glued_docs(words, run.seed, gen.SEGMENT + stream, k, size_s, wpd_s)
        return {
            "q": q,
            "c": c,
            "s": s,
            "q_path": run.write(q, tag, "queries.parquet"),
            "c_path": run.write(c, tag, "compound.parquet"),
            "s_path": run.write(s, tag, "glued.parquet"),
        }

    # set-up: the service builds its index once, in a cold session
    with tr.span("dictionary.build") as build:
        d = SparkDictionary.from_words(run.spark, run.read(dict_path)).cache()
        delete_rows = d.deletes.count()
        d.num_terms, d.max_length
    log(f"dictionary build: {build.duration:.2f}s, {delete_rows} delete rows")
    run.take("dictionary")

    def call_lookup(b):
        return lookup_batch(run.read(b["q_path"]), d, Verbosity.TOP, max_edit_distance=LOOKUP_MAX_D).collect()

    def call_compound(b):
        return lookup_compound_batch(run.read(b["c_path"]), d, max_edit_distance=2).collect()

    def call_segment(b):
        return word_segmentation_batch(run.read(b["s_path"]), d, max_edit_distance=0).collect()

    # warm-up on its own input stream: the first call of each endpoint
    # pays JIT, worker start-up and broadcast set-up
    w = batch(gen.WARMUP, 0, run.n(200), run.n(20), run.n(20))
    first = {}
    t = time.perf_counter()
    for name, fn in (("lookup", call_lookup), ("compound", call_compound), ("segmentation", call_segment)):
        t0 = time.perf_counter()
        fn(w)
        first[name] = time.perf_counter() - t0
        log(f"warm-up {name}: {first[name]:.2f}s")
    run.setup_extra_s = build.duration + time.perf_counter() - t
    shutil.rmtree(run.path("w0"), ignore_errors=True)

    calls = {"lookup": [], "compound": [], "segmentation": []}
    submitted = distinct = hits = 0
    for k, traced in run.rounds():
        b = batch(0, k, n_q, n_c, n_s)
        with tr.span("service.round") as rnd:
            with tr.span("lookup.call") as sp:
                rows = call_lookup(b)
            calls["lookup"].append(sp.duration)
            run.take("lookup")
            with tr.span("compound.call") as sp:
                comp = call_compound(b)
            calls["compound"].append(sp.duration)
            run.take("compound")
            with tr.span("segmentation.call") as sp:
                seg = call_segment(b)
            calls["segmentation"].append(sp.duration)
            run.take("segmentation")
        run.measured_s += rnd.duration
        log(f"round {k}: {rnd.duration:.2f}s (lookup {calls['lookup'][-1]:.2f}s)")
        run.latencies[traced].append(rnd.duration)
        if not traced:
            run.items += n_q + n_c * wpd_c + n_s * wpd_s
            run.items_s += rnd.duration

        # lookup: a fixed sample of distinct queries against brute force
        got = {r["query"]: (r["distance"], r["count"]) for r in rows}
        queries = b["q"]["query"]
        uniq = sorted(set(queries))
        submitted += len(queries)
        distinct += len(uniq)
        hits += len(got)
        ok = set(got) <= set(uniq)
        for qy in uniq[:: max(1, len(uniq) // LOOKUP_SAMPLE)][:LOOKUP_SAMPLE]:
            want = brute.top(qy)
            ok &= got.get(qy) == (None if want is None else (want[1], want[2]))
        run.check(ok)
        # compound: exactly one corrected string per document
        run.check(len(comp) == n_c and all(r["term"] is not None for r in comp))
        # segmentation: removing the inserted spaces gives the input back
        text = dict(zip(b["s"]["doc_id"], b["s"]["text"]))
        run.check(
            len(seg) == n_s
            and all(r["segmented_string"].replace(" ", "") == text[r["doc_id"]] for r in seg)
        )
        shutil.rmtree(run.path(f"t{k}"), ignore_errors=True)

    run.layer.update(
        {
            "dictionary.build_s": build.duration,
            "dictionary.delete_keys": float(delete_rows),
            "lookup.call_s.p50": median(calls["lookup"]),
            "lookup.distinct_ratio": distinct / submitted,
            "lookup.hit_ratio": hits / distinct,
            "lookup.qps": submitted / sum(calls["lookup"]),
            "compound.first_call_s": first["compound"],
            "compound.call_s.p50": median(calls["compound"]),
            "compound.docs_per_s": n_c * len(calls["compound"]) / sum(calls["compound"]),
            "segmentation.first_call_s": first["segmentation"],
            "segmentation.call_s.p50": median(calls["segmentation"]),
            "segmentation.docs_per_s": n_s * len(calls["segmentation"]) / sum(calls["segmentation"]),
        }
    )


# --------------------------------------------------------------- stream_dedup


@dataclass
class Drop:
    path: str
    due: float
    dropped: float = 0.0


def _progress_listener(events: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            events.append(
                {
                    "id": str(p.id),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "start": start,
                    "end": start + p.durationMs.get("triggerExecution", 0) / 1000.0,
                    "add_batch_s": p.durationMs.get("addBatch", 0) / 1000.0,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _source_batches(checkpoint: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's offset log."""
    out = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _dir_stats(path: str) -> tuple[int, int]:
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return sum(os.path.getsize(f) for f in files), len(files)


def stream_layer(run: Run) -> None:
    """Open loop: a generator drops page files into the source of
    ``run_incremental_lsh`` on a fixed schedule, whatever the stream's
    progress; each file's latency runs from its scheduled drop to the
    commit of the micro-batch that read it. Fills the ``stream_dedup.*``
    per-layer metrics; every dropped file and the pair recall count as
    checked operations."""
    from symspellpy_spark.streaming.stream_dedup import run_incremental_lsh

    spark, tr = run.spark, run.tracer
    # 30 pages every 0.5 s = 60 pages/s, under a tenth of what one
    # micro-batch commits (3000 rows in a 3.6 s trigger on a shared 4-core
    # VM, >= 800 pages/s). A trigger's cost is nearly all fixed (30-row and
    # 600-row batches both took 2-3.3 s), so the stream keeps up by
    # batching and latency follows the per-batch cost, not a backlog.
    n_hist, per_file, period = run.n(1000), run.n(30), 0.5
    hist = gen.pages(run.seed, gen.STREAM, 0, n_hist, dup_share=0.3, kinds=gen.NEAR_DUP_KINDS)
    run.write_table(hist.pages, "history")
    schema = run.read(run.path("history")).schema

    # live files, written ahead into a staging directory; each copies
    # earlier originals (history or live) or brings new text
    n_files = int(run.seconds / period) + 1
    bases = gen.originals(hist)
    truth, drops = [], []
    for k in range(n_files):
        p = gen.pages(
            run.seed, gen.STREAM, k + 1, per_file, kinds=gen.NEAR_DUP_KINDS, bases=bases, url_prefix="live"
        )
        bases += gen.originals(p)
        truth.append(p.truth)
        drops.append(Drop(run.write(p.pages, "staging", f"drop-{k:05d}.parquet"), 0.0))
    truth = pd.concat(truth, ignore_index=True)
    warm = gen.pages(run.seed, gen.STREAM + gen.WARMUP, 0, per_file, url_prefix="warm")
    warm_path = run.write(warm.pages, "staging", "warm.parquet")

    index, pairs = run.path("index"), run.path("pairs")

    # set-up: build the band index from the history (drain mode)
    t = time.perf_counter()
    q = run_incremental_lsh(
        spark,
        spark.readStream.schema(schema).parquet(run.path("history")),
        index,
        pairs,
        checkpoint=run.path("ckpt-history"),
        available_now=True,
    )
    q.awaitTermination()
    log(f"history index build: {time.perf_counter() - t:.2f}s")

    events: list[dict] = []
    listener = _progress_listener(events)
    spark.streams.addListener(listener)
    src, ckpt = run.path("src"), run.path("ckpt-live")
    os.makedirs(src)
    q = run_incremental_lsh(spark, spark.readStream.schema(schema).parquet(src), index, pairs, checkpoint=ckpt)
    query_id = str(q.id)
    # the live query's first micro-batch plans and starts up: run it on
    # a warm-up file before the schedule starts
    os.rename(warm_path, os.path.join(src, "warm.parquet"))
    deadline = time.time() + 60
    while time.time() < deadline and not any(e["id"] == query_id and e["rows"] > 0 for e in events):
        time.sleep(0.05)
    if run.counters is not None:
        run.counters.skip()

    start = time.time() + 0.5
    for k, d in enumerate(drops):
        d.due = start + k * period

    def generate():
        for d in drops:
            time.sleep(max(0.0, d.due - time.time()))
            os.rename(d.path, os.path.join(src, os.path.basename(d.path)))
            d.dropped = time.time()

    live_index = len(tr.spans)
    with tr.span("stream_dedup.live"):
        gen_thread = threading.Thread(target=generate)
        gen_thread.start()
        gen_thread.join()
        # drain: wait until the micro-batch holding the last file commits
        deadline = time.time() + 60
        while time.time() < deadline:
            done = {e["batch"] for e in events if e["id"] == query_id}
            batches = _source_batches(ckpt)
            if all(batches.get(os.path.basename(d.path)) in done for d in drops):
                break
            time.sleep(0.1)
        q.stop()
    spark.streams.removeListener(listener)
    run.take("stream_dedup")

    commits = {e["batch"]: e["end"] for e in events if e["id"] == query_id}
    batches = _source_batches(ckpt)
    lat = []
    for d in drops:
        b = batches.get(os.path.basename(d.path))
        ok = b in commits
        run.check(ok)
        if ok:
            lat.append(commits[b] - d.due)
    log(f"stream: {len(lat)} of {len(drops)} files committed, latency p50 {median(lat):.2f}s")
    warm_batch = batches.get("warm.parquet")
    triggers = [e for e in events if e["id"] == query_id and e["rows"] > 0 and e["batch"] != warm_batch]

    recall = checks.pair_recall(pq.read_table(pairs).to_pandas(), truth)
    run.check(recall >= MIN_RECALL)

    for e in triggers:
        tr.add("stream_dedup.trigger", e["start"], e["end"], live_index, rows=e["rows"], batch=e["batch"])
    # files dropped but not committed, seen at each drop
    backlog = max(
        sum(1 for o in drops if o.dropped <= d.dropped and commits.get(batches.get(os.path.basename(o.path)), 1e18) > d.dropped)
        for d in drops
    )
    index_bytes, index_files = _dir_stats(index)
    trig_s = [e["end"] - e["start"] for e in triggers]
    run.layer.update(
        {
            "stream_dedup.trigger_s.p50": median(trig_s),
            "stream_dedup.trigger_s.max": max(trig_s, default=0.0),
            "stream_dedup.add_batch_s.p50": median([e["add_batch_s"] for e in triggers]),
            "stream_dedup.batch_rows.p50": median([e["rows"] for e in triggers]),
            "stream_dedup.index_bytes": float(index_bytes),
            "stream_dedup.index_files": float(index_files),
            "stream_dedup.backlog_files": float(backlog),
            "stream_dedup.generator_lag_s": max(d.dropped - d.due for d in drops),
            "stream_dedup.latency_p50_s": median(lat),
            "stream_dedup.latency_p90_s": statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else max(lat, default=0.0),
            "stream_dedup.pair_recall": recall,
        }
    )


WORKLOADS = {
    "dedup_batch": dedup_batch,
    "spell_service": spell_service,
}


def start_spark(work: str):
    from symspellpy_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "perfbench",
        cores=os.cpu_count(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.retainedStages": "10000",
        },
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    a = ap.parse_args(argv)

    t = time.perf_counter()
    spark = start_spark(a.work)
    run = Run(
        spark=spark,
        seed=a.seed,
        seconds=a.seconds,
        trace=bool(a.trace),
        scale=a.scale,
        work=a.work,
        session_start_s=time.perf_counter() - t,
        tracer=Tracer(f"{a.workload}-{a.seed}", bool(a.trace)),
    )
    if run.trace:
        run.counters = SessionCounters(spark)
    log(f"session started: {run.session_start_s:.2f}s")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with RssSampler(jvm_pid) as rss:
            WORKLOADS[a.workload](run)
    finally:
        spark.stop()

    log(f"session stopped; peak RSS {rss.peak_mb:.0f} MB")
    untraced = run.latencies[False]
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "end_to_end": {
            "setup_s": run.session_start_s + run.setup_extra_s,
            "throughput_per_s": run.items / run.items_s,
            "latency_p50_s": median(untraced),
        },
    }
    if run.trace:
        measured = dict(run.layer)
        measured["session.peak_rss_mb"] = rss.peak_mb
        measured["trace.overhead_s"] = median(run.latencies[True]) - median(untraced)
        for phase, vals in run.counters.phases.items():
            for c, v in vals.items():
                measured[f"session.{phase}.{c}"] = v
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            # a layer the workload bypasses did no work and spent no time
            layer = dict.fromkeys((m["name"] for m in json.load(fh)["per_layer"]), 0.0)
        unknown = set(measured) - set(layer)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        layer.update(measured)
        result["per_layer"] = layer
        run.tracer.write(a.trace_out)
    with open(a.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
