"""spark-submit entry point for the near-duplicate pipeline.

Usage (cluster):
    spark-submit --py-files symspellpy_spark.zip jobs/dedup_job.py \
        --input /path/to/pages --output /path/to/out \
        --checkpoint /path/to/ckpt [--threshold 0.7] [--bands 32]

Usage (sandbox smoke, synthesized corpus):
    python jobs/dedup_job.py --synthesize 5000 --output /tmp/out

Reads an (Iceberg-shaped) pages table — any parquet table with
(url, warc_ts, html, text, lang) — runs signatures -> candidates ->
verify -> clusters, writes clusters/edges/metrics parquet, and resumes
from the signature/edge checkpoints if present.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline  # noqa: E402
from symspellpy_spark.session import get_spark  # noqa: E402


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--synthesize", type=int, default=0, help="generate N pages")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--bands", type=int, default=32)
    ap.add_argument("--num-perm", type=int, default=128)
    ap.add_argument("--shingle-k", type=int, default=5)
    ap.add_argument("--max-bucket-size", type=int, default=1000)
    ap.add_argument(
        "--salted-bucket-cap",
        type=int,
        default=None,
        help="hot-band salted tier: buckets up to this size still pair, "
        "via a salted self-join spread over --n-salt tasks",
    )
    ap.add_argument("--n-salt", type=int, default=8)
    ap.add_argument(
        "--survivors",
        action="store_true",
        help="also write the deduplicated corpus (survivors/ — one url "
        "per surviving page: unclustered pages + one deterministic "
        "representative per cluster)",
    )
    ap.add_argument(
        "--use-winnowing",
        action="store_true",
        help="add the winnowing (MOSS) local-match sweep to candidate sources",
    )
    ap.add_argument("--winnow-k", type=int, default=8)
    ap.add_argument("--winnow-window", type=int, default=4)
    ap.add_argument("--cores", default=None)
    args = ap.parse_args(argv)

    spark = get_spark("dedup_job", cores=args.cores)
    if args.synthesize:
        from symspellpy_spark.sources.pages import synthesize_pages

        pages = synthesize_pages(spark, n_docs=args.synthesize).localCheckpoint(
            eager=True
        )
    else:
        pages = spark.read.parquet(args.input)

    cfg = DedupConfig(
        jaccard_threshold=args.threshold,
        bands=args.bands,
        num_perm=args.num_perm,
        shingle_k=args.shingle_k,
        max_bucket_size=args.max_bucket_size,
        salted_bucket_cap=args.salted_bucket_cap,
        n_salt=args.n_salt,
        use_winnowing=args.use_winnowing,
        winnow_k=args.winnow_k,
        winnow_window=args.winnow_window,
    )
    pipe = DedupPipeline(spark, cfg, checkpoint_dir=args.checkpoint)
    t0 = time.perf_counter()
    out = pipe.run(pages)
    out["clusters"].write.mode("overwrite").parquet(
        os.path.join(args.output, "clusters")
    )
    out["edges"].write.mode("overwrite").parquet(os.path.join(args.output, "edges"))
    n_surv = None
    if args.survivors:
        surv_path = os.path.join(args.output, "survivors")
        pipe.survivors(pages).write.mode("overwrite").parquet(surv_path)
        # count the WRITTEN output: counting the logical plan would
        # re-execute the canonical-selection join against pages
        n_surv = spark.read.parquet(surv_path).count()
    # fresh metrics_df: the survivors metric (if any) lands after run()
    pipe.metrics_df().write.mode("overwrite").parquet(
        os.path.join(args.output, "metrics")
    )
    wall = time.perf_counter() - t0
    n = pages.count()
    print(
        json.dumps(
            {
                "docs": n,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n / wall, 1),
                "clusters": out["clusters"].count(),
                "edges": out["edges"].count(),
                **({"survivors": n_surv} if n_surv is not None else {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
