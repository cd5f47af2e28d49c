"""Duplicate clustering: connected components with min-id labels.

``connected_components`` first probes its distinct edges with one
bounded collect (``limit(DRIVER_EDGE_LIMIT + 1)``), then picks a route
from the observed edge count alone:

- **Driver route** (at most ``DRIVER_EDGE_LIMIT`` edges): one
  vectorized numpy pass labels the collected edges (hook roots with
  ``np.minimum.at``, pointer-jump with ``lab = lab[lab]``) and the
  labels come back through ``createDataFrame``. A dedup job's verified
  edges (thousands) take this route: one Spark job for the probe
  instead of two eager checkpoints plus a job per round. On 4 cores
  with a 3g driver it labels 1M random edges in 2.5-5 s and 5M in
  4-7 s (Python peak RSS ~0.8 GB; 10M: 9-11 s, ~1.4 GB), where the
  loop takes 44-47 s at 1M and ran out of memory at 5M.
- **Hash-min loop** (more edges): Spark has no recursive operator, so
  the fixpoint is driven from Python over DataFrames (SURVEY.md §4):
  each round propagates the minimum label across edges and, from round
  3 on, pointer-jumps (label <- label's label); ``localCheckpoint``
  cuts lineage, and convergence is a count of changed labels. The jump
  halves the remaining distance each round, so long near-dup chains
  (partial-overlap docs A~B~C~... from the winnowing/substring sweeps)
  converge in O(log diameter) jobs. The hot-key danger is the
  giant-cluster hub, mitigated by propagating in BOTH directions in one
  shuffle, by AQE skew handling on the joins, and by the jump join
  having exactly one build row per key. The loop stays because it is
  the only route for edge sets larger than driver memory; above the
  limit it pays for the wasted probe too (4-7 s for 5M collected
  edges).

Output labels are stable on both routes: the minimum member id of each
component.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

__all__ = ["DRIVER_EDGE_LIMIT", "connected_components", "select_canonical"]

# Most distinct edges connected_components labels on the driver; above
# it the hash-min loop runs on the cluster (measurements in the module
# docstring).
DRIVER_EDGE_LIMIT = 5_000_000


def select_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "url",
    cluster_col: str = "cluster_id",
    text_col: str = "text",
    keep=None,
) -> DataFrame:
    """The deduplicated corpus: one ``id_col`` row per surviving doc —
    every document in no duplicate cluster, plus exactly ONE
    representative per cluster.

    ``clusters`` maps ``id_col`` -> ``cluster_col`` for clustered docs
    (the shape :func:`connected_components` / ``DedupPipeline.clusters``
    emit). ``keep`` is a struct Column MINIMIZED per cluster to pick the
    representative; the default keeps the longest ``text_col``, ties
    broken by smallest id — deterministic, so reruns and retries select
    the same survivor set.

    Scale shape: representative selection is a single hash aggregation
    (``min(struct(...))`` — partial map-side combine, no window sort,
    no per-cluster explode), and the non-clustered side is a left-anti
    join on the id. Both shuffle on keys the upstream stages already
    partition by.
    """
    if keep is None:
        keep = F.struct(
            (-F.length(F.col(text_col))).alias("p"),
            F.col(id_col).alias("i"),
        )
    member = docs.join(clusters.select(id_col, cluster_col), id_col)
    reps = (
        member.groupBy(cluster_col)
        .agg(F.min(keep).alias("_k"))
        .select(F.col("_k.i").alias(id_col))
    )
    untouched = docs.join(
        clusters.select(id_col), id_col, "left_anti"
    ).select(id_col)
    return untouched.unionByName(reps)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """-> (id, cluster_id) where cluster_id = min id reachable.

    ``vertices`` (one ``id`` column) optionally adds isolated vertices,
    which come back as singleton clusters (cluster_id = id).

    One bounded collect probes the distinct edges: up to
    ``DRIVER_EDGE_LIMIT`` of them are labelled on the driver
    (:func:`_driver_labels`), more run the hash-min loop
    (:func:`_hash_min_labels`). ``max_iterations`` bounds the loop.
    """
    e = (
        edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    probe = e.limit(DRIVER_EDGE_LIMIT + 1).toArrow()
    if probe.num_rows <= DRIVER_EDGE_LIMIT:
        out = _driver_labels(e.sparkSession, probe, e.schema["a"].dataType)
    else:
        out = _hash_min_labels(e, max_iterations)
    if vertices is not None:
        singles = vertices.select("id").distinct().join(out, "id", "left_anti")
        out = out.unionByName(
            singles.select("id", F.col("id").alias("cluster_id"))
        )
    return out


def _driver_labels(spark, edges: pa.Table, id_type) -> DataFrame:
    """Min-id labels of the collected ``(a, b)`` edges, computed in
    numpy: dense ids from ``np.unique`` (sorted, so the smallest dense id
    is the smallest original id), then rounds of hooking each edge's
    larger root under its smaller one (``np.minimum.at``) followed by
    pointer jumping (``lab = lab[lab]``) until every label is a root.
    A round keeps only the edges whose ends still sit in different
    trees, and the loop stops when none is left."""
    a, b = edges.column("a").to_numpy(), edges.column("b").to_numpy()
    ids, dense = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = dense[: len(a)], dense[len(a) :]
    lab = np.arange(len(ids))
    while True:
        la, lb = lab[ea], lab[eb]
        apart = la != lb
        if not apart.any():
            break
        ea, eb, la, lb = ea[apart], eb[apart], la[apart], lb[apart]
        np.minimum.at(lab, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
    schema = StructType(
        [StructField("id", id_type), StructField("cluster_id", id_type)]
    )
    return spark.createDataFrame(
        pa.table({"id": ids, "cluster_id": ids[lab]}), schema
    )


def _hash_min_labels(e: DataFrame, max_iterations: int) -> DataFrame:
    """The hash-min loop over the distinct edge relation ``e`` (columns
    ``a``, ``b``), one Spark job per round. Labels only decrease and
    ``label <= id`` holds throughout, so the pointer jump can only
    tighten. It costs ~20% per round (measured on bench-shaped dup
    graphs), and typical near-dup components converge within three
    one-hop rounds anyway, so it engages only from round 3 on."""
    # undirected: one table with both orientations; propagation becomes a
    # single groupBy instead of two joins
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))

    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    labels = labels.localCheckpoint(eager=True)
    und = und.localCheckpoint(eager=True)

    for it in range(max_iterations):
        # candidate new label per vertex: min over (own, neighbours' labels)
        neigh = (
            und.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("a", "id")
        )
        stepped = labels.join(neigh, "id", "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("_old"),
        )
        if it >= 3:
            # label <- label(label): every label value IS a vertex id
            # (labels start at id and only ever take other vertices'
            # labels), so the build side has exactly one row per key and
            # the jump is a plain equi-join, skew-safe by construction
            ptr = stepped.select(
                F.col("id").alias("_pid"), F.col("label").alias("_plabel")
            )
            stepped = stepped.join(
                ptr, stepped["label"] == ptr["_pid"], "left"
            ).select(
                "id",
                F.coalesce(F.col("_plabel"), F.col("label")).alias("label"),
                "_old",
            )
        # lazy checkpoint: the convergence count below materializes it,
        # so lineage is cut without an extra serial job per iteration
        new_labels = stepped.select(
            "id",
            "label",
            (F.col("label") < F.col("_old")).alias("changed"),
        ).localCheckpoint(eager=False)
        n_changed = new_labels.where(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break

    return labels.select("id", F.col("label").alias("cluster_id"))
