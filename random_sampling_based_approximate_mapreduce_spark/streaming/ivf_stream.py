"""Incremental IVF index maintenance over a vector stream.

The batch IVF path (operators/similarity.train_ivf_centroids) trains its
coarse quantizer once, driver-side, on a bounded sample.  A streaming
corpus needs the quantizer to FOLLOW the data: new vectors arrive per
micro-batch and the centroids drift with them.  This module implements
the standard mini-batch k-means update (Sculley, "Web-Scale K-Means
Clustering", WWW 2010) on Structured Streaming's ``foreachBatch``:

  per micro-batch
    1. DISTRIBUTED assignment of the batch to the current centroids
       (the same Arrow/numpy scorer the batch path uses — no new code
       path to keep correct);
    2. DISTRIBUTED per-cell sufficient statistics: posexplode the
       vectors and aggregate (cell, pos) -> (sum, count).  Map-side
       combine reduces the shuffle to n_centroids x dim rows no matter
       the batch size;
    3. an O(n_centroids x dim) driver collect + per-cell learning-rate
       update  c <- (1-eta) c + eta mean_batch  with  eta = n_batch /
       n_total(cell) — the count-based rate that makes the update an
       EXACT running mean under stationary assignment (tested: one
       centroid over any stream equals the global mean).

Why ``foreachBatch`` and not ``applyInPandasWithState``: the centroid
set is a single global model, so a stateful-operator formulation would
funnel every row through one state key (the exact skew the round-1
streaming dedup guard exists to prevent).  foreachBatch keeps the heavy
work (assign + stats) distributed and moves only the tiny model to the
driver — the same driver/executor split as the batch IVF trainer.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import _as_double, assign_ivf, train_ivf_centroids
from ..sources.tables import parquet_schema


class StreamingIVFIndex:
    """Mini-batch-k-means IVF coarse quantizer updated per micro-batch."""

    def __init__(self, n_centroids: int = 16):
        self.n_centroids = n_centroids
        self.centroids: list[list[float]] | None = None
        self.counts: np.ndarray | None = None
        self.n_seen = 0

    def update(self, batch_df: DataFrame, vec_col: str = "v") -> None:
        """Fold one micro-batch into the index (see module docstring)."""
        batch = batch_df.select(_as_double(F.col(vec_col)).alias("v"))
        if self.centroids is None:
            # cold start: train on the first batch with the batch recipe
            # (bounded sample collect; deterministic)
            first = batch.withColumn("vec_id", F.monotonically_increasing_id())
            self.centroids = train_ivf_centroids(
                first, self.n_centroids, id_col="vec_id", vec_col="v"
            )
            self.counts = np.zeros(len(self.centroids), dtype="int64")

        assigned = assign_ivf(batch, self.centroids, n_probe=1, vec_col="v")
        stats = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        if not stats:
            return
        dim = max(r["pos"] for r in stats) + 1
        sums = np.zeros((len(self.centroids), dim))
        ns = np.zeros(len(self.centroids), dtype="int64")
        for r in stats:
            sums[r["cell"], r["pos"]] = r["s"]
            ns[r["cell"]] = r["n"]
        cents = np.array(self.centroids)
        for cell in range(len(self.centroids)):
            if ns[cell] == 0:
                continue
            self.counts[cell] += ns[cell]
            eta = ns[cell] / self.counts[cell]
            cents[cell] = (1.0 - eta) * cents[cell] + eta * (sums[cell] / ns[cell])
        self.centroids = [[float(x) for x in c] for c in cents]
        self.n_seen += int(ns.sum())


def streaming_ivf_index(
    spark: SparkSession,
    source_dir: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    max_files_per_trigger: int = 1,
) -> StreamingIVFIndex:
    """Maintain a StreamingIVFIndex over a parquet file stream.

    ``availableNow`` + ``maxFilesPerTrigger`` drains the directory in
    deterministic file-order micro-batches, so the learned centroids are
    reproducible for a fixed source layout.  Each call replays the full
    directory into a FRESH model (per-call checkpoint): a reused
    checkpoint would mark the files committed and silently hand back an
    untrained index.
    """
    import tempfile

    schema = parquet_schema(spark, source_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    index = StreamingIVFIndex(n_centroids)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        index.update(batch_df, vec_col=vec_col)

    with tempfile.TemporaryDirectory(prefix="rsmr_ivf_ckpt_") as ckpt:
        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    if index.centroids is None:
        raise RuntimeError(f"no micro-batches arrived from {source_dir}")
    return index


def streaming_ivf_cells_run(spark: SparkSession, sf_dir: str, n_centroids: int = 8) -> DataFrame:
    """Catalog runner: stream the embeddings table through the incremental
    index (multi-file source -> per-batch mini-batch updates), then assign
    the full corpus to the FINAL centroids and return per-cell occupancy.

    Model-state operator — no static SQL mirror exists (the centroids are
    learned); the driver records a rows-only check, and the exactness
    properties (running-mean identity, recall vs batch IVF) are pytest'd.
    """
    import hashlib

    from ..sources.tables import ensure_layout, load

    key = hashlib.md5(f"{sf_dir}|{n_centroids}".encode()).hexdigest()[:10]
    # ensure_layout, not a hand-rolled rename (review r8): the bare
    # rename assumed any OSError meant "a concurrent builder won" and
    # discarded the fresh build — a stale marker-less src dir would
    # then be consumed forever; ensure_layout repairs that case
    src = ensure_layout(
        f"/tmp/rsmr_stream_emb_{key}",
        lambda staging: load(spark, sf_dir, "embeddings")
        .repartitionByRange(4, "vec_id")
        .write.mode("overwrite")
        .parquet(staging),
    )
    index = streaming_ivf_index(spark, src, n_centroids=n_centroids)
    corpus = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    assigned = assign_ivf(corpus, index.centroids, n_probe=1, vec_col="v")
    return assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
