"""Streaming semantic dedup: per-micro-batch SemDeDup (Abbas et al.
2023) against a PERSISTED cluster-assigned vector store — the
embedding-space sibling of streaming/neardup.py: new vectors arriving
on a stream are checked for near-duplicate MEANING against everything
already ingested, not only their own batch.

Index discipline: the coarse centroids are FIT ONCE (first batch, by
the exact-arith fit_centroids_exact, or passed in) and persisted beside
the store — cluster membership must not drift per batch or the
candidate sets stop being comparable. Every vector is multi-assigned to
its ``n_assign`` nearest centroids (the SemDeDup boundary-recall fix);
a pair is compared when the two share ANY assigned cluster.

Per batch, all under the exact-arithmetic contract of
operators/ivf_exact.py:
- intra-batch pairs: semdedup_pairs_exact over the batch with the
  PINNED centers;
- cross-batch pairs: cogrouped applyInPandas on cluster id — one
  (new x stored) _exact_fold_gram block per cluster slice over the
  stored NORMALIZED vectors, never a pair-row join. It is the batch
  operator's arithmetic, so the alert union over a stream equals
  semdedup_pairs_exact over the union bit for bit;
- alerts materialize BEFORE the store update (a vector never matches
  itself through the store); re-delivered batches collapse to one
  alert per unordered pair, exactly like the MinHash guard.

Store layout mirrors neardup.py: ``vectors/`` partitioned by
``ingest_batch`` with dynamic-overwrite idempotence, and the same
``_fold_store`` compaction (committed leafs fold into a fresh
negative-id leaf, checkpoint-aware).

Scale: the shuffle moves each new vector n_assign times keyed on
cluster id; a stored cluster slice must fit one executor (the
SemDeDup operating regime — n_clusters ~ sqrt(N)); store growth is
handled by compact().
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ivf_exact import (
    _exact_fold_gram,
    _query_probes_exact,
    _read_artifact_rows,
    _unit,
    fit_centroids_exact,
    semdedup_pairs_exact,
)
from .neardup import _fold_store


class StreamingSemDedup:
    """Micro-batch semantic-dup guard over a persisted vector store.

    ``process_batch`` returns (new_id, old_id, cosine) alert pairs —
    old_id from any prior batch or the same batch. The vector dimension
    comes from the pinned centroids (or the first batch when fitting).
    """

    def __init__(
        self,
        store_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.97,
        n_clusters: int = 16,
        n_assign: int = 2,
        centers=None,
    ):
        self.vectors_path = os.path.join(store_dir, "vectors")
        self.centroids_path = os.path.join(store_dir, "centroids")
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = float(threshold)
        self.n_clusters = n_clusters
        self.n_assign = n_assign
        self._centers = centers

    def _ensure_centers(self, batch_df: DataFrame, spark: SparkSession):
        """Pin the centroid set: passed in > persisted > fit on the
        first batch (then persisted, so a restart keeps the SAME
        geometry)."""
        if self._centers is None and os.path.isdir(self.centroids_path):
            rows = sorted(
                _read_artifact_rows(spark, self.centroids_path),
                key=lambda r: r["cluster"],
            )
            self._centers = [list(r["centroid"]) for r in rows]
        if self._centers is None:
            dim = batch_df.agg(F.max(F.size(self.vec_col))).first()[0]
            self._centers = fit_centroids_exact(
                batch_df, self.n_clusters, id_col=self.id_col,
                vec_col=self.vec_col, dim=dim,
            )
        if not os.path.isdir(self.centroids_path):
            spark.createDataFrame(
                [
                    (i, [float(x) for x in row])
                    for i, row in enumerate(self._centers)
                ],
                "cluster int, centroid array<double>",
            ).coalesce(1).write.mode("overwrite").parquet(self.centroids_path)
        return self._centers

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        spark = batch_df.sparkSession
        centers = self._ensure_centers(batch_df, spark)
        dim = len(centers[0])

        intra = semdedup_pairs_exact(
            batch_df,
            threshold=self.threshold,
            n_assign=self.n_assign,
            id_col=self.id_col,
            vec_col=self.vec_col,
            dim=dim,
            centers=centers,
        ).select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("old_id"),
            "cosine",
        )

        # LAZY cut (opt r15): two consumers (cross-batch scoring inside
        # the alerts eager checkpoint, then the store write) — the
        # alerts materialization below is the first action and fills
        # these blocks in its own job. Pre-update ordering unchanged.
        un = _unit(batch_df, self.id_col, self.vec_col, "query_id", dim,
                   materialize=True)
        new_assigned = (
            _query_probes_exact(un, centers, self.n_assign, dim)
            .select(
                F.col("query_id").alias("_id"),
                F.col("_qu").alias("_u"),
                F.col("_cl").alias("cluster"),
            )
            .localCheckpoint(eager=False)
        )
        if os.path.isdir(self.vectors_path):
            store = spark.read.parquet(self.vectors_path).select(
                F.col(self.id_col).alias("_id"), "_u", "cluster"
            )
            thr = self.threshold

            def score_cross(key, new_pdf, old_pdf):
                import numpy as np
                import pandas as pd

                if len(new_pdf) == 0 or len(old_pdf) == 0:
                    return pd.DataFrame(
                        {
                            "new_id": pd.Series(dtype="int64"),
                            "old_id": pd.Series(dtype="int64"),
                            "_cos": pd.Series(dtype="float64"),
                        }
                    )
                # the batch operator's arithmetic: left-fold dots of the
                # normalized vectors, thresholded before rounding
                cos = _exact_fold_gram(
                    np.stack(new_pdf["_u"].to_numpy()),
                    np.stack(old_pdf["_u"].to_numpy()),
                )
                ii, jj = np.nonzero(cos >= thr)
                a = new_pdf["_id"].to_numpy()[ii]
                b = old_pdf["_id"].to_numpy()[jj]
                keep = a != b  # re-delivered doc, not a dup
                return pd.DataFrame(
                    {"new_id": a[keep], "old_id": b[keep],
                     "_cos": cos[ii, jj][keep]}
                )

            cross = (
                new_assigned.groupBy("cluster")
                .cogroup(store.groupBy("cluster"))
                .applyInPandas(
                    score_cross, "new_id long, old_id long, _cos double"
                )
                .select(
                    "new_id", "old_id", F.round("_cos", 6).alias("cosine")
                )
            )
            alerts = (
                intra.unionByName(cross)
                .groupBy(
                    F.least("new_id", "old_id").alias("_lo"),
                    F.greatest("new_id", "old_id").alias("_hi"),
                )
                .agg(
                    F.min_by(
                        F.struct("new_id", "old_id", "cosine"),
                        F.col("new_id"),
                    ).alias("_p")
                )
                .select("_p.new_id", "_p.old_id", "_p.cosine")
            )
        else:
            alerts = intra
        alerts = alerts.localCheckpoint(eager=True)  # pre-update snapshot

        (
            new_assigned.withColumnRenamed("_id", self.id_col)
            .withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(self.vectors_path)
        )
        return alerts

    def compact(
        self,
        spark: SparkSession,
        up_to_batch: int | None = None,
        checkpoint_dir: str | None = None,
        target_files: int = 1,
    ) -> dict[str, int]:
        """Fold committed vector-store leafs (same machinery and
        contract as StreamingNearDup.compact)."""
        if checkpoint_dir is not None:
            from ..control import _last_committed_batch

            up_to_batch = _last_committed_batch(checkpoint_dir)
        n = _fold_store(spark, self.vectors_path, up_to_batch, target_files)
        return {self.vectors_path: n} if n else {}
