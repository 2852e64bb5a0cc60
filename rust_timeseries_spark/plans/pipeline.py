"""End-to-end resumable rollup pipeline: batch → tiers → recursion
checkpoints → lineage/metrics.

The orchestration layer the north rule asks for: each ``run_increment``
call ingests one batch of raw sequences, recomputes the dirty day
partitions idempotently (TierStore.merge_increment), records lineage,
and advances the per-key EWMA/ψ watermark so the next run's recursion
continues bit-exactly from checkpointed lags (``Init::FixedVector``
semantics — reference src/duration/core/init.rs:140-144).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import recursion
from .checkpoint import MetaStore
from .tiers import TierStore


class RollupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        keys: list[str] | None = None,
        ts_col: str = "ts",
        value_col: str = "n_tok",
        ewma_alpha: float = 0.3,
    ) -> None:
        self.spark = spark
        self.keys = keys if keys is not None else ["source"]
        self.store = TierStore(spark, base_path, self.keys, ts_col, value_col, epoch=True)
        self.meta = MetaStore(spark, base_path)
        self.ewma_alpha = ewma_alpha

    def run_increment(self, full_raw: DataFrame, batch: DataFrame, run_id: str) -> dict[str, float]:
        """Merge ``batch`` into the tiers, then record lineage, advance the
        watermarks and record metrics. The batch row count and the
        per-day lineage counts are observed on the merge's own jobs
        (the batch scan and the 1h partition write), the watermark
        extent on the previous watermark write, and every store table is
        read through its recorded schema, so the bookkeeping adds no
        counting or schema-inference jobs."""
        from pyspark.sql import Observation

        t0 = time.perf_counter()
        # single-action metrics (round-3 verdict item 9): the batch row
        # count rides the merge job's own scan of ``batch`` via
        # observe() — one job fewer per increment than a separate
        # count() action
        obs = Observation()
        batch = batch.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        days = self.store.merge_increment(full_raw, batch)
        n_batch = int(obs.get["n_rows"])
        # lineage row counts were observed on the 1h partition write
        # itself — no re-read or recount of the stored tier
        self.meta.record_lineage(run_id, "1h", self.store.day_rows)
        self._advance_ewma_watermarks(self.store.read_tier("1h"), dirty_days=days)
        wall = time.perf_counter() - t0
        metrics = {
            "n_batch_rows": float(n_batch),
            "n_dirty_days": float(len(days)),
            "wall_seconds": wall,
            "rows_per_sec": (n_batch / wall) if wall > 0 else 0.0,
        }
        self.meta.record_metrics(run_id, metrics)
        return metrics

    # -- checkpointed EWMA over the 1h tier ----------------------------------

    def _ewma_series(self, t1h: DataFrame) -> DataFrame:
        return t1h.select(
            *self.keys,
            F.col("bucket_ts").alias("t"),
            (F.col("tok_sum").cast("double") / F.col("tok_count")).alias("v"),
        )

    def ewma_full(self, t1h: DataFrame) -> DataFrame:
        return recursion.ewma(self._ewma_series(t1h), self.keys, self.ewma_alpha, order_col="t")

    def _advance_ewma_watermarks(self, t1h: DataFrame, dirty_days: list[int] | None = None) -> None:
        """Store (last_bucket_ts, ψ-lag, duration-lag) per key. With
        p=q=1 the full recursion state is one ψ and one observation.

        INCREMENTAL by default (review r4): when every dirty day is
        strictly after every key's checkpointed watermark (the
        append-only common case), the advance continues the recursion
        from the stored lags over only the fresh buckets
        (``ewma_continue`` — bit-identical to the uninterrupted pass,
        pinned by test_tiers), so the per-increment cost is O(new data)
        instead of O(total history). Late data that re-dirties a day at
        or before any watermark invalidates the downstream ψ path, so
        that case (and the bootstrap) falls back to the full recursion."""
        wm = self.meta.watermarks(self.keys)
        incremental = False
        if dirty_days:
            n_wm, max_wm_day = self.meta.watermark_extent(self.keys)
            incremental = n_wm > 0 and min(dirty_days) > max_wm_day
        if not incremental:
            source = self.ewma_full(t1h)
        else:
            source = self.ewma_continue(t1h)
        w_latest = source.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy(*self.keys).orderBy(F.desc("t"))),
        ).where(F.col("_rn") == 1)
        # recursion state = last ψ and last observation; the seeded
        # kernel's first step then computes ψ_{T+1} = α·x_T + β·ψ_T itself
        rows = w_latest.select(
            *self.keys,
            F.lit("1h").alias("tier"),
            F.col("t").alias("last_bucket_ts"),
            F.array(F.col("psi")).alias("psi_lags"),
            F.array(F.col("v")).alias("dur_lags"),
        )
        if incremental:
            # keys with no fresh buckets keep their previous state — the
            # overwrite must not drop them. (save_watermarks writes the
            # new table beside the old one before swapping it in, so
            # this plan's read of the old table completes first.)
            untouched = wm.join(rows.select(*self.keys), self.keys, "left_anti")
            rows = untouched.select(*rows.columns).unionByName(rows)
        self.meta.save_watermarks(rows)

    def ewma_continue(self, t1h_new: DataFrame) -> DataFrame:
        """EWMA over buckets strictly after each key's watermark, seeded
        from the checkpointed lags — bit-identical to running the full
        series in one pass (tests/test_tiers.py)."""
        wm = self.meta.watermarks(self.keys)
        series = self._ewma_series(t1h_new)
        joined = series.join(wm.select(*self.keys, "last_bucket_ts", "psi_lags", "dur_lags"), self.keys, "left")
        fresh = joined.where(
            F.col("last_bucket_ts").isNull() | (F.col("t") > F.col("last_bucket_ts"))
        )

        alpha = self.ewma_alpha

        def path(pdf: pd.DataFrame) -> dict:
            x = pdf["v"].to_numpy(dtype=np.float64)
            psi_lags = pdf["psi_lags"].iloc[0]
            dur_lags = pdf["dur_lags"].iloc[0]
            if psi_lags is None or (isinstance(psi_lags, float) and np.isnan(psi_lags)):
                pi, di = recursion.seed_init(
                    "sample_mean", 0.0, np.array([alpha]), np.array([1 - alpha]), float(np.mean(x)), 1, 1
                )
            else:
                pi = np.asarray(list(psi_lags), dtype=np.float64)
                di = np.asarray(list(dur_lags), dtype=np.float64)
            psi = recursion.psi_recursion_np(
                x, 0.0, np.array([alpha]), np.array([1 - alpha]), pi, di,
                guards=(float("-inf"), float("inf")),
            )
            return {"t": pdf["t"], "v": x, "psi": psi}

        fields = [fresh.schema["t"], T.StructField("v", T.DoubleType()), T.StructField("psi", T.DoubleType())]
        return recursion.per_key(fresh, self.keys, "t", ["v", "psi_lags", "dur_lags"], fields, path)
