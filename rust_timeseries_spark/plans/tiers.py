"""Continuous-aggregate tier store: materialization, incremental
maintenance, retention, compaction.

Physical layout (sandbox = parquet; on a cluster swap the writer for
Iceberg ``writeTo(...).overwritePartitions()`` — same plan shape):

    <base>/tier=1m/  partitioned by bucket_day, source
    <base>/tier=1h/  partitioned by bucket_day, source
    <base>/tier=1d/  partitioned by source

Incremental maintenance is **bucket-aligned recompute**: a new batch of
raw rows touches a set of day partitions; those partitions are
recomputed *from raw* and atomically replaced via dynamic partition
overwrite. This is idempotent by construction — replaying a partially
completed run converges to the same bytes, which is what makes the
pipeline resumable (SURVEY.md §4.3.3-5; the reference's warm-restart
analogue is ``Init::FixedVector``, src/duration/core/init.rs:140-144).
Late data is handled the same way: a late row simply makes its day
partition dirty again.

The dynamic overwrite is an option of the two merge writers, never a
session setting: the caller's other overwrites keep their own mode, and
``materialize_full`` overwrites statically, so a full rebuild drops day
partitions its input no longer covers.

Each tier's schema is recorded when the store writes it and reads go
through it (``spark.read.schema(...)``), which skips the one-task
footer-inference job an unschema'd ``spark.read.parquet(dir)`` runs; a
tier this instance has not written (a store reopened on an existing
directory) is inferred on its first read only. Whole-table rewrites
(the 1d rebuild, ``compact``) are swapped in with ``checkpoint.swap_dir``.

Retention: per-tier TTL deletes whole partitions (the cheap path — no
row rewrites); compaction coalesces small files inside a partition.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import rollup
from .checkpoint import read_recorded, swap_dir

_PARTITION_COLS = {"1m": ["bucket_day"], "1h": ["bucket_day"], "1d": []}


class TierStore:
    """Parquet-backed raw→1m→1h→1d continuous aggregates for one value
    column over one key set."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        keys: list[str] | None = None,
        ts_col: str = "ts",
        value_col: str = "n_tok",
        epoch: bool = True,
    ) -> None:
        self.spark = spark
        self.base = base_path.rstrip("/")
        self.keys = keys if keys is not None else ["source"]
        self.ts_col = ts_col
        self.value_col = value_col
        self.epoch = epoch
        #: schema of each tier, recorded when written or first read
        self._schemas: dict[str, T.StructType] = {}
        #: ``(bucket_day, n_rows)`` of the 1h partitions the last
        #: ``merge_increment`` replaced, observed on its write
        self.day_rows: list[tuple[int, int]] = []

    # -- paths ---------------------------------------------------------------

    def tier_path(self, tier: str) -> str:
        return f"{self.base}/tier={tier}"

    def _with_day(self, tier_df: DataFrame) -> DataFrame:
        if self.epoch:
            day = F.col("bucket_ts") - F.pmod(F.col("bucket_ts"), F.lit(86400))
        else:
            day = F.date_trunc("day", F.col("bucket_ts"))
        return tier_df.withColumn("bucket_day", day)

    @staticmethod
    def _epoch_day(df: DataFrame, col: str) -> Column:
        es = rollup.epoch_seconds(F.col(col), dict(df.dtypes)[col])
        return es - F.pmod(es, F.lit(86400))

    def _write(self, df: DataFrame, tier: str, dynamic: bool = False, path: str | None = None) -> None:
        """Overwrite ``tier`` (or ``path``, a copy to swap in) with ``df``
        and record its schema. ``dynamic`` replaces only the day
        partitions ``df`` has rows for."""
        writer = df.write.mode("overwrite")
        if _PARTITION_COLS[tier]:
            writer = writer.option("partitionOverwriteMode", "dynamic" if dynamic else "static")
            writer = writer.partitionBy(*_PARTITION_COLS[tier])
        writer.parquet(path or self.tier_path(tier))
        self._schemas[tier] = df.schema

    def _read(self, tier: str) -> DataFrame:
        return read_recorded(self.spark, self.tier_path(tier), self._schemas, tier)

    # -- build ---------------------------------------------------------------

    def cascade(self, raw_df: DataFrame) -> dict[str, DataFrame]:
        t1m = rollup.rollup_raw(raw_df, "1m", self.keys, self.ts_col, self.value_col, epoch=self.epoch)
        t1h = rollup.fold_up(t1m, "1h", self.keys, epoch=self.epoch)
        t1d = rollup.fold_up(t1h, "1d", self.keys, epoch=self.epoch)
        return {"1m": t1m, "1h": t1h, "1d": t1d}

    def materialize_full(self, raw_df: DataFrame) -> None:
        """Initial (or full-rebuild) materialization of all tiers. Every
        tier is overwritten whole (static overwrite, whatever the
        session's ``partitionOverwriteMode``), so day partitions
        ``raw_df`` no longer covers are dropped."""
        tiers = self.cascade(raw_df)
        for tier, df in tiers.items():
            out = self._with_day(df) if _PARTITION_COLS[tier] else df
            if _PARTITION_COLS[tier]:
                # cluster by the partition column before the partitioned
                # write (Iceberg's write.distribution-mode=hash): without
                # it every aggregate task opens a file in every day dir
                # it holds rows for — ~32 tasks × |days| tiny files per
                # tier, paid again on every read's listing (guide §6)
                out = out.repartition(*_PARTITION_COLS[tier])
            self._write(out, tier)

    def read_tier(self, tier: str) -> DataFrame:
        df = self._read(tier)
        return df.drop("bucket_day") if "bucket_day" in df.columns else df

    # -- incremental maintenance --------------------------------------------

    def affected_days(self, batch_df: DataFrame) -> list[int]:
        day = self._epoch_day(batch_df, self.ts_col)
        return sorted(r[0] for r in batch_df.select(day.alias("d")).distinct().collect())

    def merge_increment(self, full_raw_df: DataFrame, batch_df: DataFrame) -> list[int]:
        """Recompute the day partitions touched by ``batch_df`` from the
        raw source of truth and atomically replace them (idempotent
        MERGE-equivalent keyed on (keys, bucket_ts)). Returns the days
        replaced; ``self.day_rows`` holds each replaced 1h partition's
        row count, observed on the write itself (a dirty day's partition
        is replaced by exactly the rows written for it).

        At scale ``full_raw_df`` is the Iceberg token table: partition
        pruning reduces the recompute scan to exactly the dirty days.
        """
        self.day_rows = []
        days = self.affected_days(batch_df)
        if not days:
            return days
        dirty_raw = full_raw_df.where(self._epoch_day(full_raw_df, self.ts_col).isin(days))
        tiers = self.cascade(dirty_raw)
        obs = Observation()
        for tier in ("1m", "1h"):
            out = self._with_day(tiers[tier])
            if tier == "1h":
                day = self._epoch_day(out, "bucket_ts")
                out = out.observe(obs, *[F.sum((day == d).cast("long")).alias(str(d)) for d in days])
            # dynamic partition overwrite: only the dirty bucket_day dirs.
            # Clustered by day first — same one-file-per-day write shape
            # as materialize_full (guide §6)
            self._write(out.repartition("bucket_day"), tier, dynamic=True)
        counts = obs.get
        self.day_rows = [(d, int(counts[str(d)])) for d in days if counts[str(d)]]
        # 1d tier is unpartitioned-by-day: rebuild it from the 1h tier
        # (cheap — |sources| × |days| rows)
        t1d = rollup.fold_up(self.read_tier("1h"), "1d", self.keys, epoch=self.epoch)
        tmp = self.tier_path("1d") + "_tmp"
        self._write(t1d, "1d", path=tmp)
        swap_dir(tmp, self.tier_path("1d"))
        return days

    # -- retention & compaction ----------------------------------------------

    def expire(self, tier: str, cutoff_bucket_day: int) -> int:
        """Drop partitions strictly older than the cutoff (epoch s).
        Whole-directory deletes — no row rewrites. Returns #partitions
        dropped.

        Partition directory values are epoch-second ints when the store
        was built with ``epoch=True`` and URL-encoded timestamp strings
        (``2024-01-01 00%3A00%3A00``) with ``epoch=False`` — both are
        parsed; an unparseable value raises instead of silently skipping
        (retention must never no-op)."""
        path = self.tier_path(tier)
        if not _PARTITION_COLS[tier]:
            raise ValueError(f"tier {tier} has no day partitions to expire")
        dropped = 0
        if not os.path.isdir(path):
            return 0
        for name in os.listdir(path):
            if not name.startswith("bucket_day="):
                continue
            day_num = self._parse_partition_day(name.split("=", 1)[1])
            if day_num < cutoff_bucket_day:
                shutil.rmtree(os.path.join(path, name))
                dropped += 1
        return dropped

    @staticmethod
    def _parse_partition_day(day_val: str) -> int:
        """Partition value → epoch seconds. Handles the epoch-bigint
        encoding and the timestamp-string encoding Spark writes for
        ``epoch=False`` stores (URL-escaped, e.g. ``%3A`` for ``:``)."""
        from datetime import datetime, timezone
        from urllib.parse import unquote

        try:
            return int(float(day_val))
        except ValueError:
            pass
        decoded = unquote(day_val)
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d"):
            try:
                return int(datetime.strptime(decoded, fmt).replace(tzinfo=timezone.utc).timestamp())
            except ValueError:
                continue
        raise ValueError(
            f"cannot parse bucket_day partition value {day_val!r}; "
            "retention would silently skip this partition"
        )

    def compact(self, tier: str, target_files_per_partition: int = 1) -> None:
        """Rewrite a tier with coalesced files (Iceberg
        rewrite_data_files analogue). For day-partitioned tiers each
        ``bucket_day`` directory ends with ~``target_files_per_partition``
        files: rows are exchanged on (bucket_day, salt) so each day gets
        that many writing tasks (review r4 — a plain
        ``repartition(N, "bucket_day")`` hashes a whole day to ONE task,
        so the parameter silently did nothing)."""
        df = self._read(tier)
        tmp = self.tier_path(tier) + "_compact"
        n = max(1, int(target_files_per_partition))
        if _PARTITION_COLS[tier]:
            salt_src = [c for c in df.columns if c != "bucket_day"]
            salted = df.withColumn("_salt", F.pmod(F.xxhash64(*salt_src), F.lit(n)))
            out = salted.repartition("bucket_day", "_salt").drop("_salt")
        else:
            out = df.coalesce(n)
        self._write(out, tier, path=tmp)
        swap_dir(tmp, self.tier_path(tier))
