"""Checkpoint / lineage / metrics tables for resumable runs.

Three small parquet tables under ``<base>/_meta``:

* ``lineage`` — one row per completed unit of work
  ``(run_id, tier, bucket_day, n_rows, completed_at_run)``; a unit is
  re-run only if absent (the merge itself is idempotent, so replaying a
  half-finished run is safe — lineage only avoids wasted work).
* ``watermark`` — per-key recursion state
  ``(key..., tier, last_bucket_ts, psi_lags array<double>,
  dur_lags array<double>)``: the ψ/EWMA warm-start vector. Seeding the
  next run's kernel with these is exactly the reference's
  ``Init::FixedVector`` resume semantics (src/duration/core/init.rs:
  140-144, SimStart options.rs:450-454) and reproduces the
  uninterrupted ψ path bit-for-bit (tests/test_recursion.py
  ``test_segment_scan_tolerance_parity`` shows exact segment resume).
* ``metrics`` — per-run counters ``(run_id, name, value)``.

Each store records a table's schema when it writes it and reads the
table back through that schema, so a read plans without the footer
inference job ``spark.read.parquet(dir)`` runs; only a table this
instance has not seen yet is inferred (once). Meta rows are built as a
``pyarrow.Table``: ``createDataFrame`` plans it as a local relation,
where a list of tuples becomes a Python RDD (about 2.5× slower per
append, with or without Arrow enabled in the session).

Tables that are replaced whole (the watermark here, the 1d tier and
compaction in plans/tiers.py) go through ``swap_dir``: the new copy is
written beside the table, the old one is moved aside, the new one is
moved in and only then is the old one deleted. A crash between any two
steps leaves either the old or the new table readable: a reader that
finds the table missing calls ``restore_dir``, which moves the aside
copy back. The watermark write also observes the table's row count and
latest watermark day, which the next increment's incremental-or-full
decision needs, so a warm pipeline does not query them.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("tier", T.StringType()),
        T.StructField("bucket_day", T.LongType()),
        T.StructField("n_rows", T.LongType()),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def swap_dir(new: str, final: str) -> None:
    """Replace directory ``final`` by ``new``: move ``final`` aside to
    ``final + "_old"``, move ``new`` in, delete the aside copy."""
    old = final + "_old"
    if os.path.exists(final):
        # an aside copy still here was left by a crash after its
        # replacement had moved in
        shutil.rmtree(old, ignore_errors=True)
        os.rename(final, old)
    os.rename(new, final)
    shutil.rmtree(old, ignore_errors=True)


def restore_dir(final: str) -> None:
    """Undo a ``swap_dir`` that crashed with ``final`` moved aside but
    the new copy not yet moved in."""
    old = final + "_old"
    if not os.path.exists(final) and os.path.exists(old):
        os.rename(old, final)


def read_recorded(spark: SparkSession, path: str, schemas: dict[str, T.StructType], name: str) -> DataFrame:
    """Read the parquet table at ``path`` through ``schemas[name]``,
    inferring and recording it when there is none yet."""
    restore_dir(path)
    known = schemas.get(name)
    df = (spark.read if known is None else spark.read.schema(known)).parquet(path)
    schemas[name] = df.schema
    return df


class MetaStore:
    def __init__(self, spark: SparkSession, base_path: str) -> None:
        self.spark = spark
        self.base = base_path.rstrip("/") + "/_meta"
        #: schema of each table, recorded when written or first read
        self._schemas: dict[str, T.StructType] = {}
        #: (rows, latest watermark day) of the watermark table, observed
        #: on this instance's last write or queried once
        self._wm_extent: tuple[int, int | None] | None = None

    def _append(self, rows: list[tuple], schema: T.StructType, name: str) -> None:
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
        )
        df = self.spark.createDataFrame(table)
        df.write.mode("append").parquet(f"{self.base}/{name}")
        self._schemas[name] = df.schema

    def _read(self, name: str, schema: T.StructType) -> DataFrame:
        # only a MISSING table means "not created yet"; it is checked on
        # the local path (the assumption restore_dir/swap_dir make), so
        # the expected miss never becomes a failed Spark read that the
        # query listeners log. Any other read failure (corrupt footer,
        # permissions, transient FS error) propagates: an empty frame
        # there would reset every watermark and reseed the recursions
        # with wrong values
        path = f"{self.base}/{name}"
        restore_dir(path)
        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema)
        return read_recorded(self.spark, path, self._schemas, name)

    # -- lineage -------------------------------------------------------------

    def record_lineage(self, run_id: str, tier: str, day_rows: list[tuple[int, int]]) -> None:
        rows = [(run_id, tier, int(d), int(n)) for d, n in day_rows]
        self._append(rows, LINEAGE_SCHEMA, "lineage")

    def lineage(self) -> DataFrame:
        return self._read("lineage", LINEAGE_SCHEMA)

    def completed_days(self, tier: str) -> set[int]:
        return {
            r["bucket_day"]
            for r in self.lineage().where(F.col("tier") == tier).select("bucket_day").distinct().collect()
        }

    # -- recursion watermarks (FixedVector warm start) -----------------------

    def watermark_schema(self, keys: list[str]) -> T.StructType:
        return T.StructType(
            [
                *[T.StructField(k, T.StringType()) for k in keys],
                T.StructField("tier", T.StringType()),
                T.StructField("last_bucket_ts", T.LongType()),
                T.StructField("psi_lags", T.ArrayType(T.DoubleType())),
                T.StructField("dur_lags", T.ArrayType(T.DoubleType())),
            ]
        )

    @staticmethod
    def _extent_cols() -> list[Column]:
        ts = F.col("last_bucket_ts")
        return [F.count(F.lit(1)).alias("n"), F.max(ts - F.pmod(ts, F.lit(86400))).alias("max_day")]

    def save_watermarks(self, df: DataFrame) -> None:
        # last write wins: the whole (small) table is replaced. The plan
        # of ``df`` may read the current table, so it is written beside
        # it and swapped in
        final = f"{self.base}/watermark"
        self._wm_extent = None  # unknown if the swap below fails midway
        obs = Observation()
        df.observe(obs, *self._extent_cols()).write.mode("overwrite").parquet(final + "_new")
        swap_dir(final + "_new", final)
        self._schemas["watermark"] = df.schema
        self._wm_extent = (obs.get["n"], obs.get["max_day"])

    def watermarks(self, keys: list[str]) -> DataFrame:
        return self._read("watermark", self.watermark_schema(keys))

    def watermark_extent(self, keys: list[str]) -> tuple[int, int | None]:
        """``(rows, latest watermark day)`` of the watermark table: known
        from this instance's last ``save_watermarks``, else one query."""
        if self._wm_extent is None:
            self._wm_extent = tuple(self.watermarks(keys).agg(*self._extent_cols()).first())
        return self._wm_extent

    # -- metrics -------------------------------------------------------------

    def record_metrics(self, run_id: str, metrics: dict[str, float]) -> None:
        rows = [(run_id, k, float(v)) for k, v in metrics.items()]
        self._append(rows, METRICS_SCHEMA, "metrics")

    def metrics(self) -> DataFrame:
        return self._read("metrics", METRICS_SCHEMA)
