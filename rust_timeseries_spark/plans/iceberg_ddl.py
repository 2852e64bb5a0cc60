"""Iceberg deployment contract for the tier store — a tested DRY-RUN
plan printer.

The sandbox has no Iceberg runtime jar (SURVEY §2.1 S6), so
``TierStore`` emulates MERGE / retention / compaction at the parquet
level (``plans/tiers.py``). This module pins the EXACT cluster-side
contract those emulations map onto — session configs, DDL, and the
statements ``TierStore`` / ``rollup_stream`` would emit per operation —
so the first run on a real cluster is a *config change, not a code
change*: point ``IcebergTierPlan`` at a catalog, run
``plan.session_confs()`` + ``plan.create_tables()`` once, and swap each
parquet writer for the printed statement next to it.

Everything here is the public Iceberg-Spark surface: the
``SparkCatalog`` / ``SparkSessionCatalog`` classes, the
``IcebergSparkSessionExtensions``, ``MERGE INTO``, dynamic
``INSERT OVERWRITE``, and the ``system.expire_snapshots`` /
``system.rewrite_data_files`` / ``system.remove_orphan_files``
procedures documented for iceberg-spark-runtime. Statement text is
pytest-pinned (tests/test_tiers.py::test_iceberg_ddl_*) so drift in the
emitted contract fails loudly.

Mapping (parquet emulation → Iceberg statement):

==========================  =============================================
``materialize_full``        ``CREATE TABLE … PARTITIONED BY`` + first
                            ``INSERT OVERWRITE``
``merge_increment``         dynamic ``INSERT OVERWRITE`` of dirty
                            ``bucket_day`` partitions (idempotent
                            bucket-aligned recompute, same day set)
streaming late MERGE        ``MERGE INTO`` keyed on (keys, bucket_ts)
(``rollup_stream``)
``expire``                  ``DELETE FROM … WHERE bucket_day < cutoff``
                            (whole-partition metadata delete) +
                            ``expire_snapshots``
``compact``                 ``rewrite_data_files`` (binpack)
==========================  =============================================
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: tier → identity partition columns (mirrors tiers._PARTITION_COLS)
TIER_PARTITIONS = {"1m": ["bucket_day"], "1h": ["bucket_day"], "1d": []}

#: public runtime coordinate for Spark 4 (Scala 2.13); documented here
#: so the spark-submit line is copy-pasteable
RUNTIME_JAR = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


@dataclass
class IcebergTierPlan:
    """Names + schema of one tier-store deployment; every method returns
    the exact statement text the cluster run executes."""

    catalog: str = "lake"
    namespace: str = "tiers"
    table_prefix: str = "tokens"
    keys: list[str] = field(default_factory=lambda: ["source"])
    agg_cols: list[str] = field(
        default_factory=lambda: ["tok_sum", "tok_count", "tok_min", "tok_max"]
    )
    warehouse: str = "s3://warehouse/path"
    catalog_impl: str = "rest"  # rest | hive | hadoop
    catalog_uri: str = "https://catalog.example.com"

    # -- session contract ----------------------------------------------------

    def session_confs(self) -> dict[str, str]:
        """The spark-submit / SparkSession confs that make
        ``read_tokens(fmt='iceberg')`` and every statement below work
        unchanged."""
        c = self.catalog
        confs = {
            "spark.sql.extensions":
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            f"spark.sql.catalog.{c}": "org.apache.iceberg.spark.SparkCatalog",
            f"spark.sql.catalog.{c}.type": self.catalog_impl,
            f"spark.sql.catalog.{c}.warehouse": self.warehouse,
            "spark.jars.packages": RUNTIME_JAR,
        }
        if self.catalog_impl == "rest":
            confs[f"spark.sql.catalog.{c}.uri"] = self.catalog_uri
        return confs

    # -- names ---------------------------------------------------------------

    def table(self, tier: str) -> str:
        return f"{self.catalog}.{self.namespace}.{self.table_prefix}_{tier}"

    def _schema_cols(self, tier: str) -> str:
        cols = [f"{k} STRING" for k in self.keys]
        cols.append("bucket_ts BIGINT")
        cols += [f"{a} BIGINT" for a in self.agg_cols]
        if TIER_PARTITIONS[tier]:
            cols.append("bucket_day BIGINT")
        return ",\n  ".join(cols)

    # -- DDL -----------------------------------------------------------------

    def create_table(self, tier: str) -> str:
        part = (
            f"\nPARTITIONED BY ({', '.join(TIER_PARTITIONS[tier])})"
            if TIER_PARTITIONS[tier]
            else ""
        )
        return (
            f"CREATE TABLE IF NOT EXISTS {self.table(tier)} (\n"
            f"  {self._schema_cols(tier)}\n"
            f"){part}\n"
            "TBLPROPERTIES (\n"
            "  'format-version' = '2',\n"
            "  'write.distribution-mode' = 'hash',\n"
            "  'write.spark.fanout.enabled' = 'true'\n"
            ")"
        )

    def create_tables(self) -> list[str]:
        return [self.create_table(t) for t in ("1m", "1h", "1d")]

    # -- incremental maintenance (merge_increment analogue) ------------------

    def overwrite_dirty_days(self, tier: str, days: list[int]) -> str:
        """The bucket-aligned recompute commit: recompute the dirty day
        partitions from raw into ``tmp_view`` (same ``cascade`` plan the
        parquet path runs), then atomically replace exactly those
        partitions. The parquet path sets ``partitionOverwriteMode=dynamic``
        on its merge writers only; Iceberg's INSERT OVERWRITE is
        dynamic for v2 tables."""
        if not TIER_PARTITIONS[tier]:
            raise ValueError(f"tier {tier} is not day-partitioned")
        day_list = ", ".join(str(int(d)) for d in days)
        return (
            f"INSERT OVERWRITE {self.table(tier)}\n"
            f"SELECT * FROM tmp_view\n"
            f"WHERE bucket_day IN ({day_list})"
        )

    def merge_upsert(self, tier: str) -> str:
        """The streaming late-row MERGE (rollup_stream foreachBatch):
        keyed on (keys, bucket_ts); aggregates COMBINE (sum/min/max
        merge) rather than overwrite, so replayed micro-batches stay
        idempotent only at the partition-recompute level — which is why
        the batch path prefers ``overwrite_dirty_days``; this statement
        is the low-latency streaming alternative."""
        keys_on = " AND ".join(f"t.{k} = s.{k}" for k in self.keys)
        sets = ",\n    ".join(
            f"t.{a} = t.{a} + s.{a}" if a.endswith(("_sum", "_count"))
            else (f"t.{a} = LEAST(t.{a}, s.{a})" if a.endswith("_min")
                  else f"t.{a} = GREATEST(t.{a}, s.{a})")
            for a in self.agg_cols
        )
        all_cols = [*self.keys, "bucket_ts", *self.agg_cols]
        if TIER_PARTITIONS[tier]:
            all_cols.append("bucket_day")
        cols = ", ".join(all_cols)
        vals = ", ".join(f"s.{c}" for c in all_cols)
        return (
            f"MERGE INTO {self.table(tier)} t\n"
            f"USING batch_view s\n"
            f"ON {keys_on} AND t.bucket_ts = s.bucket_ts\n"
            f"WHEN MATCHED THEN UPDATE SET\n    {sets}\n"
            f"WHEN NOT MATCHED THEN INSERT ({cols})\n  VALUES ({vals})"
        )

    # -- retention & compaction ----------------------------------------------

    def expire_sql(self, tier: str, cutoff_bucket_day: int) -> list[str]:
        """Retention = metadata-only partition drop (the DELETE aligns
        with the partition spec so Iceberg plans it without row
        rewrites) + snapshot expiry so the dropped data actually leaves
        storage."""
        if not TIER_PARTITIONS[tier]:
            raise ValueError(f"tier {tier} has no day partitions to expire")
        return [
            f"DELETE FROM {self.table(tier)} "
            f"WHERE bucket_day < {int(cutoff_bucket_day)}",
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{self.table_prefix}_{tier}', "
            "older_than => TIMESTAMP '2000-01-01 00:00:00', "
            "retain_last => 2)",
        ]

    def compact_call(self, tier: str, target_file_size_mb: int = 512) -> str:
        return (
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{self.table_prefix}_{tier}', "
            "strategy => 'binpack', "
            f"options => map('target-file-size-bytes', "
            f"'{target_file_size_mb * 1024 * 1024}'))"
        )

    def remove_orphans_call(self, tier: str) -> str:
        return (
            f"CALL {self.catalog}.system.remove_orphan_files("
            f"table => '{self.namespace}.{self.table_prefix}_{tier}')"
        )

    # -- the full dry run ----------------------------------------------------

    def render(self, dirty_days: list[int] | None = None,
               cutoff_bucket_day: int = 0) -> str:
        """The whole contract as one reviewable document."""
        days = dirty_days if dirty_days is not None else [0, 86400]
        parts = ["-- session configs (spark-submit --conf / builder.config)"]
        parts += [f"-- {k}={v}" for k, v in self.session_confs().items()]
        parts.append("\n-- DDL")
        parts += [s + ";" for s in self.create_tables()]
        parts.append("\n-- incremental maintenance (per dirty-day batch)")
        for tier in ("1m", "1h"):
            parts.append(self.overwrite_dirty_days(tier, days) + ";")
        parts.append("\n-- streaming late-row MERGE (foreachBatch)")
        parts.append(self.merge_upsert("1m") + ";")
        parts.append("\n-- retention")
        for s in self.expire_sql("1m", cutoff_bucket_day):
            parts.append(s + ";")
        parts.append("\n-- compaction")
        parts.append(self.compact_call("1m") + ";")
        parts.append(self.remove_orphans_call("1m") + ";")
        return "\n".join(parts)
