"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operators (SURVEY.md §2) over the
driver testdata tables; ``oracle_sql()`` gives the DuckDB-equivalent SQL.

Conventions shared by every (query, oracle) pair so the driver's
row-count/schema/value-hash compare is stable:

* Bucket timestamps are **epoch-second bigints** computed with integer
  arithmetic (``es - es % width``) on both sides — timezone-independent.
* Double aggregates whose inputs are 2-decimal values are ``round(x, 2)``
  (the true sum lies on the 0.01 grid, so rounding is exact); derived
  ratios are ``round(x, 4)``; statistical quantities are formatted
  ``%.5e`` (6 significant digits) so the compare is scale-free.
* **Scale limit of the round-2 convention** (sf10 sweep finding): a
  rounded FLOAT sum is reassociation-stable only while n·ulp(Σ) ≪
  0.005 — large-magnitude currency sums over ≥10⁶-row groups need an
  exact order-independent aggregate instead. **Currency convention
  (r4 driver finding)**: per-row ``double → DECIMAL(18,2)`` casts are
  themselves engine-version-sensitive for off-grid doubles near the
  half-cent midpoint (Spark BigDecimal HALF_UP on the exact binary
  expansion vs DuckDB's double→decimal path). Currency therefore
  rounds to **pinned integer cents** ``floor(x*100 + 0.5)`` — all
  IEEE-754 double ops both engines execute bit-identically — sums
  exact BIGINT cents, and renders ``/100`` as DECIMAL(38,2). See
  ``_cents_sum_decimal`` and ``test_decimal_cents_tripwire``.
  (Integral-valued doubles stay float — their sums are exact in any
  order below 2⁵³.)
* Exact integer / min / max / string outputs are left unrounded.
* Recursive kernels (EWMA/ψ, forecasts, fixed-θ fit loglik) are
  mirrored as DuckDB RECURSIVE CTEs with the kernel's exact op order.
* Engine-hash-native queries (MinHash-LSH, SimHash, LSH-verified
  Jaccard) use FROZEN VALUES oracles (oracle_frozen.py) generated by an
  INDEPENDENT pure-Python recompute — see tools/gen_frozen_oracles.py;
  float literals are emitted as CAST('repr' AS DOUBLE) because DuckDB
  types bare decimals as DECIMAL, and DECIMAL→DOUBLE differs from
  strtod by 1 ulp.
* Multimodal feature queries synthesize payloads from closed-form
  integer formulas, so their oracles recompute features in pure SQL
  without touching the binary containers.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rust_timeseries_spark.operators import gapfill, recursion, rolling, rollup  # noqa: E402
from rust_timeseries_spark.stats import acd as acd_stats  # noqa: E402
from rust_timeseries_spark.stats import el as el_stats  # noqa: E402
from rust_timeseries_spark.stats import hac as hac_stats  # noqa: E402
from rust_timeseries_spark.operators import dedup as dedup_ops  # noqa: E402
from rust_timeseries_spark.operators import similarity as sim_ops  # noqa: E402
from rust_timeseries_spark.operators import textops  # noqa: E402
from rust_timeseries_spark.operators import compress as compress_ops  # noqa: E402
from rust_timeseries_spark.operators import multimodal  # noqa: E402
from rust_timeseries_spark.operators import graph as graph_ops  # noqa: E402


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _documents_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with an EXPLICIT id-hash repartition, for the queries
    whose cost is the per-document shingle/MinHash expression tree: the
    single-file testdata parquet has one row group, so Spark can hand
    it to at most ~2 tasks and the expensive expressions serialize
    (measured 15.5 s → 2.6 s for sf1 shingle construction at 32-way).
    The explicit partition count disables AQE coalescing for this one
    exchange; shuffled payload is just (ids + text), tiny next to the
    work it unlocks. At cluster scale inputs arrive well-partitioned
    and operators take the caller's partitioning as-is — this helper is
    the harness-side fix for a harness-side artifact."""
    return _documents(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _r2(c):  # sums of 2-decimal inputs: exact on the 0.01 grid
    return F.round(c, 2)


def _r4(c):  # derived ratios
    return F.round(c, 4)


def _sci(c):  # scale-free 6-significant-digit compare for statistics
    c = c.cast("double")
    return F.when(c.isNotNull(), F.format_string("%.5e", c))


def _cents_sum_decimal(col: str):
    """Currency sum with a PINNED cross-engine rounding convention.

    The r4 driver run proved a per-row ``double → DECIMAL(18,2)`` cast
    is engine-version-sensitive: ~1 000 sf0.01 ``o_totalprice`` doubles
    sit off the 2dp grid within 3e-8 of the ``.xx5`` half-cent midpoint,
    and Spark (BigDecimal HALF_UP on the exact binary expansion) vs
    DuckDB (version-dependent double→decimal path) flip cents
    differently. Fix: round to integer cents with ``floor(x*100 + 0.5)``
    — multiply, add and floor are all IEEE-754 double ops that both
    engines (and any other) execute bit-identically — then sum exact
    BIGINT cents and render ``/100`` as DECIMAL(38,2) (exact: the value
    has ≤2 fractional digits). Oracle twin:
    ``CAST(CAST(sum(CAST(floor(x*100 + 0.5) AS BIGINT)) AS
    DECIMAL(38,2)) / 100 AS DECIMAL(38,2))``."""
    cents = F.floor(F.col(col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (F.sum(cents).cast("decimal(38,2)") / F.lit(100)).cast("decimal(38,2)")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full tier cascade on sf0.001 events — raw → 1m → 1h →
    1d — with derived means at the 1h tier (the engine's §7.0 slice)."""
    ev = _events(spark, "/root/testdata/sf0.001")
    t1m = rollup.rollup_raw(ev, "1m", keys=["event_type"], ts_col="ts", value_col="value", epoch=True)
    t1h = rollup.fold_up(t1m, "1h", keys=["event_type"], epoch=True)
    return rollup.with_mean(t1h)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _q_rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = rollup.rollup_raw(_events(spark, sf_dir), "1m", ["event_type"], "ts", "value", epoch=True)
    return t.select(
        "event_type", "bucket_ts", _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count", "tok_min", "tok_max",
    )


_SQL_ROLLUP_1M = """
WITH e AS (
  SELECT event_type,
         es - es % 60 AS bucket_ts, value
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
)
SELECT event_type, bucket_ts,
       round(sum(value), 2) AS tok_sum,
       count(value) AS tok_count,
       min(value) AS tok_min,
       max(value) AS tok_max
FROM e GROUP BY event_type, bucket_ts
"""


def _q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window rollup (W10's session variant,
    operators/rollup.py:session_rollup — F.session_window): adjacent
    events within a 5-minute gap merge; the oracle recomputes the same
    sessions via the classic gaps-and-islands SQL. Boundary semantics
    (probed): an event EXACTLY gap seconds after its predecessor still
    merges, so a new session starts only when ts − lag(ts) > gap;
    session_end = last event + gap."""
    t = rollup.session_rollup(
        _events(spark, sf_dir), gap="5 minutes", keys=["event_type"],
        ts_col="ts", value_col="value",
    )
    dt = dict(t.dtypes)
    return t.select(
        "event_type",
        rollup.epoch_seconds(F.col("session_start"), dt["session_start"]).alias("session_start"),
        rollup.epoch_seconds(F.col("session_end"), dt["session_end"]).alias("session_end"),
        _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count",
    )


_SQL_SESSION_WINDOWS = """
WITH e AS (
  -- gap logic runs at MICROSECOND precision (event timestamps carry
  -- sub-second parts; flooring to seconds first would corrupt the
  -- boundary comparison); only the OUTPUT is floored to epoch seconds
  SELECT event_type, epoch_us(ts) AS us, value FROM events
),
marked AS (
  SELECT event_type, us, value,
         CASE WHEN us - lag(us) OVER (PARTITION BY event_type ORDER BY us) > 300000000
              OR lag(us) OVER (PARTITION BY event_type ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM e
),
sess AS (
  SELECT event_type, us, value,
         sum(new_sess) OVER (PARTITION BY event_type ORDER BY us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT event_type,
       min(us) // 1000000 AS session_start,
       (max(us) + 300000000) // 1000000 AS session_end,
       round(sum(value), 2) AS tok_sum,
       count(value) AS tok_count
FROM sess GROUP BY event_type, sid
"""


def _q_sliding_windows_3h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (W10's sliding variant,
    operators/rollup.py:sliding_rollup — ``F.window(ts, '3 hours',
    '1 hour')``): each event lands in 3 hourly-aligned windows. The
    oracle expands the same membership explicitly: window starts are
    ``es − es%3600 − i·3600`` for i ∈ {0,1,2} (epoch-aligned, as
    Spark's window slicing is)."""
    t = rollup.sliding_rollup(
        _events(spark, sf_dir), window_len="3 hours", slide="1 hour",
        keys=["event_type"], ts_col="ts", value_col="value",
    )
    dt = dict(t.dtypes)
    return t.select(
        "event_type",
        rollup.epoch_seconds(F.col("win_start"), dt["win_start"]).alias("win_start"),
        _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count", "tok_min", "tok_max",
    )


_SQL_SLIDING_WINDOWS = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events
),
expanded AS (
  SELECT e.event_type, e.es - e.es % 3600 - o.i * 3600 AS win_start, e.value
  FROM e, (SELECT unnest(range(3)) AS i) o
)
SELECT event_type, win_start,
       round(sum(value), 2) AS tok_sum,
       count(value) AS tok_count,
       min(value) AS tok_min,
       max(value) AS tok_max
FROM expanded GROUP BY event_type, win_start
"""


def _q_rollup_1m_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED rollup (operators/rollup.py:rollup_salted — the
    north rule's explicit skew handling: one hot key spreads over
    n_salts reducers, phase 2 merges partials). Answers to the SAME
    oracle as ``rollup_1m``: salting must not change results."""
    t = rollup.rollup_salted(
        _events(spark, sf_dir), "1m", n_salts=16, keys=["event_type"],
        ts_col="ts", value_col="value", salt_col="user_id", epoch=True,
    )
    return t.select(
        "event_type", "bucket_ts", _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count", "tok_min", "tok_max",
    )


def _q_streaming_rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling rollup (readStream → watermark →
    window agg → memory sink, availableNow trigger) over the SAME
    events input as ``rollup_1m`` — and checked against the SAME SQL
    oracle: stream ≡ batch is the correctness claim
    (streaming/rollup_stream.py, SURVEY.md §2.9). ``complete`` output
    mode so the memory sink holds the full result after the backlog
    drains."""
    import shutil
    import tempfile
    import uuid

    from rust_timeseries_spark.streaming import rollup_stream

    ev = _events(spark, sf_dir)
    agg = rollup_stream.stream_rollup(
        spark, sf_dir, ev.schema, "1m",
        keys=["event_type"], ts_col="ts", value_col="value",
        glob="events.parquet",
    )
    name = f"srollup_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="rts_stream_ckpt_")
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # bounded wait: a wedged file listing / checkpoint write must
        # fail THIS query, not hang the whole driver sweep
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("streaming_rollup_1m did not drain within 600s")
        # materialize, then drop the memory-sink table and checkpoint —
        # repeated invocations (bench medians, oracle sweeps) must not
        # accumulate per-run driver memory or /tmp state. r6: eager
        # localCheckpoint instead of collect+createDataFrame — the old
        # roundtrip pickled every result row driver→Python→JVM (~4 s at
        # sf1's 214k buckets, guide §4); the checkpointed blocks
        # outlive the dropped view with no Python boundary at all.
        out = spark.table(name).localCheckpoint()
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
    es = rollup.epoch_seconds(F.col("bucket_ts"), dict(out.dtypes)["bucket_ts"])
    return out.select(
        "event_type", es.alias("bucket_ts"), _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count", "tok_min", "tok_max",
    )


def _q_token_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule per-row invariant gate: 'per-row token-array equality
    holds against the source table' (BASELINE.json input_hint;
    sources/tokens.py:token_equality_check — full-outer join on doc_id,
    element-wise array compare, violation counters). The deterministic
    JVM generator stands in for the Iceberg token table on both sides
    (the driver testdata has no token-array table): an engine-side scan
    and an independently re-derived copy must agree row-for-row, plus a
    NEGATIVE control — one deliberately corrupted row must be counted.
    The oracle is the exact expected counters: any drift in generation,
    scan, join, or array comparison breaks the gate."""
    from rust_timeseries_spark import datagen as _datagen
    from rust_timeseries_spark.sources import tokens as _tok

    n = 20_000
    a = _datagen.token_table(spark, n)
    b = _datagen.token_table(spark, n)
    clean = _tok.token_equality_check(a, b).select(
        F.lit("clean").alias("case"), "n_joined", "n_missing", "n_mismatch"
    )
    # negative control: corrupt exactly one row's token array
    b_bad = b.withColumn(
        "tokens",
        # [-1] can never equal a real token array (generator emits
        # non-negative ids), so the mismatch count is exactly 1
        F.when(F.col("doc_id") == "doc-000000000007",
               F.array(F.lit(-1).cast("int"))).otherwise(F.col("tokens")),
    )
    dirty = _tok.token_equality_check(a, b_bad).select(
        F.lit("corrupted").alias("case"), "n_joined", "n_missing", "n_mismatch"
    )
    return clean.unionByName(dirty)


_SQL_TOKEN_EQUALITY = """
SELECT 'clean' AS case, CAST(20000 AS BIGINT) AS n_joined,
       CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_mismatch
UNION ALL
SELECT 'corrupted', CAST(20000 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)
"""


def _q_streaming_rollup_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-mode convergence under INJECTED LATE / OUT-OF-ORDER
    arrival — the harder streaming claim (round-3 verdict item 6).
    ``streaming_rollup_1m`` proves stream ≡ batch on an ordered backlog;
    here the backlog is split into three arrival shards whose file
    order is decorrelated from event time (hash sharding), replayed one
    file per micro-batch, so every batch after the first delivers rows
    that are late relative to the max event time already processed.
    The real incremental path runs end-to-end:
    ``rollup_stream.run_incremental`` (rollup_stream.py:72) drives the
    update-mode aggregate through ``foreachBatch`` and each batch's
    updated buckets are MERGE-upserted (key = event_type, bucket_ts)
    into a parquet tier table — the plans/tiers.py maintenance
    semantics. The watermark is set beyond the injected lateness (in
    production: the max expected lateness) so no row is dropped and the
    converged tier must equal the batch rollup — the SAME SQL oracle as
    ``rollup_1m``."""
    import glob as _glob
    import os as _os
    import shutil
    import tempfile

    from rust_timeseries_spark.streaming import rollup_stream

    ev = _events(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="rts_stream_late_")
    in_dir, store, ckpt = f"{work}/in", f"{work}/tier1m", f"{work}/ckpt"
    _os.makedirs(in_dir)
    try:
        # arrival shards: xxhash64 over (ts, event_type) decorrelates
        # file membership from event time → heavy out-of-order arrival.
        # partitionBy("_shard") GUARANTEES one directory per shard value
        # in one write job (review r4: repartitionByRange's sampled
        # bounds could merge shard values and silently weaken the
        # injected lateness); the partition column lives in the path,
        # so data files keep the events schema.
        shard = F.pmod(F.xxhash64("ts", "event_type"), F.lit(3))
        d = f"{work}/_shards"
        (
            ev.withColumn("_shard", shard)
            .repartition(3, "_shard")
            .write.partitionBy("_shard").mode("overwrite").parquet(d)
        )
        shard_dirs = sorted(_glob.glob(f"{d}/_shard=*"))
        if len(shard_dirs) != 3:  # the late-injection premise must hold
            raise AssertionError(f"expected 3 arrival shards, got {shard_dirs}")
        for s, sdir in enumerate(shard_dirs):
            for j, part in enumerate(sorted(_glob.glob(f"{sdir}/part-*.parquet"))):
                shutil.move(part, f"{in_dir}/shard{s}_{j}.parquet")
        shutil.rmtree(d)

        agg = rollup_stream.stream_rollup(
            spark, in_dir, ev.schema, "1m",
            keys=["event_type"], ts_col="ts", value_col="value",
            watermark="3650 days",  # ≥ max injected lateness: convergence gate
            glob="shard*.parquet",
            reader_options={"maxFilesPerTrigger": "1"},
        )

        def merge_fn(batch_df, batch_id):
            # keyed MERGE: updated buckets replace their previous rows
            # (tiers.py bucket-replace semantics); write-tmp-then-swap
            # because parquet cannot be overwritten while being read
            if _os.path.exists(store):
                cur = batch_df.sparkSession.read.parquet(store)
                keep = cur.join(
                    batch_df.select("event_type", "bucket_ts"),
                    ["event_type", "bucket_ts"], "left_anti",
                )
                out = keep.unionByName(batch_df)
            else:
                out = batch_df
            out.write.mode("overwrite").parquet(store + "_tmp")
            if _os.path.exists(store):
                shutil.rmtree(store)
            _os.rename(store + "_tmp", store)

        q = rollup_stream.run_incremental(agg, ckpt, merge_fn)
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("streaming_rollup_late did not drain within 600s")
        # eager checkpoint: materialized before the store dir is
        # deleted, no driver row roundtrip (see streaming_rollup_1m)
        out = spark.read.parquet(store).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    es = rollup.epoch_seconds(F.col("bucket_ts"), dict(out.dtypes)["bucket_ts"])
    return out.select(
        "event_type", es.alias("bucket_ts"), _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count", "tok_min", "tok_max",
    )


def _q_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1m = rollup.rollup_raw(_events(spark, sf_dir), "1m", ["event_type"], "ts", "value", epoch=True)
    t1h = rollup.with_mean(rollup.fold_up(t1m, "1h", keys=["event_type"], epoch=True))
    return t1h.select(
        "event_type", "bucket_ts", _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count", "tok_min", "tok_max",
        (_r2(F.col("tok_sum")) / F.col("tok_count")).alias("tok_mean"),
    )


_SQL_ROLLUP_1H = """
WITH e AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, value
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
)
SELECT event_type, bucket_ts,
       round(sum(value), 2) AS tok_sum,
       count(value) AS tok_count,
       min(value) AS tok_min,
       max(value) AS tok_max,
       round(sum(value), 2) / count(value) AS tok_mean
FROM e GROUP BY event_type, bucket_ts
"""


def _q_rollup_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1m = rollup.rollup_raw(_events(spark, sf_dir), "1m", ["event_type"], "ts", "value", epoch=True)
    t1h = rollup.fold_up(t1m, "1h", keys=["event_type"], epoch=True)
    t1d = rollup.fold_up(t1h, "1d", keys=["event_type"], epoch=True)
    return t1d.select(
        "event_type", "bucket_ts", _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count", "tok_min", "tok_max",
    )


_SQL_ROLLUP_1D = """
WITH e AS (
  SELECT event_type, es - es % 86400 AS bucket_ts, value
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
)
SELECT event_type, bucket_ts,
       round(sum(value), 2) AS tok_sum,
       count(value) AS tok_count,
       min(value) AS tok_min,
       max(value) AS tok_max
FROM e GROUP BY event_type, bucket_ts
"""


def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = rollup.grouping_rollup(
        _events(spark, sf_dir).withColumnRenamed("event_type", "source"),
        "1d", "ts", "value", epoch=True,
    )
    return g.select(
        "source", "bucket_ts", _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count", F.col("grouping_level").cast("int").alias("grouping_level"),
    )


_SQL_GROUPING_SETS = """
WITH e AS (
  SELECT event_type AS source, es - es % 86400 AS bucket_ts, value
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
)
SELECT source, bucket_ts,
       round(sum(value), 2) AS tok_sum,
       count(value) AS tok_count,
       CAST(CASE WHEN GROUPING(source) = 1 THEN 3
                 WHEN GROUPING(bucket_ts) = 1 THEN 1
                 ELSE 0 END AS INTEGER) AS grouping_level
FROM e GROUP BY ROLLUP (source, bucket_ts)
"""


def _q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round_to=2 BEFORE ranking: raw float sums of effectively-tied
    # sources (exact ties exist in the replicated sf1 data) order
    # differently per engine at the last ulp; on the rounded grid the
    # tie falls to the deterministic source-name tie-break
    t1d = rollup.rollup_raw(_events(spark, sf_dir), "1d", ["event_type"], "ts", "value", epoch=True)
    top = rollup.top_k_sources(t1d.withColumnRenamed("event_type", "source"), k=3, round_to=2)
    return top.select("source", F.col("total_tok"))


_SQL_TOPK = """
SELECT event_type AS source, round(sum(value), 2) AS total_tok
FROM events GROUP BY event_type
ORDER BY round(sum(value), 2) DESC, event_type ASC LIMIT 3
"""


def _q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    t1h = t1h.withColumn("tok_sum", _r2(F.col("tok_sum")))
    r = rolling.rolling_stats(t1h, "tok_sum", k=3, keys=["event_type"], order_col="bucket_ts")
    return r.select(
        "event_type", "bucket_ts",
        (_r2(F.col("roll_sum")) / F.col("roll_count")).alias("roll_mean"),
        _r2(F.col("roll_min")).alias("roll_min"),
        _r2(F.col("roll_max")).alias("roll_max"),
        _r2(F.col("roll_sum")).alias("roll_sum"),
        _sci(F.col("roll_std")).alias("roll_std"),
        "roll_count",
    )


_SQL_ROLLING = """
WITH b AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, round(sum(value), 2) AS tok_sum
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
)
SELECT event_type, bucket_ts,
       round(sum(tok_sum) OVER w, 2) / count(tok_sum) OVER w AS roll_mean,
       round(min(tok_sum) OVER w, 2) AS roll_min,
       round(max(tok_sum) OVER w, 2) AS roll_max,
       round(sum(tok_sum) OVER w, 2) AS roll_sum,
       printf('%.5e', stddev_samp(tok_sum) OVER w) AS roll_std,
       count(tok_sum) OVER w AS roll_count
FROM b
WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def _q_anomaly_zscore_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h z-score anomaly flags on the 1h tier
    (rolling.anomaly_zscore): each bucket's event count scored against
    the mean/std of the preceding 24 buckets (current point excluded
    from its own baseline; null z until 12 points of history or while
    the trailing std is 0). Input measure is tok_count — an exact
    BIGINT on both engines — so mean is exact int division and z's only
    float input is stddev, rendered `%.5e` like every std-derived
    statistic (module conventions)."""
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    a = rolling.anomaly_zscore(
        t1h, "tok_count", k=24, keys=["event_type"], order_col="bucket_ts",
        z_thresh=3.0, min_points=12,
    )
    return a.select(
        "event_type", "bucket_ts", "tok_count",
        F.col("trail_count").cast("long").alias("trail_count"),
        _sci(F.col("z")).alias("z"),
        "is_anomaly",
    )


_SQL_ANOMALY_ZSCORE_1H = """
WITH b AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, count(value) AS tok_count
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
),
s AS (
  SELECT event_type, bucket_ts, tok_count,
         count(tok_count) OVER w AS cnt,
         CAST(sum(tok_count) OVER w AS DOUBLE) / count(tok_count) OVER w AS mu,
         stddev_samp(tok_count) OVER w AS sd
  FROM b
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, bucket_ts, tok_count,
       CAST(cnt AS BIGINT) AS trail_count,
       CASE WHEN cnt >= 12 AND sd IS NOT NULL AND sd > 0
            THEN printf('%.5e', (CAST(tok_count AS DOUBLE) - mu) / sd)
            ELSE NULL END AS z,
       CAST(CASE WHEN cnt >= 12 AND sd IS NOT NULL AND sd > 0
                  AND abs((CAST(tok_count AS DOUBLE) - mu) / sd) > 3.0
                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM s
"""


def _q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    dense = gapfill.densify(t1h, "1h", keys=["event_type"])
    filled = gapfill.locf(dense, ["tok_sum"], keys=["event_type"])
    return filled.select(
        "event_type", "bucket_ts", _r2(F.col("tok_sum")).alias("tok_sum_locf"), "tok_count"
    )


_SQL_GAPFILL_LOCF = """
WITH b AS (
  SELECT event_type, es - es % 3600 AS bucket_ts,
         sum(value) AS tok_sum, count(value) AS tok_count
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
),
bounds AS (SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM b GROUP BY event_type),
spine AS (SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS bucket_ts FROM bounds),
dense AS (
  SELECT s.event_type, s.bucket_ts, b.tok_sum, coalesce(b.tok_count, 0) AS tok_count
  FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket_ts = b.bucket_ts
)
SELECT event_type, bucket_ts,
       round(last_value(tok_sum IGNORE NULLS) OVER
         (PARTITION BY event_type ORDER BY bucket_ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS tok_sum_locf,
       tok_count
FROM dense
"""


def _q_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    dense = gapfill.densify(
        t1h.select("event_type", "bucket_ts", _r2(F.col("tok_sum")).alias("tok_sum")), "1h", keys=["event_type"]
    )
    filled = gapfill.interpolate_linear(dense, ["tok_sum"], keys=["event_type"])
    return filled.select("event_type", "bucket_ts", F.col("tok_sum").alias("tok_sum_interp"))


_SQL_GAPFILL_LINEAR = """
WITH b AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, round(sum(value), 2) AS tok_sum
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
),
bounds AS (SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM b GROUP BY event_type),
spine AS (SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS bucket_ts FROM bounds),
dense AS (
  SELECT s.event_type, s.bucket_ts, b.tok_sum
  FROM spine s LEFT JOIN b ON s.event_type = b.event_type AND s.bucket_ts = b.bucket_ts
),
anch AS (
  SELECT event_type, bucket_ts, tok_sum,
         last_value(tok_sum IGNORE NULLS) OVER wb AS prev_v,
         first_value(tok_sum IGNORE NULLS) OVER wf AS next_v,
         last_value(CASE WHEN tok_sum IS NOT NULL THEN CAST(bucket_ts AS DOUBLE) END IGNORE NULLS) OVER wb AS prev_t,
         first_value(CASE WHEN tok_sum IS NOT NULL THEN CAST(bucket_ts AS DOUBLE) END IGNORE NULLS) OVER wf AS next_t
  FROM dense
  WINDOW wb AS (PARTITION BY event_type ORDER BY bucket_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY bucket_ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, bucket_ts,
       CASE
         WHEN tok_sum IS NOT NULL THEN CAST(tok_sum AS DOUBLE)
         WHEN prev_v IS NULL THEN CAST(next_v AS DOUBLE)
         WHEN next_v IS NULL THEN CAST(prev_v AS DOUBLE)
         ELSE prev_v + (next_v - prev_v) * ((CAST(bucket_ts AS DOUBLE) - prev_t) / (next_t - prev_t))
       END AS tok_sum_interp
FROM anch
"""


def _q_lag_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    m = rolling.lag_moments(
        t1h.select("event_type", "bucket_ts", (_r2(F.col("tok_sum")) / F.col("tok_count")).alias("v")),
        "v", max_lag=3, keys=["event_type"], order_col="bucket_ts",
    )
    return m.select(
        "event_type", "lag",
        _sci(F.col("gamma_j")).alias("gamma_j"),
        _sci(F.col("tau_j")).alias("tau_j"),
        _sci(F.col("rho_tilde_sq")).alias("rho_tilde_sq"),
    )


_SQL_LAG_MOMENTS = """
WITH b AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, round(sum(value), 2) / count(value) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
),
m AS (SELECT event_type, avg(v) AS ybar, count(*) AS n FROM b GROUP BY event_type),
d AS (
  SELECT b.event_type, b.bucket_ts, b.v - m.ybar AS dev, m.n
  FROM b JOIN m ON b.event_type = m.event_type
),
lagged AS (
  SELECT event_type, n, dev,
         lag(dev, 1) OVER w AS l1, lag(dev, 2) OVER w AS l2, lag(dev, 3) OVER w AS l3
  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
),
stacked AS (
  SELECT event_type, n, 1 AS lag, dev * l1 AS g, dev * dev * l1 * l1 AS tau FROM lagged WHERE l1 IS NOT NULL
  UNION ALL
  SELECT event_type, n, 2 AS lag, dev * l2 AS g, dev * dev * l2 * l2 AS tau FROM lagged WHERE l2 IS NOT NULL
  UNION ALL
  SELECT event_type, n, 3 AS lag, dev * l3 AS g, dev * dev * l3 * l3 AS tau FROM lagged WHERE l3 IS NOT NULL
)
SELECT event_type, lag,
       printf('%.5e', sum(g) / (max(n) - lag)) AS gamma_j,
       printf('%.5e', sum(tau) / (max(n) - lag)) AS tau_j,
       printf('%.5e', (sum(g) / (max(n) - lag)) ^ 2 / (sum(tau) / (max(n) - lag))) AS rho_tilde_sq
FROM stacked GROUP BY event_type, lag
"""


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir)
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_distinct_text"),
        )
        .withColumn("n_dupes", F.col("n_docs") - F.col("n_distinct_text"))
    )


_SQL_DEDUP_EXACT = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct_text,
       count(*) - count(DISTINCT md5(text)) AS n_dupes
FROM documents GROUP BY source
"""


def _q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    uniq = F.array_distinct(words)
    return d.select(
        "doc_id", "source",
        F.size(words).cast("long").alias("n_ws_tokens"),
        F.size(uniq).cast("long").alias("n_distinct_tokens"),
        (F.size(uniq).cast("double") / F.size(words)).alias("ttr"),
        (F.col("n_chars").cast("double") / F.size(words)).alias("chars_per_token"),
    )


_SQL_DOC_TOKENS = """
SELECT doc_id, source,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr,
       CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
FROM documents
"""


#: document-frequency cap for the word-level Jaccard driver query — words
#: in more documents than this leave both the inverted index and the set
#: sizes (the hot-token scale guard, operators/dedup.py max_df); mirrored
#: exactly by the oracle's df-filtered word table. 250 keeps the result
#: non-degenerate at every tested scale (9 pairs at sf0.01, ~1.5k at
#: sf0.1) while bounding any one token's join contribution to ≤ 250²/2
#: rows.
_JACCARD_MAX_DF = 250


def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup_ops.ngram_jaccard_pairs(
        _documents_par(spark, sf_dir), group_col="source", shingle_k=1, max_df=_JACCARD_MAX_DF
    )
    return out.select(
        F.col("id_a").alias("d1"), F.col("id_b").alias("d2"),
        "inter", "union_sz", "jaccard",
    )


_SQL_JACCARD = f"""
WITH w0 AS (
  SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS word FROM documents
),
hot AS (SELECT word FROM w0 GROUP BY word HAVING count(*) > {_JACCARD_MAX_DF}),
w AS (SELECT * FROM w0 WHERE word NOT IN (SELECT word FROM hot)),
sz AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM w a JOIN w b ON a.word = b.word AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, inter,
       s1.sz + s2.sz - inter AS union_sz,
       CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
FROM inter JOIN sz s1 ON inter.d1 = s1.doc_id JOIN sz s2 ON inter.d2 = s2.doc_id
"""


def _q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings(spark, sf_dir)
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    return e.select(
        "vec_id", "label",
        F.size("embedding").cast("long").alias("dim"),
        _sci(F.sqrt(sq)).alias("l2_norm"),
    )


_SQL_EMBEDDING_NORMS = """
SELECT vec_id, label, len(embedding) AS dim,
       printf('%.5e', sqrt(sq)) AS l2_norm
FROM (
  SELECT vec_id, label, embedding,
         (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x)) AS sq
  FROM embeddings
)
"""


_SQL_EWMA = """
WITH RECURSIVE b AS (
  SELECT event_type AS key, es - es % 3600 AS t, round(sum(value), 2) / count(value) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY key, t
),
idx AS (
  SELECT key, t, v, row_number() OVER (PARTITION BY key ORDER BY t) AS i,
         sum(v) OVER (PARTITION BY key) / count(*) OVER (PARTITION BY key) AS m
  FROM b
),
rec AS (
  SELECT key, 1 AS i, 0.3 * m + 0.7 * m AS psi FROM idx WHERE i = 1
  UNION ALL
  SELECT r.key, r.i + 1, 0.3 * x.v + 0.7 * r.psi
  FROM rec r JOIN idx x ON x.key = r.key AND x.i = r.i
)
SELECT idx.key, idx.t, idx.v AS v, printf('%.5e', rec.psi) AS ewma
FROM rec JOIN idx ON idx.key = rec.key AND idx.i = rec.i
"""


def _q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA over hourly mean series — the ψ recursion as a DuckDB
    RECURSIVE CTE oracle: ψ_1 = α·m + β·m (sample-mean seed), then
    ψ_{i+1} = α·x_i + β·ψ_i — the same op order as the kernel, so values
    match to %.5e (the sample means differ at 1 ulp between engines)."""
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    series = t1h.select(
        F.col("event_type").alias("key"), F.col("bucket_ts").alias("t"),
        (_r2(F.col("tok_sum")) / F.col("tok_count")).alias("v"),
    )
    return recursion.ewma(series, ["key"], alpha=0.3, order_col="t").select(
        "key", "t", "v", _sci(F.col("psi")).alias("ewma")
    )


def _q_ewma_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIANT-KEY scale path for the ψ/EWMA recursion
    (recursion.py:ewma_distributed): the series is split into 8
    contiguous segments, pass 1 composes each segment's affine map,
    a second tiny Spark stage walks the per-key segment boundaries
    (round-4: no driver collect), pass 2 replays each segment from its
    composed seed. Oracle: the plain sequential recursion CTE — same
    family as ewma_1h but with the operator's fixed-seed
    (checkpoint-resume) convention ψ₀ = x₀ = 1.

    Float-precision note (review r4): the affine composition
    REASSOCIATES the seed arithmetic, so segment-start ψ values can
    deviate from the one-pass kernel by ~1e-12 relative (pytest pins
    rtol 1e-11; the deviation decays ×β per step within a segment).
    The %.5e compare absorbs this the same way _r2 absorbs
    rollup_salted's two-phase sums — the residual decimal-tie exposure
    (~1e-3 per sweep across the ~240 exposed rows/key) is the repo's
    documented hazard class, accepted for the same reason."""
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    series = t1h.select(
        F.col("event_type").alias("key"), F.col("bucket_ts").alias("t"),
        (_r2(F.col("tok_sum")) / F.col("tok_count")).alias("v"),
    )
    out = recursion.ewma_distributed(
        series, ["key"], alpha=0.3, n_segments=8, init="fixed", fixed_value=1.0,
        value_col="v", order_col="t",
    )
    return out.select("key", "t", "v", _sci(F.col("psi")).alias("ewma"))


_SQL_EWMA_DISTRIBUTED = """
WITH RECURSIVE b AS (
  SELECT event_type AS key, es - es % 3600 AS t, round(sum(value), 2) / count(value) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY key, t
),
idx AS (
  SELECT key, t, v, row_number() OVER (PARTITION BY key ORDER BY t) AS i
  FROM b
),
rec AS (
  -- seed must be DOUBLE: an all-literal anchor would type psi as
  -- DECIMAL and the recursive member would then round every iteration
  SELECT key, 1 AS i,
         0.3 * CAST(1.0 AS DOUBLE) + 0.7 * CAST(1.0 AS DOUBLE) AS psi
  FROM idx WHERE i = 1
  UNION ALL
  SELECT r.key, r.i + 1, 0.3 * x.v + 0.7 * r.psi
  FROM rec r JOIN idx x ON x.key = r.key AND x.i = r.i
)
SELECT idx.key, idx.t, idx.v AS v, printf('%.5e', rec.psi) AS ewma
FROM rec JOIN idx ON idx.key = rec.key AND idx.i = rec.i
"""


def _q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL streaming recursion (§2.9's custom stateful operator,
    streaming/ewma_stream.py — ``applyInPandasWithState``): the hourly
    mean series is dropped as two time-ordered files, replayed one file
    per micro-batch, and the per-key recursion state (last ψ, last x)
    carries across micro-batches in the state store. The result must be
    BIT-equal to one uninterrupted batch recursion (the pytest pins
    bit-equality; here the claim is value-hash-gated), so it answers to
    the SAME fixed-seed sequential-CTE oracle as ``ewma_distributed_1h``
    (ψ₀ = x₀ = 1)."""
    import shutil
    import tempfile

    from rust_timeseries_spark.streaming import ewma_stream

    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    series = t1h.select(
        F.col("event_type").alias("key"), F.col("bucket_ts").alias("t"),
        (_r2(F.col("tok_sum")) / F.col("tok_count")).alias("v"),
    )
    work = tempfile.mkdtemp(prefix="rts_sewma_")
    in_dir, ckpt = f"{work}/in", f"{work}/ckpt"
    try:
        bounds = series.agg(F.min("t").alias("lo"), F.max("t").alias("hi")).collect()[0]
        half = (bounds["lo"] + bounds["hi"]) // 2
        # sequential appends → strictly increasing file mtimes; the file
        # source replays oldest-first, so per-key event-time order holds
        # across micro-batches (the stateful operator's documented
        # arrival contract — tier maintenance drops files by time)
        series.where(F.col("t") < half).coalesce(1).write.mode("append").parquet(in_dir)
        first = {f for f in os.listdir(in_dir) if f.endswith(".parquet")}
        series.where(F.col("t") >= half).coalesce(1).write.mode("append").parquet(in_dir)
        # ADVICE r4: on coarse-mtime filesystems the two writes can share
        # an mtime, making the oldest-first replay order (and thus the
        # stateful recursion) nondeterministic — bump the second file's
        # mtime strictly past the first's instead of assuming.
        first_mt = max(os.path.getmtime(os.path.join(in_dir, f)) for f in first)
        for f in os.listdir(in_dir):
            p = os.path.join(in_dir, f)
            if f.endswith(".parquet") and f not in first and os.path.getmtime(p) <= first_mt:
                os.utime(p, (first_mt + 1.0, first_mt + 1.0))
        stream = (
            spark.readStream.schema(series.schema)
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        out = ewma_stream.ewma_stateful(
            stream, alpha=0.3, init_value=1.0,
            keys=["key"], order_col="t", value_col="v",
        )
        # per-batch parquet appends instead of collecting every batch's
        # rows to the driver: results stay JVM-side; the eager
        # checkpoint below materializes them before the workdir is
        # removed
        res_dir = f"{work}/res"
        # created up front: zero micro-batches read back as an empty
        # frame of the stream's schema, not a missing path
        os.makedirs(res_dir)

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(res_dir)

        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("streaming_ewma_1h did not drain within 600s")
        res = spark.read.schema(out.schema).parquet(res_dir).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res.select("key", "t", "v", _sci(F.col("psi")).alias("ewma"))


def _q_tier_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESUMABLE-PIPELINE gate (the north rule's incremental tier
    maintenance): events are split at the midpoint DAY; TierStore
    materializes the first half's full raw→1m→1h→1d cascade, then
    ``merge_increment`` applies the second half — recomputing ONLY the
    dirty day partitions from the raw source of truth and atomically
    replacing them via dynamic partition overwrite (plans/tiers.py, the
    Iceberg MERGE stand-in). The final 1h tier must equal the one-shot
    batch rollup — the SAME oracle as ``rollup_1h_fold`` — proving
    incremental ≡ batch, which is what makes the pipeline idempotent
    and resumable."""
    import shutil
    import tempfile

    from rust_timeseries_spark.plans.tiers import TierStore

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    es = rollup.epoch_seconds(F.col("ts"), dict(ev.dtypes)["ts"])
    day = es - F.pmod(es, F.lit(86400))
    bounds = ev.agg(F.min(day).alias("lo"), F.max(day).alias("hi")).collect()[0]
    split_day = bounds["lo"] + ((bounds["hi"] - bounds["lo"]) // (2 * 86400)) * 86400
    base = tempfile.mkdtemp(prefix="rts_tierinc_")
    try:
        store = TierStore(
            spark, base, keys=["event_type"], ts_col="ts", value_col="value", epoch=True
        )
        store.materialize_full(ev.where(day < split_day))
        store.merge_increment(ev, ev.where(day >= split_day))
        # eager checkpoint: materialized before the store dir is
        # deleted, no driver row roundtrip (see streaming_rollup_1m)
        out = store.read_tier("1h").localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out.select(
        "event_type", "bucket_ts", _r2(F.col("tok_sum")).alias("tok_sum"),
        "tok_count", "tok_min", "tok_max",
        (_r2(F.col("tok_sum")) / F.col("tok_count")).alias("tok_mean"),
    )


_SQL_FORECAST = """
WITH RECURSIVE b AS (
  SELECT event_type AS key, es - es % 3600 AS t, round(sum(value), 2) / count(value) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY key, t
),
idx AS (
  SELECT key, t, v, row_number() OVER (PARTITION BY key ORDER BY t) AS i,
         count(*) OVER (PARTITION BY key) AS n
  FROM b
),
rec AS (
  SELECT key, 1 AS i, n,
         0.2 + 0.2 * (0.2 / (1.0 - 0.2 - 0.3)) + 0.3 * (0.2 / (1.0 - 0.2 - 0.3)) AS psi
  FROM idx WHERE i = 1
  UNION ALL
  SELECT r.key, r.i + 1, r.n, 0.2 + 0.2 * x.v + 0.3 * r.psi
  FROM rec r JOIN idx x ON x.key = r.key AND x.i = r.i
  WHERE r.i < r.n
),
tail AS (
  SELECT rec.key, rec.psi AS psi_T, x.v AS x_T
  FROM rec JOIN idx x ON x.key = rec.key AND x.i = rec.i
  WHERE rec.i = rec.n
),
fc AS (
  SELECT key, 1 AS h, 0.2 + 0.2 * x_T + 0.3 * psi_T AS psi_hat FROM tail
  UNION ALL
  SELECT key, h + 1, 0.2 + 0.2 * psi_hat + 0.3 * psi_hat FROM fc WHERE h < 8
)
SELECT key, CAST(h AS INTEGER) AS h, printf('%.5e', psi_hat) AS psi_hat FROM fc
"""


def _q_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACD(1,1) ψ forecast per event_type: in-sample recursion (uncond-
    mean seed) + H-step roll-forward, both mirrored as DuckDB RECURSIVE
    CTEs with the kernel's exact op order (ψ guards never bind at these
    magnitudes, so the clamp is a no-op on both sides)."""
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    series = t1h.select(
        F.col("event_type").alias("key"), F.col("bucket_ts").alias("t"),
        (_r2(F.col("tok_sum")) / F.col("tok_count")).alias("v"),
    )
    return recursion.acd_forecast(series, ["key"], omega=0.2, alpha=[0.2], beta=[0.3], horizon=8).select(
        "key", "h", _sci(F.col("psi_hat")).alias("psi_hat")
    )


def _hourly_mean_series(spark, sf_dir):
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    return t1h.select(
        F.col("event_type").alias("key"), F.col("bucket_ts").alias("t"),
        (_r2(F.col("tok_sum")) / F.col("tok_count")).alias("v"),
    )


def _q_el_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Escanciano-Lobato portmanteau per event_type over hourly means
    (engine kernel = exact reference math; oracle recomputes it in SQL)."""
    series = _hourly_mean_series(spark, sf_dir)
    out = el_stats.escanciano_lobato(series, ["key"], q=2.4, d=3)
    return out.select("key", "p_tilde", _sci(F.col("stat")).alias("stat"))


_SQL_EL_TEST = """
WITH b AS (
  SELECT event_type AS key, es - es % 3600 AS t, round(sum(value), 2) / count(value) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY key, t
),
m AS (SELECT key, sum(v) / count(*) AS ybar, count(*) AS n FROM b GROUP BY key),
d AS (SELECT b.key, b.t, b.v - m.ybar AS dev, m.n FROM b JOIN m ON b.key = m.key),
lagged AS (
  SELECT key, n, dev,
         lag(dev, 1) OVER w AS l1, lag(dev, 2) OVER w AS l2, lag(dev, 3) OVER w AS l3
  FROM d WINDOW w AS (PARTITION BY key ORDER BY t)
),
rho AS (
  SELECT key, max(n) AS n, lag,
         (sum(g) / (max(n) - lag)) ^ 2 / (sum(tau) / (max(n) - lag)) AS rho_sq
  FROM (
    SELECT key, n, 1 AS lag, dev * l1 AS g, dev*dev*l1*l1 AS tau FROM lagged WHERE l1 IS NOT NULL
    UNION ALL
    SELECT key, n, 2 AS lag, dev * l2 AS g, dev*dev*l2*l2 AS tau FROM lagged WHERE l2 IS NOT NULL
    UNION ALL
    SELECT key, n, 3 AS lag, dev * l3 AS g, dev*dev*l3*l3 AS tau FROM lagged WHERE l3 IS NOT NULL
  ) GROUP BY key, lag
),
l_vals AS (
  SELECT key, lag AS p,
         max(n) OVER (PARTITION BY key) * sum(rho_sq) OVER (PARTITION BY key ORDER BY lag) AS q_star,
         CASE WHEN sqrt(max(n) OVER (PARTITION BY key)) * max(sqrt(rho_sq)) OVER (PARTITION BY key)
                   <= sqrt(2.4 * ln(max(n) OVER (PARTITION BY key)))
              THEN lag * ln(max(n) OVER (PARTITION BY key))
              ELSE 2.0 * lag END AS penalty
  FROM rho
),
pick AS (
  SELECT key, p, q_star,
         row_number() OVER (PARTITION BY key ORDER BY q_star - penalty DESC, p ASC) AS rn
  FROM l_vals
)
SELECT key, CAST(p AS INTEGER) AS p_tilde, printf('%.5e', q_star) AS stat
FROM pick WHERE rn = 1
"""


def _q_hac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAC (Bartlett, bw=2, centered) of a 3-column score matrix — per
    event_type over its 1m bucket series (bucket_ts is a unique,
    deterministic time index; no row_number ties)."""
    t1m = rollup.rollup_raw(_events(spark, sf_dir), "1m", ["event_type"], "ts", "value", epoch=True)
    df = t1m.select(
        F.col("event_type").alias("key"),
        F.col("bucket_ts").alias("t"),
        F.array(
            _r2(F.col("tok_sum")),
            F.col("tok_count").cast("double"),
            F.col("tok_max"),
        ).alias("s"),
    )
    out = hac_stats.hac_covariance(df, ["key"], kernel="bartlett", bandwidth=2, center=True)
    return out.select(
        "key",
        F.posexplode("cov").alias("pos", "cov_val"),
    ).select(
        "key",
        (F.col("pos") / 3).cast("int").alias("i"),
        F.pmod(F.col("pos"), F.lit(3)).cast("int").alias("j"),
        _sci(F.col("cov_val")).alias("cov"),
    )


_SQL_HAC = """
WITH base AS (
  SELECT event_type AS key, es - es % 60 AS t,
         round(sum(value), 2) AS s0, CAST(count(value) AS DOUBLE) AS s1, max(value) AS s2
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY key, t
),
ranked AS (
  SELECT key, row_number() OVER (PARTITION BY key ORDER BY t) AS t, s0, s1, s2 FROM base
),
m AS (SELECT key, count(*) AS n, avg(s0) AS m0, avg(s1) AS m1, avg(s2) AS m2 FROM ranked GROUP BY key),
long AS (
  SELECT b.key, b.t, u.i,
         CASE u.i WHEN 0 THEN b.s0 - m.m0 WHEN 1 THEN b.s1 - m.m1 ELSE b.s2 - m.m2 END AS v, m.n
  FROM ranked b JOIN m ON b.key = m.key
  CROSS JOIN (SELECT unnest(ARRAY[0, 1, 2]) AS i) u
),
gam AS (
  SELECT a.key, k.k, a.i AS i, b2.i AS j, sum(a.v * b2.v) AS raw, max(a.n) AS n
  FROM long a
  CROSS JOIN (SELECT unnest(ARRAY[0, 1, 2]) AS k) k
  JOIN long b2 ON a.key = b2.key AND a.t = b2.t + k.k
  GROUP BY a.key, k.k, a.i, b2.i
),
weighted AS (
  SELECT key, i, j,
         CASE WHEN k = 0 THEN raw / n
              ELSE (1.0 - k / 3.0) * (raw / (n - k)) END AS contrib,
         k
  FROM gam
),
sym AS (
  SELECT key, i, j, contrib FROM weighted
  UNION ALL
  SELECT key, j AS i, i AS j, contrib FROM weighted WHERE k > 0
)
SELECT key, CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       printf('%.5e', sum(contrib)) AS cov
FROM sym GROUP BY key, i, j
"""


def _q_hac_parzen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAC with the PARZEN taper (kernel.rs:189-227), same score matrix
    and bandwidth as ``hac_covariance`` — driver-gates F10's
    non-Bartlett branch. The oracle reuses the Bartlett recompute with
    the two lag weights w(k/3) embedded as python-literal constants
    (kernel_weight('parzen', ·) — piecewise cubic; embedding the exact
    doubles keeps the oracle independent of SQL float-op ordering)."""
    t1m = rollup.rollup_raw(_events(spark, sf_dir), "1m", ["event_type"], "ts", "value", epoch=True)
    df = t1m.select(
        F.col("event_type").alias("key"),
        F.col("bucket_ts").alias("t"),
        F.array(
            _r2(F.col("tok_sum")),
            F.col("tok_count").cast("double"),
            F.col("tok_max"),
        ).alias("s"),
    )
    out = hac_stats.hac_covariance(df, ["key"], kernel="parzen", bandwidth=2, center=True)
    return out.select(
        "key",
        F.posexplode("cov").alias("pos", "cov_val"),
    ).select(
        "key",
        (F.col("pos") / 3).cast("int").alias("i"),
        F.pmod(F.col("pos"), F.lit(3)).cast("int").alias("j"),
        _sci(F.col("cov_val")).alias("cov"),
    )


def _parzen_sql() -> str:
    from rust_timeseries_spark.functions.scalar import kernel_weight

    w1 = kernel_weight("parzen", 1 / 3)  # lag 1, x = k/(bw+1)
    w2 = kernel_weight("parzen", 2 / 3)  # lag 2
    bartlett_weights = "ELSE (1.0 - k / 3.0) * (raw / (n - k)) END AS contrib,"
    # guard the template coupling: if the Bartlett SQL is ever reworded,
    # this must fail at import, not silently ship Bartlett weights
    assert bartlett_weights in _SQL_HAC, "_SQL_HAC weight clause moved"
    return _SQL_HAC.replace(
        bartlett_weights,
        "WHEN k = 1 THEN CAST('%r' AS DOUBLE) * (raw / (n - k))\n"
        "              ELSE CAST('%r' AS DOUBLE) * (raw / (n - k)) END AS contrib," % (w1, w2),
    )


_SQL_HAC_PARZEN = _parzen_sql()


def _q_hac_qs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAC with the QUADRATIC-SPECTRAL taper (kernel.rs:189-227; Andrews
    1991) — with Bartlett and Parzen this driver-gates every non-iid
    kernel the reference ships. Same oracle template, QS lag weights as
    python literals."""
    t1m = rollup.rollup_raw(_events(spark, sf_dir), "1m", ["event_type"], "ts", "value", epoch=True)
    df = t1m.select(
        F.col("event_type").alias("key"),
        F.col("bucket_ts").alias("t"),
        F.array(
            _r2(F.col("tok_sum")),
            F.col("tok_count").cast("double"),
            F.col("tok_max"),
        ).alias("s"),
    )
    out = hac_stats.hac_covariance(
        df, ["key"], kernel="quadratic_spectral", bandwidth=2, center=True
    )
    return out.select(
        "key",
        F.posexplode("cov").alias("pos", "cov_val"),
    ).select(
        "key",
        (F.col("pos") / 3).cast("int").alias("i"),
        F.pmod(F.col("pos"), F.lit(3)).cast("int").alias("j"),
        _sci(F.col("cov_val")).alias("cov"),
    )


def _qs_sql() -> str:
    from rust_timeseries_spark.functions.scalar import kernel_weight

    w1 = kernel_weight("quadratic_spectral", 1 / 3)
    w2 = kernel_weight("quadratic_spectral", 2 / 3)
    bartlett_weights = "ELSE (1.0 - k / 3.0) * (raw / (n - k)) END AS contrib,"
    assert bartlett_weights in _SQL_HAC, "_SQL_HAC weight clause moved"
    return _SQL_HAC.replace(
        bartlett_weights,
        "WHEN k = 1 THEN CAST('%r' AS DOUBLE) * (raw / (n - k))\n"
        "              ELSE CAST('%r' AS DOUBLE) * (raw / (n - k)) END AS contrib," % (w1, w2),
    )


_SQL_HAC_QS = _qs_sql()


def _duration_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival durations, normalized to unit mean —
    the reference's actual model domain (duration models fit durations,
    not level series).  Deterministic float path: epoch seconds are
    distinct bigints per key, durations are exact integer gaps, the key
    mean is an exact integer sum / count, and the normalized value is
    one IEEE division — identical doubles in Spark and DuckDB."""
    ev = _events(spark, sf_dir)
    es = rollup.epoch_seconds(F.col("ts"), dict(ev.dtypes)["ts"])
    base = ev.select(F.col("event_type").alias("key"), es.alias("t")).distinct()
    w = W.partitionBy("key").orderBy("t")
    d = base.withColumn("dur", F.col("t") - F.lag("t").over(w)).where(F.col("dur").isNotNull())
    wk = W.partitionBy("key")
    mean = F.sum("dur").over(wk).cast("double") / F.count("dur").over(wk)
    return d.select("key", "t", (F.col("dur").cast("double") / mean).alias("v"))


import math as _math

_WEIB_K = 1.5
_WEIB_LAM = _math.exp(-_math.lgamma(1.0 + 1.0 / _WEIB_K))
# python-computed constants embedded as repr literals (module docstring
# convention): the oracle must not depend on DuckDB's lgamma agreeing
# with CPython's to the last bit
_WEIB_C1 = _math.log(_WEIB_K) - _math.log(_WEIB_LAM)
_WEIB_LNLAM = _math.log(_WEIB_LAM)


def _q_acd_loglik_weibull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-θ ACD(1,1) log-likelihood under the WEIBULL innovation law
    (k=1.5, unit-mean λ = exp(−lnΓ(1+1/k)) — innovations.rs:243-247,
    483-499): the deterministic kernel stage that the exponential-law
    fit oracle pins, here driver-gating F7/F9's Weibull branch. The
    oracle reruns the ψ recursion AND the Weibull logpdf sum as a
    sequential RECURSIVE CTE with the kernel's exact op order."""
    spec = acd_stats.AcdSpec(p=1, q=1, law="weibull", law_params={"k": _WEIB_K})
    out = acd_stats.acd_loglik_fixed(_duration_series(spark, sf_dir), ["key"], spec, 0.2, [0.2], [0.3])
    return out.select("key", _sci(F.col("loglik")).alias("loglik_weibull"))


def _weib_term_sql(v: str, p: str) -> str:
    """The kernel's Weibull log-pdf term with python-literal constants
    and the vectorized kernel's exact parenthesization:
    ((C1 + (k−1)·(ln ε − lnλ)) − (ε/λ)^k) − ln ψ, ε = v/ψ."""
    c1 = f"CAST('{_WEIB_C1!r}' AS DOUBLE)"
    lnlam = f"CAST('{_WEIB_LNLAM!r}' AS DOUBLE)"
    lam = f"CAST('{_WEIB_LAM!r}' AS DOUBLE)"
    # exponents derived from _WEIB_K so the oracle tracks the driver
    # query if the constant ever changes (ADVICE r3)
    km1, k = f"{_WEIB_K - 1.0!r}", f"{_WEIB_K!r}"
    return (
        f"(({c1} + {km1} * (ln({v} / {p}) - {lnlam}))"
        f" - pow(({v} / {p}) / {lam}, {k})) - ln({p})"
    )


_SQL_ACD_LOGLIK_WEIBULL = f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
d AS (
  SELECT key, t, t - lag(t) OVER (PARTITION BY key ORDER BY t) AS dur FROM e
),
s AS (
  SELECT key, t,
         CAST(dur AS DOUBLE) / (CAST(sum(dur) OVER (PARTITION BY key) AS DOUBLE)
                                / count(dur) OVER (PARTITION BY key)) AS v
  FROM d WHERE dur IS NOT NULL
),
idx AS (
  SELECT key, t, v, row_number() OVER (PARTITION BY key ORDER BY t) AS i,
         count(*) OVER (PARTITION BY key) AS n
  FROM s
),
rec AS (
  SELECT x.key, 1 AS i, x.n,
         0.2 + 0.2 * (0.2 / (1.0 - 0.2 - 0.3)) + 0.3 * (0.2 / (1.0 - 0.2 - 0.3)) AS psi,
         {_weib_term_sql('x.v', '(0.2 + 0.2 * (0.2 / (1.0 - 0.2 - 0.3)) + 0.3 * (0.2 / (1.0 - 0.2 - 0.3)))')} AS acc
  FROM idx x WHERE x.i = 1
  UNION ALL
  SELECT r.key, r.i + 1, r.n,
         0.2 + 0.2 * xp.v + 0.3 * r.psi AS psi,
         r.acc + ({_weib_term_sql('xn.v', '(0.2 + 0.2 * xp.v + 0.3 * r.psi)')}) AS acc
  FROM rec r
  JOIN idx xp ON xp.key = r.key AND xp.i = r.i
  JOIN idx xn ON xn.key = r.key AND xn.i = r.i + 1
  WHERE r.i < r.n
)
SELECT key, printf('%.5e', acc) AS loglik_weibull
FROM rec WHERE i = n
"""


_GG_P = 1.2
_GG_D = 1.5
_GG_A = _math.exp(_math.lgamma(_GG_D / _GG_P) - _math.lgamma((_GG_D + 1.0) / _GG_P))
# python-literal constants (same rationale as the Weibull oracle)
_GG_C1 = _math.log(_GG_P) - _GG_D * _math.log(_GG_A)
_GG_LNA = _math.log(_GG_A)
_GG_LG = _math.lgamma(_GG_D / _GG_P)


def _q_acd_loglik_gengamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-θ ACD(1,1) log-likelihood under the GENERALIZED-GAMMA law
    (p=1.2, d=1.5, unit-mean a = exp(lnΓ(d/p) − lnΓ((d+1)/p)) —
    innovations.rs:360-365, 483-499), completing driver coverage of the
    three innovation laws (exponential in the fit oracle, Weibull in
    acd_loglik_weibull)."""
    spec = acd_stats.AcdSpec(
        p=1, q=1, law="generalized_gamma", law_params={"p": _GG_P, "d": _GG_D}
    )
    out = acd_stats.acd_loglik_fixed(_duration_series(spark, sf_dir), ["key"], spec, 0.2, [0.2], [0.3])
    return out.select("key", _sci(F.col("loglik")).alias("loglik_gengamma"))


def _gg_term_sql(v: str, p: str) -> str:
    """Kernel GG log-pdf term, vectorized-kernel parenthesization:
    (((C1 + (d−1)·ln ε) − (ε/a)^p) − lnΓ(d/p)) − ln ψ, ε = v/ψ."""
    c1 = f"CAST('{_GG_C1!r}' AS DOUBLE)"
    a = f"CAST('{_GG_A!r}' AS DOUBLE)"
    lg = f"CAST('{_GG_LG!r}' AS DOUBLE)"
    # exponents derived from _GG_D/_GG_P so the oracle tracks the
    # driver query if a constant ever changes (ADVICE r3)
    dm1, pp = f"{_GG_D - 1.0!r}", f"{_GG_P!r}"
    return (
        f"((({c1} + {dm1} * ln({v} / {p}))"
        f" - pow(({v} / {p}) / {a}, {pp})) - {lg}) - ln({p})"
    )


_SQL_ACD_LOGLIK_GENGAMMA = f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
d AS (
  SELECT key, t, t - lag(t) OVER (PARTITION BY key ORDER BY t) AS dur FROM e
),
s AS (
  SELECT key, t,
         CAST(dur AS DOUBLE) / (CAST(sum(dur) OVER (PARTITION BY key) AS DOUBLE)
                                / count(dur) OVER (PARTITION BY key)) AS v
  FROM d WHERE dur IS NOT NULL
),
idx AS (
  SELECT key, t, v, row_number() OVER (PARTITION BY key ORDER BY t) AS i,
         count(*) OVER (PARTITION BY key) AS n
  FROM s
),
rec AS (
  SELECT x.key, 1 AS i, x.n,
         0.2 + 0.2 * (0.2 / (1.0 - 0.2 - 0.3)) + 0.3 * (0.2 / (1.0 - 0.2 - 0.3)) AS psi,
         {_gg_term_sql('x.v', '(0.2 + 0.2 * (0.2 / (1.0 - 0.2 - 0.3)) + 0.3 * (0.2 / (1.0 - 0.2 - 0.3)))')} AS acc
  FROM idx x WHERE x.i = 1
  UNION ALL
  SELECT r.key, r.i + 1, r.n,
         0.2 + 0.2 * xp.v + 0.3 * r.psi AS psi,
         r.acc + ({_gg_term_sql('xn.v', '(0.2 + 0.2 * xp.v + 0.3 * r.psi)')}) AS acc
  FROM rec r
  JOIN idx xp ON xp.key = r.key AND xp.i = r.i
  JOIN idx xn ON xn.key = r.key AND xn.i = r.i + 1
  WHERE r.i < r.n
)
SELECT key, printf('%.5e', acc) AS loglik_gengamma
FROM rec WHERE i = n
"""


def _q_acd_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACD(1,1) MLE per event_type over unit-mean inter-arrival
    durations, verified the way the reference's integration test
    verifies a fit (tests/integration_acd_pipline.rs:257-315:
    fit-success + downstream properties, not optimizer internals):

    * ``loglik0`` — ℓ at FIXED θ₀=(ω=0.2, α=0.2, β=0.3): the
      deterministic ψ-recursion + logpdf sum, recomputed by the oracle
      as a RECURSIVE CTE with the kernel's exact op order;
    * ``converged`` — the real optimizer (L-BFGS + More–Thuente) ran to
      convergence on every key;
    * ``fit_improved`` — ℓ(θ̂) ≥ ℓ(θ₀): the fitted parameters beat the
      fixed reference point.

    The fitted values themselves are pinned by tests/test_acd.py
    (golden kernels + simulate→recover)."""
    series = _duration_series(spark, sf_dir)
    spec = acd_stats.AcdSpec(p=1, q=1)
    # moment-style warm start for unit-mean durations (ω=0.1, α=0.05,
    # β=0.8 — the standard GARCH-family initialization): converges at
    # every tested scale, where the zero start stalls at max_iter on
    # one sf0.1 key and costs ~1.7× the iterations elsewhere
    import numpy as _np
    from pyspark.sql import types as _T

    from rust_timeseries_spark.constants import STATIONARITY_MARGIN as _SM
    from rust_timeseries_spark.functions import scalar as _S

    theta0 = _S.params_to_theta(
        0.1, _np.array([0.05]), _np.array([0.8]), 1.0 - _SM - 0.85
    )
    fields = [
        _T.StructField("loglik0_raw", _T.DoubleType()),
        _T.StructField("converged", _T.BooleanType()),
        _T.StructField("fit_improved", _T.BooleanType()),
    ]

    # one kernel pass per key: the fit AND the fixed-θ₀ loglik share
    # the sorted series (a join of acd_fit with acd_loglik_fixed would
    # execute the duration-series subplan twice)
    def fit_row(pdf) -> dict:
        x = pdf["v"].to_numpy(dtype=_np.float64)
        r = acd_stats.fit_series(x, theta0, spec)
        ll0 = acd_stats.loglik_at_params(x, 0.2, [0.2], [0.3], spec)
        return {"loglik0_raw": [ll0], "converged": [r["converged"]], "fit_improved": [r["loglik"] >= ll0]}

    out = recursion.per_key(series, ["key"], "t", ["v"], fields, fit_row)
    return out.select(
        "key", _sci(F.col("loglik0_raw")).alias("loglik0"), "converged", "fit_improved"
    )


_SQL_ACD_FIT = """
WITH RECURSIVE e AS (
  SELECT DISTINCT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
d AS (
  SELECT key, t, t - lag(t) OVER (PARTITION BY key ORDER BY t) AS dur FROM e
),
s AS (
  SELECT key, t,
         CAST(dur AS DOUBLE) / (CAST(sum(dur) OVER (PARTITION BY key) AS DOUBLE)
                                / count(dur) OVER (PARTITION BY key)) AS v
  FROM d WHERE dur IS NOT NULL
),
idx AS (
  SELECT key, t, v, row_number() OVER (PARTITION BY key ORDER BY t) AS i,
         count(*) OVER (PARTITION BY key) AS n
  FROM s
),
rec AS (
  -- psi_1 = omega + alpha*mu0 + beta*mu0, mu0 = omega/(1-alpha-beta) — the
  -- kernel's uncond-mean init (psi.rs:403-427) and exact op order.
  -- acc carries the RUNNING loglik in i order so the accumulation is
  -- the kernel's sequential try_fold (psi.rs:202-220), not an
  -- unordered aggregate whose rounding could differ at the last digit
  SELECT x.key, 1 AS i, x.n,
         0.2 + 0.2 * (0.2 / (1.0 - 0.2 - 0.3)) + 0.3 * (0.2 / (1.0 - 0.2 - 0.3)) AS psi,
         -(x.v / (0.2 + 0.2 * (0.2 / (1.0 - 0.2 - 0.3)) + 0.3 * (0.2 / (1.0 - 0.2 - 0.3))))
           - ln(0.2 + 0.2 * (0.2 / (1.0 - 0.2 - 0.3)) + 0.3 * (0.2 / (1.0 - 0.2 - 0.3))) AS acc
  FROM idx x WHERE x.i = 1
  UNION ALL
  SELECT r.key, r.i + 1, r.n,
         0.2 + 0.2 * xp.v + 0.3 * r.psi AS psi,
         r.acc + (-(xn.v / (0.2 + 0.2 * xp.v + 0.3 * r.psi))
                  - ln(0.2 + 0.2 * xp.v + 0.3 * r.psi)) AS acc
  FROM rec r
  JOIN idx xp ON xp.key = r.key AND xp.i = r.i
  JOIN idx xn ON xn.key = r.key AND xn.i = r.i + 1
  WHERE r.i < r.n
),
ll AS (
  SELECT key, acc AS loglik0 FROM rec WHERE i = n
)
SELECT key, printf('%.5e', loglik0) AS loglik0,
       TRUE AS converged, TRUE AS fit_improved
FROM ll
"""


#: fixed θ for the covariance gate (θ-space literals, not params —
#: avoids gating on params_to_theta's inverse transform): ω=softplus(−1.5)
#: ≈0.2014, softmax(−0.5,−0.3) → α≈0.264, β≈0.323 — comfortably inside
#: the stationarity region, same freeze convention as the loglik queries
_COV_THETA = (-1.5, -0.5, -0.3)
_COV_BANDWIDTH = 8


def _q_acd_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-θ ACD(1,1) parameter covariance per event_type — the ONE
    reference entry point previously without its own driver gate
    (ACD.covariance_matrix, src/lib.rs:491-505). Exercises the full
    hessian.rs:139-149 pipeline END-TO-END per key: score matrix
    (model_internals.rs:276-310) → HAC S (hac.rs:337-361, Bartlett,
    fixed bandwidth) → FD Hessian of the analytic gradient
    (finite_diff.rs:239-254) → eigen pseudo-inverse (λ>1e-10,
    hessian.rs:325-344) → classical J⁺ AND robust sandwich J⁺SJ⁺
    (hessian.rs:238-298) → delta method to (ω,α,β) space
    (transformations.rs:495-513, acd.rs:482).

    θ is FROZEN (module literal) so the pipeline is deterministic and
    oracle-able: the oracle is an independent numpy recompute of the
    same math (tools/acd_cov_recompute.py — no engine imports), frozen
    as VALUES literals after being verified identical (same pattern as
    the dedup oracles)."""
    import numpy as _np
    from pyspark.sql import types as _T

    series = _duration_series(spark, sf_dir)
    spec = acd_stats.AcdSpec(p=1, q=1)
    theta = _np.array(_COV_THETA, dtype=_np.float64)
    fields = [
        _T.StructField("cov_classical_arr", _T.ArrayType(_T.DoubleType())),
        _T.StructField("cov_robust_arr", _T.ArrayType(_T.DoubleType())),
    ]

    def cov_row(pdf) -> dict:
        x = pdf["v"].to_numpy(dtype=_np.float64)
        classical = acd_stats.covariance_series(x, theta, spec, robust=False)
        robust = acd_stats.covariance_series(
            x, theta, spec, robust=True, kernel="bartlett", bandwidth=_COV_BANDWIDTH
        )
        return {"cov_classical_arr": [classical.reshape(-1).tolist()],
                "cov_robust_arr": [robust.reshape(-1).tolist()]}

    out = recursion.per_key(series, ["key"], "t", ["v"], fields, cov_row)
    return out.select(
        "key",
        F.posexplode(F.arrays_zip("cov_classical_arr", "cov_robust_arr")).alias("pos", "z"),
    ).select(
        "key",
        (F.col("pos") / 3).cast("int").alias("i"),
        F.pmod(F.col("pos"), F.lit(3)).cast("int").alias("j"),
        _sci(F.col("z.cov_classical_arr")).alias("cov_classical"),
        _sci(F.col("z.cov_robust_arr")).alias("cov_robust"),
    )


def _q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT thresholded Jaccard join at scale via prefix filtering
    (dedup.ngram_jaccard_threshold_pairs — Bayardo et al. WWW'07): only
    each document's rarest ``|S|−⌈t·|S|⌉+1`` shingles are indexed, with
    a pigeonhole guarantee that no qualifying pair is lost; candidates
    are verified with exact ``array_intersect``. The oracle is the
    UNPRUNED full inverted-index join in DuckDB filtered at the same
    threshold — so this gate checks the pruning's exactness claim
    itself, not just the arithmetic. (Scalable exact companion to the
    unthresholded ``ngram_jaccard`` reporter and the LSH-candidates
    ``lsh_jaccard_verify`` path.)"""
    out = dedup_ops.ngram_jaccard_threshold_pairs(
        _documents_par(spark, sf_dir), threshold=0.5, shingle_k=3
    )
    return out.select("id_a", "id_b", "inter", "union_sz", "jaccard")


_SQL_JACCARD_PREFIX = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN list_transform(range(len(ws) - 2),
                                  i -> array_to_string(ws[i + 1 : i + 3], ' '))
              ELSE [array_to_string(ws, ' ')] END AS sh
  FROM w
),
tok AS (SELECT doc_id, unnest(list_distinct(sh)) AS t FROM s),
sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(inter AS INTEGER) AS inter,
       CAST(za.sz + zb.sz - inter AS INTEGER) AS union_sz,
       CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) AS jaccard
FROM inter
JOIN sz za ON za.doc_id = id_a
JOIN sz zb ON zb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.5
"""


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → transitive CLUSTERS via distributed connected
    components (graph.connected_components — alternating large-star/
    small-star, Kiveris et al. SoCC'14, O(log² n) rounds of two
    shuffles each; no driver-side adjacency, convergence detected by a
    two-scalar edge-set signature). Edges are the exact thresholded
    Jaccard pairs (the prefix-filter gate's pair set), so the oracle
    can recompute BOTH stages live: the unpruned inverted-index join
    for the pairs, then a recursive-CTE min-label closure for the
    components. This gates the step every dedup pipeline needs after
    pair generation: a~b, b~c ⇒ {a,b,c} keep one."""
    pairs = dedup_ops.ngram_jaccard_threshold_pairs(
        _documents_par(spark, sf_dir), threshold=0.5, shingle_k=3
    )
    out = graph_ops.dedup_clusters(pairs, id_a="id_a", id_b="id_b")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


_SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN list_transform(range(len(ws) - 2),
                                  i -> array_to_string(ws[i + 1 : i + 3], ' '))
              ELSE [array_to_string(ws, ' ')] END AS sh
  FROM w
),
tok AS (SELECT doc_id, unnest(list_distinct(sh)) AS t FROM s),
sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sz za ON za.doc_id = id_a
  JOIN sz zb ON zb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
cc(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.v, c.comp FROM cc c JOIN edges e ON e.u = c.node
),
lab AS (SELECT node, min(comp) AS cluster_id FROM cc GROUP BY node),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT CAST(lab.node AS BIGINT) AS doc_id,
       CAST(lab.cluster_id AS BIGINT) AS cluster_id,
       CAST(sizes.cluster_size AS BIGINT) AS cluster_size
FROM lab JOIN sizes USING (cluster_id)
"""


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (operators/decontam.py ngram_overlap —
    the GPT-3-appendix-C-style n-gram collision scan): documents are
    deterministically split train/val/test (sampling.stable_split, the
    live-SQL-oracle-able hash), then every TEST doc's distinct word
    8-grams are probed against the DISTINCT n-gram set of the TRAIN
    corpus with one equi-join; zero-gram docs keep a row (clean by
    definition). All JVM built-ins; the oracle recomputes the same
    split + gram derivation + semi-join live in DuckDB."""
    from rust_timeseries_spark.operators import decontam, sampling

    d = sampling.stable_split(_documents_par(spark, sf_dir), id_col="doc_id")
    train = d.where(F.col("split") == "train")
    ev = d.where(F.col("split") == "test")
    return decontam.ngram_overlap(ev, train, n=8)


_SQL_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         (xor(doc_id % 2147483648, doc_id // 2147483648) * 2654435761) % 4294967296 AS h
  FROM documents
),
lab AS (
  SELECT doc_id, ws,
         CASE WHEN h % 10 < 8 THEN 'train'
              WHEN h % 10 < 9 THEN 'val'
              ELSE 'test' END AS split
  FROM w
),
g AS (
  SELECT doc_id, split,
         CASE WHEN len(ws) >= 8
              THEN list_distinct(list_transform(range(len(ws) - 7),
                                 i -> array_to_string(ws[i + 1 : i + 8], ' ')))
              ELSE [] END AS grams
  FROM lab
),
tr AS (SELECT DISTINCT unnest(grams) AS t FROM g WHERE split = 'train'),
ev AS (SELECT doc_id, unnest(grams) AS t FROM g WHERE split = 'test'),
hits AS (
  SELECT doc_id, count(*) FILTER (WHERE t IN (SELECT t FROM tr)) AS n_hit
  FROM ev GROUP BY doc_id
)
SELECT g.doc_id,
       CAST(len(g.grams) AS BIGINT) AS n_ngrams,
       CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(CASE WHEN coalesce(hits.n_hit, 0) > 0 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
WHERE g.split = 'test'
"""


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (textops.
    with_repetition_stats — top-2/3-gram character-share and duplicate-
    5-gram instance fraction, Rae et al. 2021 §A1.1 adapted to
    single-line docs). Pure array expressions — a codegen'd projection
    whose only Exchange is the `_documents_par` harness repartition
    (single-row-group testdata caps the scan at ~2 tasks; the O(m²)
    per-doc expression tree serializes on one core at 50k docs
    without it — measured 20+ min → ~1 min at sf1); ratios are exact
    int/int IEEE divisions so the oracle compares hash-exact without
    rounding conventions."""
    d = textops.with_repetition_stats(_documents_par(spark, sf_dir))
    return d.select(
        "doc_id", "top2gram_frac", "top3gram_frac", "dup5gram_frac"
    )


_SQL_TEXT_REPETITION = """
WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id, text,
         CASE WHEN len(ws) >= 2 THEN list_transform(range(len(ws) - 1),
              i -> array_to_string(ws[i + 1 : i + 2], ' ')) ELSE [] END AS g2,
         CASE WHEN len(ws) >= 3 THEN list_transform(range(len(ws) - 2),
              i -> array_to_string(ws[i + 1 : i + 3], ' ')) ELSE [] END AS g3,
         CASE WHEN len(ws) >= 5 THEN list_transform(range(len(ws) - 4),
              i -> array_to_string(ws[i + 1 : i + 5], ' ')) ELSE [] END AS g5
  FROM w
)
SELECT doc_id,
       CASE WHEN len(g2) > 0 THEN
         CAST(list_max(list_transform(list_distinct(g2),
              x -> len(list_filter(g2, y -> y = x)) * length(x))) AS DOUBLE)
         / length(text) ELSE 0.0 END AS top2gram_frac,
       CASE WHEN len(g3) > 0 THEN
         CAST(list_max(list_transform(list_distinct(g3),
              x -> len(list_filter(g3, y -> y = x)) * length(x))) AS DOUBLE)
         / length(text) ELSE 0.0 END AS top3gram_frac,
       CASE WHEN len(g5) > 0 THEN
         CAST(len(g5) - len(list_filter(list_transform(list_distinct(g5),
              x -> len(list_filter(g5, y -> y = x))), c -> c = 1)) AS DOUBLE)
         / len(g5) ELSE 0.0 END AS dup5gram_frac
FROM g
"""


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing gate (textops.redact_pii): the synthetic corpus
    contains no PII, so the gate first INJECTS deterministic pseudo-PII
    — an email for doc_id%4==0, a phone for %4==1, an IPv4 for %4==2,
    untouched for %4==3 — with the identical concat/lpad expression on
    both engines, then redacts and counts. Because the injection is
    bit-identical cross-engine, the value hash genuinely pins the regex
    behavior (count + replacement) of Java regex vs RE2 on the
    conservative Java∩RE2∩`re` pattern subset in
    ``textops.PII_PATTERNS``; the redacted TEXT itself is a compared
    column, so a single divergent match anywhere fails the gate."""
    d = _documents_par(spark, sf_dir)
    did = F.col("doc_id")
    inj = d.select(
        "doc_id",
        F.when(
            did % 4 == 0,
            F.concat(F.col("text"), F.lit(" contact "), F.col("source"),
                     F.lit(".user+tag@mail.example.com ok")),
        ).when(
            did % 4 == 1,
            F.concat(F.col("text"), F.lit(" call +1-800-"),
                     F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
                     F.lpad((did % 10000).cast("string"), 4, "0"), F.lit(" now")),
        ).when(
            did % 4 == 2,
            F.concat(F.col("text"), F.lit(" from 10."),
                     (did % 256).cast("string"), F.lit("."),
                     ((did * 7) % 256).cast("string"), F.lit("."),
                     ((did * 13) % 256).cast("string")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return textops.redact_pii(inj).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "text_redacted"
    )


# regex literals mirror textops.PII_PATTERNS exactly (Java∩RE2∩re
# subset); DuckDB string literals keep backslashes raw, and the 'g'
# flag matches Spark regexp_replace's replace-all default
_SQL_PII_REDACT = r"""
WITH inj AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN concat(text, ' contact ', source, '.user+tag@mail.example.com ok')
           WHEN 1 THEN concat(text, ' call +1-800-',
                              lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
                              lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' now')
           WHEN 2 THEN concat(text, ' from 10.', CAST(doc_id % 256 AS VARCHAR), '.',
                              CAST((doc_id * 7) % 256 AS VARCHAR), '.',
                              CAST((doc_id * 13) % 256 AS VARCHAR))
           ELSE text
         END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
       regexp_replace(regexp_replace(regexp_replace(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '<PHONE>', 'g'),
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS text_redacted
FROM inj
"""


#: embedding near-dup gate params — must match tools/gen_frozen_oracles
_EMB_ND = dict(threshold=0.35, n_bits=4, n_tables=8, seed=42, dim=64)


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via the SCALE route (sign-LSH
    bucketing, dedup.py:embedding_near_dup_pairs — no full self-join;
    the plan audit asserts no cartesian anywhere): pairs form only
    inside (table, bucket) cells, exact cosine computed JVM-side on the
    candidates. The testdata embeddings contain no true near-dups (max
    pairwise cosine ≈ 0.51), so the threshold sits at the top-0.2 %
    cosine tail to make the result non-trivial. Oracle: frozen VALUES
    from an independent numpy recompute of the same seeded bucketing +
    exact cosine (tools/gen_frozen_oracles.py), pinning exactly the
    pairs the bucket-join emits; LSH recall itself is pinned by the
    planted-cluster pytest."""
    emb = _embeddings(spark, sf_dir)
    pairs = dedup_ops.embedding_near_dup_pairs(
        emb, threshold=_EMB_ND["threshold"], dim=_EMB_ND["dim"],
        n_bits=_EMB_ND["n_bits"], n_tables=_EMB_ND["n_tables"],
        seed=_EMB_ND["seed"],
    )
    return pairs.select("id_a", "id_b", _sci(F.col("cosine")).alias("cosine"))


def _q_acd_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box + excess-dispersion residual diagnostics at fixed
    θ₀=(ω=0.2, α=0.2, β=0.3) per event_type — the first reference-
    roadmap GoF test landed (reference README.md:406-409), gated like
    ``el_test``. Residuals ε̂=x/ψ come from the engine ψ kernel
    (stats/gof.acd_residuals); the diagnostics are pure JVM windows +
    one aggregate (stats/gof.ljung_box_excess_dispersion). The oracle
    reruns the ψ recursion as a RECURSIVE CTE (the loglik-oracle
    pattern) and the LB/χ²(4)/dispersion algebra with the same
    parenthesization."""
    from rust_timeseries_spark.stats import gof as gof_stats

    series = _duration_series(spark, sf_dir)
    spec = acd_stats.AcdSpec(p=1, q=1)
    res = gof_stats.acd_residuals(series, ["key"], spec, 0.2, [0.2], [0.3])
    out = gof_stats.ljung_box_excess_dispersion(res, ["key"], m=4)
    return out.select(
        "key", "n",
        _sci(F.col("lb_stat")).alias("lb_stat"),
        _sci(F.col("lb_pvalue")).alias("lb_pvalue"),
        _sci(F.col("excess_dispersion")).alias("excess_dispersion"),
        "error",
    )


_SQL_ACD_GOF = """
WITH RECURSIVE e AS (
  SELECT DISTINCT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
d AS (
  SELECT key, t, t - lag(t) OVER (PARTITION BY key ORDER BY t) AS dur FROM e
),
s AS (
  SELECT key, t,
         CAST(dur AS DOUBLE) / (CAST(sum(dur) OVER (PARTITION BY key) AS DOUBLE)
                                / count(dur) OVER (PARTITION BY key)) AS v
  FROM d WHERE dur IS NOT NULL
),
idx AS (
  SELECT key, t, v, row_number() OVER (PARTITION BY key ORDER BY t) AS i,
         count(*) OVER (PARTITION BY key) AS n
  FROM s
),
rec AS (
  -- psi recursion, uncond-mean init, kernel op order (= the acd_fit /
  -- loglik oracles)
  SELECT x.key, 1 AS i, x.n,
         0.2 + 0.2 * (0.2 / (1.0 - 0.2 - 0.3)) + 0.3 * (0.2 / (1.0 - 0.2 - 0.3)) AS psi
  FROM idx x WHERE x.i = 1
  UNION ALL
  SELECT r.key, r.i + 1, r.n,
         0.2 + 0.2 * xp.v + 0.3 * r.psi AS psi
  FROM rec r
  JOIN idx xp ON xp.key = r.key AND xp.i = r.i
  WHERE r.i < r.n
),
eps AS (
  SELECT r.key, r.i, x.v / r.psi AS eps
  FROM rec r JOIN idx x ON x.key = r.key AND x.i = r.i
),
mkey AS (SELECT key, sum(eps) / count(*) AS ebar FROM eps GROUP BY key),
dv AS (
  SELECT eps.key, eps.i, eps.eps - m.ebar AS dev
  FROM eps JOIN mkey m ON eps.key = m.key
),
lagged AS (
  SELECT key, dev,
         lag(dev, 1) OVER w AS l1, lag(dev, 2) OVER w AS l2,
         lag(dev, 3) OVER w AS l3, lag(dev, 4) OVER w AS l4
  FROM dv WINDOW w AS (PARTITION BY key ORDER BY i)
),
agg AS (
  SELECT key, CAST(count(dev) AS DOUBLE) AS nd, count(dev) AS n,
         sum(dev * dev) AS s0,
         sum(dev * l1) AS g1, sum(dev * l2) AS g2,
         sum(dev * l3) AS g3, sum(dev * l4) AS g4
  FROM lagged GROUP BY key
),
q AS (
  SELECT key, n, nd, s0,
         nd * (nd + 2.0) * (
           ((g1 / s0) * (g1 / s0)) / (nd - 1)
           + ((g2 / s0) * (g2 / s0)) / (nd - 2)
           + ((g3 / s0) * (g3 / s0)) / (nd - 3)
           + ((g4 / s0) * (g4 / s0)) / (nd - 4)
         ) AS lb
  FROM agg
)
SELECT key, CAST(n AS BIGINT) AS n,
       printf('%.5e', lb) AS lb_stat,
       printf('%.5e', exp(-(lb / 2.0))
              * (pow(lb / 2.0, 0.0) / 1.0 + pow(lb / 2.0, 1.0) / 1.0)) AS lb_pvalue,
       printf('%.5e', sqrt(nd / 8.0) * (s0 / nd - 1.0)) AS excess_dispersion,
       CAST(NULL AS VARCHAR) AS error
FROM q
"""


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = textops.with_quality_score(textops.with_token_counts(_documents_par(spark, sf_dir)))
    return d.select(
        "doc_id", "n_ws_tokens", "n_distinct_tokens", "ttr",
        "mean_word_len", "alpha_ratio", "dup_word_ratio", "quality_score",
    )


_SQL_TEXT_QUALITY = """
WITH w AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       n_words AS n_ws_tokens,
       len(list_distinct(words)) AS n_distinct_tokens,
       CAST(len(list_distinct(words)) AS DOUBLE) / n_words AS ttr,
       CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS mean_word_len,
       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / greatest(n_chars, 1) AS alpha_ratio,
       1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / n_words AS dup_word_ratio,
       0.3 * (CASE WHEN CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words >= 2.0
                    AND CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words <= 12.0 THEN 1.0 ELSE 0.0 END)
       + 0.3 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / greatest(n_chars, 1))
       + 0.2 * (CAST(len(list_intersect(words, ['the','and','of','to','a','in','is','it','that','for'])) AS DOUBLE) / 10)
       + 0.2 * (1.0 - (1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / n_words)) AS quality_score
FROM w
"""


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.with_lang_id(_documents_par(spark, sf_dir)).select("doc_id", "lang_pred", "lang_hits")


_SQL_LANG_ID = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
hits AS (
  SELECT doc_id, l.lang,
         len(list_filter(words, x -> list_contains(l.stop, x))) AS hits
  FROM w
  CROSS JOIN (
    SELECT * FROM (VALUES
      ('de', ['der','die','das','und','ist','nicht','ein','mit','für','auf']),
      ('en', ['the','and','of','to','a','in','is','it','that','for']),
      ('es', ['el','la','los','que','de','es','un','una','por','para']),
      ('fr', ['le','la','les','et','est','un','une','pour','dans','que'])
    ) t(lang, stop)
  ) l
),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
  FROM hits
)
SELECT doc_id,
       CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred,
       hits AS lang_hits
FROM best WHERE rn = 1
"""


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup fingerprints (md5 variants so DuckDB can mirror them)."""
    d = _documents_par(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    bag = F.array_join(F.array_sort(F.array_distinct(F.split(norm, " "))), " ")
    return d.select(
        "doc_id", "source",
        F.md5(norm).alias("fp_exact_md5"),
        F.md5(bag).alias("fp_bag_md5"),
    )


_SQL_FINGERPRINTS = """
SELECT doc_id, source,
       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_exact_md5,
       md5(array_to_string(list_sort(list_distinct(string_split(
            regexp_replace(lower(text), '\s+', ' ', 'g'), ' '))), ' ')) AS fp_bag_md5
FROM documents
"""


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    emb = _embeddings(spark, sf_dir)
    qs = emb.where(F.col("vec_id") < 10)
    out = sim_ops.cosine_topk_bruteforce(emb, qs, k=5)
    return out.select("query_id", "corpus_id", "rank", _sci(F.col("cosine")).alias("cosine"))


_SQL_KNN = """
WITH v AS (
  SELECT vec_id, embedding,
         sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM unnest(embedding) AS t(x))) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, v.vec_id AS corpus_id,
         list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(v.embedding AS DOUBLE[])) / (q.qn * v.nrm) AS cosine
  FROM q JOIN v ON v.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, corpus_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, CAST(rank AS INTEGER) AS rank, printf('%.5e', cosine) AS cosine
FROM ranked WHERE rank <= 5
"""


def _q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means coarse quantizer → cell-bucketed probe,
    operators/similarity.py:cosine_topk_ivf) run with nprobe = n_cells,
    which provably degenerates to exact brute force — so it answers to
    the SAME oracle as ``embedding_knn``. Recall at small probe budgets
    is pinned by tests/test_dataops.py::test_ivf_recall_on_clustered_vectors."""
    emb = _embeddings(spark, sf_dir)
    qs = emb.where(F.col("vec_id") < 10)
    out = sim_ops.cosine_topk_ivf(emb, qs, k=5, n_cells=8, nprobe=8)
    return out.select("query_id", "corpus_id", "rank", _sci(F.col("cosine")).alias("cosine"))


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (signatures/banding are engine-native
    xxhash64 — rows-only; semantics tested in tests/test_dataops.py)."""
    return dedup_ops.minhash_dedup_pairs(
        _documents_par(spark, sf_dir), shingle_k=3, num_perm=32, bands=8,
        rows_per_band=4, threshold=0.5,
    )


def _q_lsh_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-correct exact-Jaccard pipeline: MinHash-LSH candidate
    generation → EXACT set-Jaccard verification via ``array_intersect``
    on candidate pairs only (no inverted-index self-join anywhere).
    Frozen oracle from the independent pure-Python recompute
    (tools/gen_frozen_oracles.py lsh_verified_pairs_py)."""
    return dedup_ops.lsh_verified_pairs(
        _documents_par(spark, sf_dir), shingle_k=3, num_perm=32, bands=8,
        rows_per_band=4, threshold=0.5,
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the guaranteed-recall radius: 8×8-bit
    chunk buckets cover Hamming distance ≤ 7 by pigeonhole, so the
    engine output equals the exact all-pairs result — which the frozen
    oracle recomputes independently (pure-Python xxhash64 + bit-vote,
    tools/gen_frozen_oracles.py) and pins as a VALUES literal."""
    return dedup_ops.simhash_near_pairs(_documents_par(spark, sf_dir), max_hamming=7, n_chunks=8)


def _q_compression_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla/delta-of-delta round-trip: the 1h tier is packed into
    per-(key, day) binary blocks and decoded back; the oracle is the
    plain 1h rollup — exact equality proves decode∘encode = identity.
    tok_sum is scaled to integer centi-units for the int64 codec.
    Encode runs the mapInArrow columnar path (the scale path — ~1.45×
    the grouped applyInPandas variant, byte-identical blocks:
    tests/test_compression.py::test_compress_tier_arrow_identical)."""
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    t1h = t1h.select(
        F.col("event_type").alias("source"), "bucket_ts",
        F.round(F.col("tok_sum") * 100).cast("long").alias("tok_sum"),
        "tok_count",
        F.round(F.col("tok_min") * 100).cast("long").alias("tok_min"),
        F.round(F.col("tok_max") * 100).cast("long").alias("tok_max"),
    )
    blocks = compress_ops.compress_tier_arrow(t1h, "1d")
    back = compress_ops.decompress_blocks(blocks)
    return back.select(
        F.col("source").alias("event_type"), "bucket_ts",
        "tok_sum", "tok_count", "tok_min", "tok_max",
    )


_SQL_COMPRESSION_ROUNDTRIP = """
WITH e AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, value
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
)
SELECT event_type, bucket_ts,
       CAST(round(sum(value) * 100) AS BIGINT) AS tok_sum,
       count(value) AS tok_count,
       CAST(round(min(value) * 100) AS BIGINT) AS tok_min,
       CAST(round(max(value) * 100) AS BIGINT) AS tok_max
FROM e GROUP BY event_type, bucket_ts
"""


#: synthetic media fixture sizes for the multimodal driver queries —
#: deterministic and sf-independent (there is no binary testdata table;
#: payloads are generated from closed-form integer formulas so the
#: oracle recomputes features WITHOUT the binary containers, proving
#: decode∘encode = identity + the feature math end-to-end)
_N_MEDIA = 240
_N_AUDIO = 60


def _q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP/PPM decode: per-source means of per-image resized
    channel means. The oracle derives the same numbers from the pixel
    formula (multimodal.media_pixel_formula) in pure SQL."""
    media = multimodal.synthetic_media_table(spark, _N_MEDIA)
    feats = multimodal.image_features(media, resize_to=8)
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("width").alias("sum_width"),
        F.sum("height").alias("sum_height"),
        _sci(F.avg(F.element_at("feat", 1))).alias("mean_r"),
        _sci(F.avg(F.element_at("feat", 2))).alias("mean_g"),
        _sci(F.avg(F.element_at("feat", 3))).alias("mean_b"),
    )


_SQL_IMAGE_FEATURES = f"""
WITH ids AS (SELECT unnest(range({_N_MEDIA})) AS id),
dims AS (
  SELECT id, 32 + (id * 13) % 97 AS w, 32 + (id * 17) % 61 AS h,
         (['web', 'books', 'video'])[(id % 3) + 1] AS source
  FROM ids
),
grid AS (
  SELECT d.id, d.w, d.h, d.source,
         (gy.i * (d.h - 1)) // 7 AS y, (gx.i * (d.w - 1)) // 7 AS x
  FROM dims d, (SELECT unnest(range(8)) AS i) gy, (SELECT unnest(range(8)) AS i) gx
),
px AS (
  SELECT g.id, g.source, g.w, g.h, ch.c,
         (7 * g.id + 3 * g.y + 5 * g.x + 11 * ch.c) % 256 AS v
  FROM grid g, (SELECT unnest(range(3)) AS c) ch
),
per_media AS (
  SELECT id, source, c, max(w) AS w, max(h) AS h, sum(v) / 64.0 AS chan_mean
  FROM px GROUP BY id, source, c
),
wide AS (
  SELECT id, source, max(w) AS w, max(h) AS h,
         max(CASE WHEN c = 0 THEN chan_mean END) AS m_r,
         max(CASE WHEN c = 1 THEN chan_mean END) AS m_g,
         max(CASE WHEN c = 2 THEN chan_mean END) AS m_b
  FROM per_media GROUP BY id, source
)
SELECT source, count(*) AS n_media,
       CAST(sum(w) AS BIGINT) AS sum_width, CAST(sum(h) AS BIGINT) AS sum_height,
       printf('%.5e', avg(m_r)) AS mean_r,
       printf('%.5e', avg(m_g)) AS mean_g,
       printf('%.5e', avg(m_b)) AS mean_b
FROM wide GROUP BY source
"""


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV PCM16 decode: per-source clip counts, exact total
    samples / zero-crossings (int), mean RMS. Oracle recomputes the
    integer sawtooth (multimodal.audio_wave_formula) in SQL."""
    audio = multimodal.synthetic_audio_table(spark, _N_AUDIO)
    feats = multimodal.audio_features(audio)
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("n_samples").alias("total_samples"),
        F.sum("zero_crossings").alias("total_zero_crossings"),
        _sci(F.avg("rms")).alias("mean_rms"),
    )


_SQL_AUDIO_FEATURES = f"""
WITH ids AS (SELECT unnest(range({_N_AUDIO})) AS id),
clips AS (
  SELECT id, 8000 * (1 + id % 3) AS n,
         (['web', 'books', 'video'])[(id % 3) + 1] AS source
  FROM ids
),
samples AS (
  SELECT c.id, c.n, c.source, s.i,
         ((s.i * (3 + c.id % 5) + c.id * 7) % 2001) - 1000 AS v
  FROM clips c, LATERAL (SELECT unnest(range(c.n)) AS i) s
),
lagged AS (
  SELECT id, n, source, v,
         lag(v) OVER (PARTITION BY id ORDER BY i) AS pv
  FROM samples
),
per_clip AS (
  SELECT id, source, max(n) AS n,
         sqrt(sum(CAST(v AS BIGINT) * v) / max(n)) AS rms,
         sum(CASE WHEN pv IS NOT NULL AND ((v >= 0) != (pv >= 0)) THEN 1 ELSE 0 END) AS zc
  FROM lagged GROUP BY id, source
)
SELECT source, count(*) AS n_clips,
       CAST(sum(n) AS BIGINT) AS total_samples,
       CAST(sum(zc) AS BIGINT) AS total_zero_crossings,
       printf('%.5e', avg(rms)) AS mean_rms
FROM per_clip GROUP BY source
"""


_N_VIDEO = 120


def _q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real uncompressed-AVI decode (RIFF + DIB frames, pure numpy):
    frame sampling (stride 2) + 8×8 nearest-neighbor resize + channel
    means, aggregated per source. The oracle recomputes the sampled
    pixel grid from the closed-form frame formula
    (multimodal.video_pixel_formula) in SQL — proving decode∘encode =
    identity and the sampling/resize/mean math end-to-end."""
    vids = multimodal.synthetic_video_table(spark, _N_VIDEO)
    feats = multimodal.video_features(vids, every_n=2, resize_to=8)
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(F.col("n_frames").cast("long")).alias("total_frames"),
        F.sum(F.col("n_sampled").cast("long")).alias("total_sampled"),
        _sci(F.avg(F.element_at("feat", 1))).alias("mean_r"),
        _sci(F.avg(F.element_at("feat", 2))).alias("mean_g"),
        _sci(F.avg(F.element_at("feat", 3))).alias("mean_b"),
    )


_SQL_VIDEO_FEATURES = f"""
WITH ids AS (SELECT unnest(range({_N_VIDEO})) AS id),
dims AS (
  SELECT id, 16 + (id * 13) % 33 AS w, 16 + (id * 17) % 25 AS h,
         4 + id % 5 AS nf,
         (['web', 'books', 'video'])[(id % 3) + 1] AS source
  FROM ids
),
tf AS (
  SELECT d.id, d.w, d.h, d.nf, d.source, s.t
  FROM dims d, LATERAL (SELECT unnest(range(0, d.nf, 2)) AS t) s
),
grid AS (
  SELECT f.id, f.source, f.w, f.h, f.nf, f.t,
         (gy.i * (f.h - 1)) // 7 AS y, (gx.i * (f.w - 1)) // 7 AS x
  FROM tf f, (SELECT unnest(range(8)) AS i) gy, (SELECT unnest(range(8)) AS i) gx
),
px AS (
  SELECT g.id, g.source, g.nf, ch.c,
         (7 * g.id + 13 * g.t + 3 * g.y + 5 * g.x + 11 * ch.c) % 256 AS v
  FROM grid g, (SELECT unnest(range(3)) AS c) ch
),
per_clip AS (
  -- mean over (sampled frames × 8 × 8): exact integer sum, one division
  -- by the same double the numpy mean divides by
  SELECT id, source, c, max(nf) AS nf,
         ((max(nf) + 1) // 2) AS ns,
         sum(v) / (64.0 * ((max(nf) + 1) // 2)) AS chan_mean
  FROM px GROUP BY id, source, c
),
wide AS (
  SELECT id, source, max(nf) AS nf, max(ns) AS ns,
         max(CASE WHEN c = 0 THEN chan_mean END) AS m_r,
         max(CASE WHEN c = 1 THEN chan_mean END) AS m_g,
         max(CASE WHEN c = 2 THEN chan_mean END) AS m_b
  FROM per_clip GROUP BY id, source
)
SELECT source, count(*) AS n_clips,
       CAST(sum(nf) AS BIGINT) AS total_frames,
       CAST(sum(ns) AS BIGINT) AS total_sampled,
       printf('%.5e', avg(m_r)) AS mean_r,
       printf('%.5e', avg(m_g)) AS mean_g,
       printf('%.5e', avg(m_b)) AS mean_b
FROM wide GROUP BY source
"""


def _q_asof_join_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join — the trade-quote-style enrichment join
    (operators/asof.py): every event attaches the latest 1h-tier row at
    or before its timestamp, within a 30-minute tolerance, then rolls
    up per (event_type, day). Events in the first half of each hour
    match their own hour bucket (gap = t mod 3600 ≤ 1800); later events
    exceed the tolerance — both branches exercised deterministically.
    Engine path: union + ordered window (ONE shuffle, no nested-loop
    join — tests/test_asof.py pins the plan); oracle: DuckDB's native
    ASOF JOIN + the same tolerance filter. All outputs exact BIGINTs."""
    from rust_timeseries_spark.operators import asof as asof_ops

    ev = _events(spark, sf_dir)
    es = rollup.epoch_seconds(F.col("ts"), dict(ev.dtypes)["ts"])
    pts = ev.select(F.col("event_type"), es.alias("t"))
    t1h = rollup.rollup_raw(ev, "1h", ["event_type"], "ts", "value", epoch=True)
    right = t1h.select("event_type", F.col("bucket_ts").alias("t"), "tok_count")
    j = asof_ops.asof_join(pts, right, ["event_type"], tolerance=1800)
    day = (F.col("t") - F.pmod(F.col("t"), F.lit(86400))).alias("day")
    return j.groupBy("event_type", day).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("matched_ts").alias("n_matched"),
        F.sum("tok_count").alias("matched_tok_count"),
    )


_SQL_ASOF_JOIN_1H = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
r AS (
  SELECT event_type, es - es % 3600 AS bt, count(value) AS tok_count
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bt
),
j AS (
  SELECT e.event_type, e.t,
         CASE WHEN r.bt IS NOT NULL AND e.t - r.bt <= 1800 THEN r.bt END AS mt,
         CASE WHEN r.bt IS NOT NULL AND e.t - r.bt <= 1800 THEN r.tok_count END AS mc
  FROM e ASOF LEFT JOIN r ON e.event_type = r.event_type AND e.t >= r.bt
)
SELECT event_type, t - t % 86400 AS day,
       count(*) AS n_events,
       count(mt) AS n_matched,
       CAST(sum(mc) AS BIGINT) AS matched_tok_count
FROM j GROUP BY event_type, day
"""


def _q_interval_join_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join WITHOUT an inequality join
    (operators/asof.py interval_join): per (event_type, day) a
    deterministic maintenance window [day + h·3600, + (2 + day%5)·3600)
    is derived from the data, intervals explode to the buckets they
    overlap (bounded replication), points equi-join on their own bucket
    and an exact range refine keeps true containment — the plan is a
    hash join, never BroadcastNestedLoopJoin (tests/test_asof.py). The
    oracle runs the naive inequality join — gating that the bucketed
    plan loses and duplicates nothing."""
    from rust_timeseries_spark.operators import asof as asof_ops

    ev = _events(spark, sf_dir)
    es = rollup.epoch_seconds(F.col("ts"), dict(ev.dtypes)["ts"])
    pts = ev.select(F.col("event_type"), es.alias("t"))
    day = F.col("t") - F.pmod(F.col("t"), F.lit(86400))
    days = pts.select("event_type", day.alias("day")).distinct()
    dnum = F.floor(F.col("day") / 86400)
    ivl = days.select(
        "event_type",
        (F.col("day") + 3600 * F.pmod(dnum, F.lit(7))).alias("istart"),
        (F.col("day") + 3600 * F.pmod(dnum, F.lit(7))
         + 3600 * (2 + F.pmod(dnum, F.lit(5)))).alias("iend"),
    )
    j = asof_ops.interval_join(
        pts, ivl, ["event_type"], start_col="istart", end_col="iend"
    )
    return j.groupBy("event_type", "istart").agg(
        F.count(F.lit(1)).alias("n_points"),
    )


_SQL_INTERVAL_JOIN_1D = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
),
d AS (SELECT DISTINCT event_type, t - t % 86400 AS day FROM e),
iv AS (
  SELECT event_type,
         day + 3600 * ((day // 86400) % 7) AS istart,
         day + 3600 * ((day // 86400) % 7) + 3600 * (2 + (day // 86400) % 5) AS iend
  FROM d
)
SELECT e.event_type, iv.istart AS istart, count(*) AS n_points
FROM e JOIN iv ON e.event_type = iv.event_type
              AND e.t >= iv.istart AND e.t < iv.iend
GROUP BY e.event_type, iv.istart
"""


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup (streaming/dedup_stream.py —
    ``dropDuplicatesWithinWatermark``): the event stream is replayed
    with every row duplicated across two files (plus a partial
    third replay of early rows), the stream dedups on event_id with a
    delay spanning the whole replay (state never evicts), and the
    surviving rows must aggregate to EXACTLY the batch rollup of the
    original events — the same 1d-shape oracle family as
    ``distinct_users_1d``. The watermark-eviction boundary (a
    NEWER-timestamped duplicate arriving after state eviction
    re-emits; same-time duplicates are always dropped — by state or by
    the late filter) is pinned by
    tests/test_streaming.py::test_dedup_stream_watermark_eviction."""
    import shutil
    import tempfile

    from rust_timeseries_spark.streaming import dedup_stream

    ev = _events(spark, sf_dir)
    es = rollup.epoch_seconds(F.col("ts"), dict(ev.dtypes)["ts"])
    base = ev.select(
        "event_id", "event_type", es.alias("t"), "value"
    )
    work = tempfile.mkdtemp(prefix="rts_sdedup_")
    in_dir, ckpt = f"{work}/in", f"{work}/ckpt"
    try:
        mid = base.agg(((F.min("t") + F.max("t")) / 2).cast("long").alias("m")).collect()[0]["m"]
        # replay group 1: full copy; group 2: full copy again (every
        # row a duplicate) + the early half a THIRD time. r6: each
        # group is 4 part files written in parallel (the old
        # coalesce(1) serialized a ~30 MB parquet write onto one task,
        # twice); every file in a group gets the SAME forced mtime and
        # maxFilesPerTrigger matches the group size, so the file
        # source's (mtime, path) ordering still yields exactly one
        # micro-batch per replay group — identical batch contents,
        # state transitions and output.
        n_parts = 4
        base.coalesce(n_parts).write.mode("append").parquet(in_dir)
        first = {f for f in os.listdir(in_dir) if f.endswith(".parquet")}
        base.unionByName(base.where(F.col("t") < mid)).coalesce(n_parts).write.mode("append").parquet(in_dir)
        first_mt = max(os.path.getmtime(os.path.join(in_dir, f)) for f in first)
        for f in os.listdir(in_dir):
            p = os.path.join(in_dir, f)
            if not f.endswith(".parquet"):
                continue
            if f in first:
                os.utime(p, (first_mt, first_mt))
            else:
                os.utime(p, (first_mt + 10.0, first_mt + 10.0))
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", n_parts).parquet(in_dir)
        )
        deduped = dedup_stream.dedup_stream(
            stream, keys=["event_id"], ts_col="t",
            delay="3650 days", epoch_seconds_col=True,
        )
        # JVM-side per-batch parquet appends + eager checkpoint instead
        # of collecting every batch's rows through the Python driver
        res_dir = f"{work}/res"
        # created up front: zero micro-batches read back as an empty
        # frame of the stream's schema, not a missing path
        os.makedirs(res_dir)

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(res_dir)

        q = (
            deduped.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("streaming_dedup did not drain within 600s")
        res = spark.read.schema(deduped.schema).parquet(res_dir).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    day = (F.col("t") - F.pmod(F.col("t"), F.lit(86400))).alias("day")
    return res.groupBy("event_type", day).agg(
        F.count(F.lit(1)).alias("n_events"),
        _r2(F.sum("value")).alias("value_sum"),
    )


_SQL_STREAMING_DEDUP = """
SELECT event_type,
       es - es % 86400 AS day,
       count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
GROUP BY event_type, day
"""


def _q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/sampling.py
    stable_split — Fibonacci multiplicative hash, Knuth's 2654435761):
    pure BIGINT arithmetic both engines execute identically, so the
    oracle is live SQL. Unlike randomSplit, adding documents later
    never reshuffles existing assignments — the property training-data
    pipelines actually need. Aggregated per (split, source) with exact
    integer outputs."""
    from rust_timeseries_spark.operators import sampling

    d = textops.with_token_counts(_documents(spark, sf_dir))
    s = sampling.stable_split(d, id_col="doc_id")
    return s.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws_tokens").alias("tok_sum"),
    )


_SQL_DOC_SPLIT = """
WITH d AS (
  SELECT source, len(string_split(text, ' ')) AS nt,
         (xor(doc_id % 2147483648, doc_id // 2147483648) * 2654435761) % 4294967296 AS h
  FROM documents
),
lab AS (
  SELECT source, nt,
         CASE WHEN h % 10 < 8 THEN 'train'
              WHEN h % 10 < 9 THEN 'val'
              ELSE 'test' END AS split
  FROM d
)
SELECT split, source, count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS tok_sum
FROM lab GROUP BY split, source
"""


#: fixed probe queries for the BM25 gate — corpus-vocabulary words so
#: posting lists are non-trivial; literal VALUES on both engines
_BM25_QUERIES = [
    (1, "spark join table"),
    (2, "window merge sort"),
    (3, "stream batch data filter"),
    (4, "customer line part"),
]


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-k retrieval (operators/retrieval.py bm25_topk):
    four fixed probe queries against the documents table, k=10.
    Everything cross-engine-pinned: avgdl is one division of exact
    integers, per-term contributions are identical left-associated
    IEEE expressions (float literals CAST to DOUBLE in the oracle —
    DuckDB parses bare 0.75 as DECIMAL), the per-doc score is an
    ordered fold in term order, and ranking rounds to 6dp before
    row_number with doc_id tie-break (round-before-rank, the pinned
    topk convention). Scores render `%.5e` like every transcendental-
    bearing statistic (ln is the one libm call — engines agree to an
    ulp, absorbed by the 6-sig-digit rendering)."""
    from rust_timeseries_spark.operators import retrieval

    d = _documents_par(spark, sf_dir)
    qs = spark.createDataFrame(_BM25_QUERIES, "query_id: long, query: string")
    out = retrieval.bm25_topk(d, qs, k=10, round_dp=6)
    return out.select(
        "query_id", "doc_id", _sci(F.col("score")).alias("score"), "rank"
    )


_SQL_BM25_TOPK = """
WITH ex AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
tfg AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
         CAST(first(dl) AS BIGINT) AS dl
  FROM ex GROUP BY doc_id, term
),
perdoc AS (SELECT doc_id, first(dl) AS dl FROM tfg GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM perdoc
),
dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfg GROUP BY term),
q AS (
  SELECT * FROM (VALUES (1, 'spark join table'), (2, 'window merge sort'),
                        (3, 'stream batch data filter'), (4, 'customer line part'))
       AS t(query_id, query)
),
qt AS (
  SELECT query_id, unnest(list_distinct(string_split(query, ' '))) AS term FROM q
),
hit AS (
  SELECT qt.query_id, tfg.doc_id, tfg.term,
         ln(CAST(1.0 AS DOUBLE)
            + (CAST(stats.n_docs - dfr.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
              / (CAST(dfr.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
           * CAST(tfg.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
           / (CAST(tfg.tf AS DOUBLE)
              + CAST(1.2 AS DOUBLE)
                * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * CAST(tfg.dl AS DOUBLE) / stats.avgdl))
           AS contrib
  FROM tfg JOIN qt USING (term) JOIN dfr USING (term), stats
),
sc AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_sort(list(struct_pack(t := term, c := contrib))),
                          x -> x.c)), (a, b) -> a + b) AS score
  FROM hit GROUP BY query_id, doc_id
),
rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       printf('%.5e', score) AS score, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 10
"""


def _q_doc_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling (operators/sampling.py
    mixture_sample): per-source token budgets — 1200/1900/2600 tokens
    by source index mod 3, a three-way mixture weighting — filled by
    the greedy hash-ordered prefix (docs ranked by the engine-portable
    Fibonacci hash, budget checked against tokens consumed BEFORE the
    doc, so each source overshoots by < 1 doc). Output rows are the
    SURVIVING docs with their cumulative token position — bounded by
    Σbudgets/mean_tok at any corpus scale, which is what makes the
    gate (and a real mixture manifest) cheap to materialize. Live SQL
    oracle: identical hash + window arithmetic in DuckDB."""
    from rust_timeseries_spark.operators import sampling

    d = textops.with_token_counts(_documents(spark, sf_dir)).select(
        "doc_id", "source", F.col("n_ws_tokens").alias("n_tok")
    )
    budgets = (
        d.select("source").distinct()
        .withColumn(
            "token_budget",
            (F.lit(1200)
             + F.lit(700) * (F.substring("source", 4, 10).cast("long") % 3)),
        )
    )
    m = sampling.mixture_sample(
        d, budgets, tokens_col="n_tok", group_col="source", id_col="doc_id"
    )
    return m.select(
        "doc_id", "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


_SQL_DOC_MIXTURE = """
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
         (xor(doc_id % 2147483648, doc_id // 2147483648) * 2654435761) % 4294967296 AS h
  FROM documents
),
b AS (
  SELECT DISTINCT source,
         1200 + 700 * (CAST(substr(source, 4, 10) AS BIGINT) % 3) AS bud
  FROM documents
),
c AS (
  SELECT d.doc_id, d.source, d.n_tok, b.bud,
         sum(d.n_tok) OVER (PARTITION BY d.source ORDER BY d.h, d.doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d JOIN b USING (source)
)
SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum AS BIGINT) AS cum_tokens
FROM c
WHERE cum - n_tok < bud
"""


def _q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (operators/sampling.py pack_sequences):
    documents hash-sharded, then first-fit-contiguous packed in
    doc_id order into 1024-token bins — the LLM training-batch step.
    The fold is non-associative (bin boundaries depend on the running
    remainder), so the oracle replays it as a per-shard RECURSIVE CTE
    with the exact same test-before-add rule; per-(shard, bin) counts
    and token sums are exact integers."""
    from rust_timeseries_spark.operators import sampling

    d = textops.with_token_counts(_documents(spark, sf_dir)).select(
        "doc_id", F.col("n_ws_tokens").alias("n_tokens")
    )
    packed = sampling.pack_sequences(d, max_tokens=1024, n_shards=8)
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_sum"),
    )


_SQL_DOC_PACK = """
WITH RECURSIVE d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS nt,
         CAST(((xor(doc_id % 2147483648, doc_id // 2147483648) * 2654435761) % 4294967296) % 8 AS INTEGER) AS shard
  FROM documents
),
idx AS (
  SELECT shard, doc_id, nt,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS i,
         count(*) OVER (PARTITION BY shard) AS n
  FROM d
),
rec AS (
  -- first-fit-contiguous: test-before-add, new bin when the running
  -- total would exceed the budget (matches pack_sequences exactly;
  -- nt >= 1 always, so acc > 0 after every row)
  SELECT shard, 1 AS i, n, nt AS acc, CAST(0 AS BIGINT) AS bin
  FROM idx WHERE i = 1
  UNION ALL
  SELECT r.shard, r.i + 1, r.n,
         CASE WHEN r.acc + x.nt > 1024 THEN x.nt ELSE r.acc + x.nt END,
         CASE WHEN r.acc + x.nt > 1024 THEN r.bin + 1 ELSE r.bin END
  FROM rec r JOIN idx x ON x.shard = r.shard AND x.i = r.i + 1
  WHERE r.i < r.n
),
assign AS (
  SELECT rec.shard, rec.bin, idx.nt
  FROM rec JOIN idx ON idx.shard = rec.shard AND idx.i = rec.i
)
SELECT shard, bin AS bin_id, count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS tok_sum
FROM assign GROUP BY shard, bin
"""


def _q_video_features_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real COMPRESSED-video decode: MJPEG-AVI payloads (every frame a
    baseline JFIF image, operators/jpeg.py — markers → Huffman →
    dequantize → IDCT → color transform, all pure numpy) through the
    same frame-sample/resize/mean feature path as the uncompressed
    gate. The synthetic clips are gray and per-8×8-block constant with
    unit quant tables, the content class for which the lossy codec is
    PROVABLY bit-exact (jpeg.py docstring), so the oracle recomputes
    the decoded pixels from the closed-form block formula
    (multimodal.mjpeg_block_formula) in SQL — gating the full decode
    pipeline end-to-end. Generic-content accuracy is pytest-bounded
    (tests/test_dataops.py::test_jpeg_roundtrip_bounds)."""
    vids = multimodal.synthetic_video_table_mjpeg(spark, _N_VIDEO)
    feats = multimodal.video_features(vids, every_n=2, resize_to=8)
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(F.col("n_frames").cast("long")).alias("total_frames"),
        F.sum(F.col("n_sampled").cast("long")).alias("total_sampled"),
        _sci(F.avg(F.element_at("feat", 1))).alias("mean_r"),
        _sci(F.avg(F.element_at("feat", 2))).alias("mean_g"),
        _sci(F.avg(F.element_at("feat", 3))).alias("mean_b"),
    )


_SQL_VIDEO_FEATURES_MJPEG = f"""
WITH ids AS (SELECT unnest(range({_N_VIDEO})) AS id),
dims AS (
  SELECT id, 8 * (2 + (id * 13) % 5) AS w, 8 * (2 + (id * 17) % 4) AS h,
         4 + id % 5 AS nf,
         (['web', 'books', 'video'])[(id % 3) + 1] AS source
  FROM ids
),
tf AS (
  SELECT d.id, d.w, d.h, d.nf, d.source, s.t
  FROM dims d, LATERAL (SELECT unnest(range(0, d.nf, 2)) AS t) s
),
grid AS (
  SELECT f.id, f.source, f.w, f.h, f.nf, f.t,
         (gy.i * (f.h - 1)) // 7 AS y, (gx.i * (f.w - 1)) // 7 AS x
  FROM tf f, (SELECT unnest(range(8)) AS i) gy, (SELECT unnest(range(8)) AS i) gx
),
px AS (
  -- gray block-constant formula: identical value on every channel
  SELECT g.id, g.source, g.nf,
         (7 * g.id + 13 * g.t + 3 * (g.y // 8) + 5 * (g.x // 8)) % 256 AS v
  FROM grid g
),
per_clip AS (
  SELECT id, source, max(nf) AS nf,
         ((max(nf) + 1) // 2) AS ns,
         sum(v) / (64.0 * ((max(nf) + 1) // 2)) AS chan_mean
  FROM px GROUP BY id, source
)
SELECT source, count(*) AS n_clips,
       CAST(sum(nf) AS BIGINT) AS total_frames,
       CAST(sum(ns) AS BIGINT) AS total_sampled,
       printf('%.5e', avg(chan_mean)) AS mean_r,
       printf('%.5e', avg(chan_mean)) AS mean_g,
       printf('%.5e', avg(chan_mean)) AS mean_b
FROM per_clip GROUP BY source
"""


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem — exercises the
    general multi-aggregate path.

    Scale note (found by the sf10 sweep, 10⁷ rows/group): a 2dp-rounded
    FLOAT sum is reassociation-stable only while n·ulp(Σ) ≪ 0.005 —
    at Σ≈10¹¹ over 10⁷ values the engines' different reduction orders
    diverge past the rounding grid. The currency sum therefore
    aggregates in exact DECIMAL (each price cast to its true 2dp value
    first, sums order-independent and bit-equal at ANY scale — what
    TPC-H itself does with decimal columns). l_quantity is integral, so
    its float sum is exact at any order and stays on the rounded-double
    convention."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") <= F.lit("2025-09-01").cast("timestamp_ntz")
    )
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        _r2(F.sum("l_quantity")).alias("sum_qty"),
        _cents_sum_decimal("l_extendedprice").alias("sum_base_price"),
        F.count(F.lit(1)).alias("count_order"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_extendedprice").alias("max_price"),
    )
    return g.withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))


_SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DECIMAL(38,2)) / 100 AS DECIMAL(38,2)) AS sum_base_price,
       count(*) AS count_order,
       min(l_quantity) AS min_qty,
       max(l_extendedprice) AS max_price,
       round(sum(l_quantity), 2) / count(*) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2025-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_orders_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order rollup joined with the (broadcast) customer→nation→
    region dimension chain — the engine's J3 dimension-join pattern."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("nation")
    )
    enriched = o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
    day = rollup.bucket_col("o_orderdate", "1d", epoch=True, dtype=dict(o.dtypes)["o_orderdate"])
    return (
        enriched.groupBy("nation", day.alias("order_day"))
        .agg(
            _cents_sum_decimal("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_SQL_ORDERS_DIM_JOIN = """
SELECT n.n_name AS nation,
       es - es % 86400 AS order_day,
       CAST(CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS DECIMAL(38,2)) / 100 AS DECIMAL(38,2)) AS revenue,
       count(*) AS n_orders
FROM (SELECT o_custkey, o_totalprice, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS es FROM orders) o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY nation, order_day
"""


def _q_quantiles_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) p50/p95/p99 (rollup.quantile_rollup):
    EXACT percentiles (linear interpolation — the definition both
    engines share) are the oracle-checked columns; the mergeable
    approx_percentile sketch — the 100 TB path — rides along as a
    bounded relative-error flag, the same exact+approx pattern as the
    HLL gate. Interpolated floats render `%.5e` per module
    conventions."""
    q = rollup.quantile_rollup(
        _events(spark, sf_dir), "1d", ["event_type"], "ts", "value",
        # check_eps flags the guarantee approx_percentile ACTUALLY
        # makes — ε in RANK space against an actual-value floor/ceil
        # envelope (see quantile_rollup's docstring), not a value-space
        # relative error (the sketch returns a real data point; in a
        # sparse tail that point sits several percent of VALUE from the
        # interpolated exact percentile at any accuracy)
        ps=(0.5, 0.95, 0.99), accuracy=10000, epoch=True, check_eps=0.02,
    )
    ex = F.col("q_exact")

    # events.value sits on the 2dp grid at every SF (verified 0
    # off-grid rows sf0.001→sf1) and the interpolation fractions are
    # hundredths, so every exact quantile is a true 4-decimal value —
    # rendered via the pinned integer-grid convention (the `%.5e` path
    # hits the Java-vs-C tie-rendering divergence EXACTLY here, because
    # short-decimal values are the common case, not the exception)
    def _dec4(c):
        return (
            F.floor(c * F.lit(10000.0) + F.lit(0.5)).cast("long").cast("decimal(38,4)")
            / F.lit(10000)
        ).cast("decimal(38,4)")

    return q.select(
        "event_type", "bucket_ts", "n",
        _dec4(ex[0]).alias("p50"),
        _dec4(ex[1]).alias("p95"),
        _dec4(ex[2]).alias("p99"),
        F.col("approx_within_eps").alias("approx_within_1pct"),
    )


# DOUBLE casts on the p literals are load-bearing: DuckDB parses 0.95
# as DECIMAL, making rank/frac exact-decimal and the interpolation
# diverge from Spark's double math in the last ulp (flips %.5e at
# rounding boundaries)
_SQL_QUANTILES_1D = """
WITH g AS (
  SELECT event_type, es - es % 86400 AS bucket_ts,
         count(*) AS n, list_sort(list(value)) AS vs
  FROM (SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
  GROUP BY event_type, bucket_ts
),
r AS (
  SELECT event_type, bucket_ts, n, vs,
         CAST(0.5 AS DOUBLE) * (n - 1) AS r50,
         CAST(0.95 AS DOUBLE) * (n - 1) AS r95,
         CAST(0.99 AS DOUBLE) * (n - 1) AS r99
  FROM g
)
SELECT event_type, bucket_ts, n,
       CAST(CAST(CAST(floor((vs[CAST(floor(r50) AS INTEGER) + 1]
         + (vs[least(CAST(floor(r50) AS INTEGER) + 2, CAST(n AS INTEGER))]
            - vs[CAST(floor(r50) AS INTEGER) + 1]) * (r50 - floor(r50)))
         * 10000 + 0.5) AS BIGINT) AS DECIMAL(38,4)) / 10000 AS DECIMAL(38,4)) AS p50,
       CAST(CAST(CAST(floor((vs[CAST(floor(r95) AS INTEGER) + 1]
         + (vs[least(CAST(floor(r95) AS INTEGER) + 2, CAST(n AS INTEGER))]
            - vs[CAST(floor(r95) AS INTEGER) + 1]) * (r95 - floor(r95)))
         * 10000 + 0.5) AS BIGINT) AS DECIMAL(38,4)) / 10000 AS DECIMAL(38,4)) AS p95,
       CAST(CAST(CAST(floor((vs[CAST(floor(r99) AS INTEGER) + 1]
         + (vs[least(CAST(floor(r99) AS INTEGER) + 2, CAST(n AS INTEGER))]
            - vs[CAST(floor(r99) AS INTEGER) + 1]) * (r99 - floor(r99)))
         * 10000 + 0.5) AS BIGINT) AS DECIMAL(38,4)) / 10000 AS DECIMAL(38,4)) AS p99,
       TRUE AS approx_within_1pct
FROM r
"""


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event_type (rollup.
    value_histogram): 20 bins over [0, 100) plus underflow/overflow —
    the profiling aggregate whose shuffle is bounded by keys × bins at
    any input size. Counts are exact BIGINTs; ``frac`` is one int/int
    IEEE division (bit-identical on any engine); ``bin_lo`` is exact
    double grid arithmetic (w = 5.0)."""
    h = rollup.value_histogram(
        _events(spark, sf_dir), lo=0.0, hi=100.0, n_bins=20, keys=["event_type"]
    )
    return h.select("event_type", "bin", "bin_lo", "n", "frac")


_SQL_VALUE_HISTOGRAM = """
WITH b AS (
  SELECT event_type,
         CAST(CASE WHEN value < CAST(0.0 AS DOUBLE) THEN -1
                   WHEN value >= CAST(100.0 AS DOUBLE) THEN 20
                   ELSE floor((value - CAST(0.0 AS DOUBLE)) / CAST(5.0 AS DOUBLE))
              END AS BIGINT) AS bin
  FROM events WHERE value IS NOT NULL
),
g AS (
  SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY event_type, bin
)
SELECT event_type, bin,
       CAST(0.0 AS DOUBLE) + bin * CAST(5.0 AS DOUBLE) AS bin_lo,
       n,
       CAST(n AS DOUBLE)
         / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) AS frac
FROM g
"""


def _q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + approximate distinct users per (event_type, day): exact
    is oracle-checked; the HLL sketch column is engine-side only and
    therefore emitted as a bounded relative-error flag. The sketch runs
    at rsd=1% so the 5% assertion is a ≥5σ bound — deterministic-in-
    practice at every scale factor (the r1 default-rsd=5% sketch made
    1σ excursions past the 5% flag routine once sf0.1 cardinalities
    left HLL's exact small-range regime)."""
    ev = _events(spark, sf_dir)
    day = rollup.bucket_col("ts", "1d", epoch=True, dtype=dict(ev.dtypes)["ts"])
    # r6: dedup FIRST, then aggregate the already-distinct rows. The
    # single-agg spelling (countDistinct + approx side by side) made
    # Spark key the partial aggregate on (event_type, day, user_id)
    # while ALSO building a partial rsd=1% HLL sketch (~21 KB buffer)
    # per user-day key — millions of giant buffers, spill-bound, and
    # all of it on the one scan task the single-row-group parquet
    # allows. Both count-distinct and HLL are duplicate-insensitive,
    # so aggregating the deduplicated rows is value-identical; the
    # explicit repartition moves the dedup off the serial scan task
    # (scale-adaptive: defaultParallelism, not a constant).
    uniq = (
        ev.select("event_type", day.alias("bucket_ts"), "user_id")
        .repartition(
            spark.sparkContext.defaultParallelism,
            "event_type", "bucket_ts", "user_id",
        )
        .distinct()
    )
    g = uniq.groupBy("event_type", "bucket_ts").agg(
        F.count("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("_approx"),
    )
    return g.select(
        "event_type", "bucket_ts", "n_users",
        (F.abs(F.col("_approx") - F.col("n_users")) <= 0.05 * F.col("n_users") + 5).alias("hll_within_5pct"),
    )


_SQL_DISTINCT_USERS = """
SELECT event_type,
       es - es % 86400 AS bucket_ts,
       count(DISTINCT user_id) AS n_users,
       TRUE AS hll_within_5pct
FROM (SELECT event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
GROUP BY event_type, bucket_ts
"""


def _q_distinct_rollup_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count tiers (rollup.sketch_distinct_rollup +
    fold_sketch_tier): per-(event_type, 1h) HLL sketches folded to 1d
    by register union — COUNT DISTINCT composed across tiers WITHOUT
    re-scanning raw, the property plain distinct counts lack and the
    continuous-aggregate contract requires (SURVEY §2.4 A12/A14).
    Exact ``n_users`` is oracle-checked; the two engine-side claims are
    emitted as deterministic flags: the FOLDED estimate and the DIRECT
    1d-sketch estimate each sit inside the lg_k=12 error envelope of
    the exact count (rsd ≈ 1.6%, flag at 5% + 5 — a ≥3σ bound). The
    flags deliberately do NOT compare the two estimates to each other:
    Datasketches estimates stream-built sketches with HIP but union
    results with the composite estimator, so exact fold==direct
    equality holds only in the sparse regime (sf0.1 finding — ±3
    counts at ~550 users; see fold_sketch_tier docstring)."""
    ev = _events(spark, sf_dir)
    dt = dict(ev.dtypes)["ts"]
    hour = rollup.sketch_distinct_rollup(
        ev, id_col="user_id", tier="1h", keys=["event_type"], ts_col="ts"
    )
    day = rollup.fold_sketch_tier(hour, "1d", keys=["event_type"])
    direct = rollup.sketch_distinct_rollup(
        ev, id_col="user_id", tier="1d", keys=["event_type"], ts_col="ts"
    ).select(
        "event_type", "bucket_ts", F.hll_sketch_estimate("hll").alias("_direct")
    )
    exact = ev.groupBy(
        "event_type",
        rollup.bucket_col("ts", "1d", epoch=True, dtype=dt).alias("bucket_ts"),
    ).agg(F.countDistinct("user_id").alias("n_users"))
    out = (
        day.select("event_type", "bucket_ts", "n_distinct_est")
        .join(direct, ["event_type", "bucket_ts"])
        .join(exact, ["event_type", "bucket_ts"])
    )
    return out.select(
        "event_type",
        "bucket_ts",
        "n_users",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_users"))
            <= 0.05 * F.col("n_users") + 5
        ).alias("fold_within_5pct"),
        (
            F.abs(F.col("_direct") - F.col("n_users"))
            <= 0.05 * F.col("n_users") + 5
        ).alias("direct_within_5pct"),
    )


_SQL_DISTINCT_ROLLUP_SKETCH = """
SELECT event_type,
       es - es % 86400 AS bucket_ts,
       count(DISTINCT user_id) AS n_users,
       TRUE AS fold_within_5pct,
       TRUE AS direct_within_5pct
FROM (SELECT event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
GROUP BY event_type, bucket_ts
"""


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the dedup pipeline (graph.dedup_survivors): exact
    thresholded-Jaccard pairs → connected components → ONE survivor per
    cluster by (n_chars DESC, doc_id ASC), docs in no pair surviving as
    their own singleton. Every input doc gets a row, so the oracle
    recomputes the whole policy live: unpruned inverted-index join for
    the pairs, recursive-CTE min-label closure for the clusters, a
    window argmax for the keep flag."""
    pairs = dedup_ops.ngram_jaccard_threshold_pairs(
        _documents_par(spark, sf_dir), threshold=0.5, shingle_k=3
    )
    out = graph_ops.dedup_survivors(
        _documents(spark, sf_dir), pairs, id_col="doc_id", quality_col="n_chars"
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("keep"),
    )


_SQL_DEDUP_SURVIVORS = """
WITH RECURSIVE w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN list_transform(range(len(ws) - 2),
                                  i -> array_to_string(ws[i + 1 : i + 3], ' '))
              ELSE [array_to_string(ws, ' ')] END AS sh
  FROM w
),
tok AS (SELECT doc_id, unnest(list_distinct(sh)) AS t FROM s),
sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sz za ON za.doc_id = id_a
  JOIN sz zb ON zb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
cc(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.v, c.comp FROM cc c JOIN edges e ON e.u = c.node
),
lab AS (SELECT node, min(comp) AS cluster_id FROM cc GROUP BY node),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id),
alldocs AS (
  SELECT d.doc_id,
         d.n_chars,
         coalesce(lab.cluster_id, d.doc_id) AS cluster_id,
         coalesce(sizes.cluster_size, 1) AS cluster_size
  FROM documents d
  LEFT JOIN lab ON d.doc_id = lab.node
  LEFT JOIN sizes ON lab.cluster_id = sizes.cluster_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_chars DESC, doc_id ASC)) = 1 AS keep
FROM alldocs
"""


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (dedup.incremental_jaccard_pairs): a
    deterministic ~10% of docs (stable_hash32 % 10 == 7 — the
    engine-portable split hash) plays the "new batch"; the rest is the
    existing corpus. The prefix-filter index covers corpus ∪ delta but
    the candidate join PROBES only delta prefixes, so corpus × corpus
    is never paired — candidate cost ∝ |delta| at any corpus size. The
    oracle is the UNPRUNED inverted-index join restricted to pairs
    touching delta, so the gate checks both the pruning's losslessness
    AND the delta restriction."""
    from rust_timeseries_spark.operators import sampling

    docs = _documents_par(spark, sf_dir)
    h = F.pmod(sampling.stable_hash32("doc_id"), F.lit(10))
    delta = docs.where(h == 7)
    corpus = docs.where(h != 7)
    out = dedup_ops.incremental_jaccard_pairs(corpus, delta, threshold=0.5, shingle_k=3)
    return out.select("id_a", "id_b", "inter", "union_sz", "jaccard")


_SQL_DEDUP_INCREMENTAL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         ((xor(doc_id % 2147483648, doc_id // 2147483648) * 2654435761)
          % 4294967296) % 10 = 7 AS is_delta
  FROM documents
),
s AS (
  SELECT doc_id, is_delta,
         CASE WHEN len(ws) >= 3
              THEN list_transform(range(len(ws) - 2),
                                  i -> array_to_string(ws[i + 1 : i + 3], ' '))
              ELSE [array_to_string(ws, ' ')] END AS sh
  FROM w
),
tok AS (SELECT doc_id, unnest(list_distinct(sh)) AS t FROM s),
sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(inter AS INTEGER) AS inter,
       CAST(za.sz + zb.sz - inter AS INTEGER) AS union_sz,
       CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) AS jaccard
FROM inter
JOIN sz za ON za.doc_id = id_a
JOIN sz zb ON zb.doc_id = id_b
JOIN w wa ON wa.doc_id = id_a
JOIN w wb ON wb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.5
  AND (wa.is_delta OR wb.is_delta)
"""


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink round trip (sources/jsonl.py): documents —
    with JSON-hostile characters (quote, backslash, newline, tab)
    deterministically APPENDED to every text so the escaper is actually
    exercised — written as JSONL, re-read under the pinned explicit
    schema (PERMISSIVE + corrupt-record capture; schema inference is
    banned at scale), then aggregated per source. The oracle computes
    the same aggregates from the parquet table with the same appended
    suffix, so a value-hash match proves the write→escape→parse path
    is lossless, byte-for-byte, including min/max over the mutated
    strings. ``n_corrupt`` must be 0 on the engine side and is compared
    against the oracle's literal 0."""
    import tempfile

    work = tempfile.mkdtemp(prefix="rts_jsonl_")
    from rust_timeseries_spark.sources import jsonl as jsonl_src

    docs = _documents(spark, sf_dir).withColumn(
        "text", F.concat(F.col("text"), F.lit(' "q\\b\n\tz'))
    )
    jsonl_src.write_jsonl(docs, f"{work}/docs")
    back = jsonl_src.read_jsonl(spark, f"{work}/docs", jsonl_src.DOCUMENT_SCHEMA)
    return back.groupBy("source").agg(
        F.count("doc_id").alias("n_docs"),
        F.sum("n_chars").alias("sum_nchars"),
        F.sum(F.length("text")).alias("sum_textlen"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_corrupt"),
    )


_SQL_JSONL_ROUNDTRIP = """
WITH d AS (
  SELECT source, doc_id, n_chars,
         text || ' "q' || chr(92) || 'b' || chr(10) || chr(9) || 'z' AS text
  FROM documents
)
SELECT source,
       count(doc_id) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_nchars,
       CAST(sum(length(text)) AS BIGINT) AS sum_textlen,
       min(text) AS min_text,
       max(text) AS max_text,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(0 AS BIGINT) AS n_corrupt
FROM d
GROUP BY source
"""


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-N-per-group sampling
    (sampling.stratified_sample_n): rank by the engine-portable
    stable_hash32 (ties by id) within each source, keep rank ≤ 10 —
    the fixed-size per-domain subset (eval panels) whose membership is
    stable under corpus growth except at the rank boundary. Live SQL
    oracle runs the identical integer-hash window in DuckDB."""
    from rust_timeseries_spark.operators import sampling

    out = sampling.stratified_sample_n(
        _documents(spark, sf_dir), 10, keys=["source"], id_col="doc_id"
    )
    return out.select(
        "source", "doc_id", F.col("sample_rank").cast("long").alias("sample_rank")
    )


_SQL_STRATIFIED_SAMPLE = """
SELECT source, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY (xor(doc_id % 2147483648, doc_id // 2147483648)
                     * 2654435761) % 4294967296, doc_id
         ) AS sample_rank
  FROM documents
)
WHERE sample_rank <= 10
"""


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality filter (textops.quality_filter — C4/Gopher-rule
    style): first-failing-rule reason codes with a fixed precedence
    (too_short → too_long → word_len → alpha → dup_words → rep_2gram →
    keep), thresholds chosen so EVERY rule fires on this corpus. The
    compared output is the attrition report a pipeline operator
    actually consumes — per-(source, reason) doc counts and word mass —
    and every signal is exact int/int or two-op IEEE arithmetic, so the
    oracle recomputes the whole rule chain live in DuckDB and the value
    hash pins each doc's routing decision."""
    d = textops.quality_filter(
        _documents_par(spark, sf_dir),
        min_words=20,
        max_words=90,
        mean_word_len_lo=4.0,
        mean_word_len_hi=12.0,
        min_alpha_ratio=0.81,
        max_dup_word_ratio=0.6,
        max_top2gram_frac=0.12,
    )
    return d.groupBy("source", "drop_reason").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(textops.words_col("text"))).cast("long").alias("sum_words"),
    )


_SQL_QUALITY_FILTER = """
WITH w AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id, source, text, ws,
         CASE WHEN len(ws) >= 2 THEN list_transform(range(len(ws) - 1),
              i -> array_to_string(ws[i + 1 : i + 2], ' ')) ELSE [] END AS g2
  FROM w
),
m AS (
  SELECT doc_id, source,
         len(ws) AS n_words,
         CAST(length(text) - (len(ws) - 1) AS DOUBLE) / len(ws) AS mwl,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha,
         CAST(1.0 AS DOUBLE)
           - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dupr,
         CASE WHEN len(g2) > 0 THEN
           CAST(list_max(list_transform(list_distinct(g2),
                x -> len(list_filter(g2, y -> y = x)) * length(x))) AS DOUBLE)
           / length(text) ELSE CAST(0.0 AS DOUBLE) END AS top2
  FROM g
),
r AS (
  SELECT source, n_words,
         CASE WHEN n_words < 20 THEN 'too_short'
              WHEN n_words > 90 THEN 'too_long'
              WHEN mwl < CAST('4.0' AS DOUBLE)
                OR mwl > CAST('12.0' AS DOUBLE) THEN 'word_len'
              WHEN alpha < CAST('0.81' AS DOUBLE) THEN 'alpha'
              WHEN dupr > CAST('0.6' AS DOUBLE) THEN 'dup_words'
              WHEN top2 > CAST('0.12' AS DOUBLE) THEN 'rep_2gram'
              ELSE 'keep' END AS drop_reason
  FROM m
)
SELECT source, drop_reason,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS sum_words
FROM r
GROUP BY source, drop_reason
"""


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k (textops.vocab_topk): explode → two-phase
    count → TakeOrderedAndProject (per-partition top-k, no global
    sort). Ties at the boundary are deterministic via the word ASC
    tie-break, so the oracle's ORDER BY n DESC, word LIMIT k produces
    the identical set on any engine."""
    return textops.vocab_topk(_documents_par(spark, sf_dir), k=100)


_SQL_VOCAB_TOPK = """
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 100
"""


def _q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key winsorization (rollup.winsorize): clip each event value
    into its event_type's exact [p05, p95] interpolated percentile band
    (the same spelled-out ``lo + (hi−lo)·frac`` both engines execute
    bit-identically), then aggregate the attrition a pipeline would
    audit: clip counts (exact ints — the clip DECISIONS are pinned
    because the bounds are bit-identical doubles) and the winsorized
    mass under the integer-cents currency convention
    (order-independent, engine-portable)."""
    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    w = rollup.winsorize(ev, keys=["event_type"], value_col="value", p_lo=0.05, p_hi=0.95)
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("clipped_below"), 1).otherwise(0)).cast("long").alias("n_below"),
        F.sum(F.when(F.col("clipped_above"), 1).otherwise(0)).cast("long").alias("n_above"),
        _cents_sum_decimal("value_w").alias("sum_w"),
    )


_SQL_WINSORIZE = """
WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
b AS (
  SELECT event_type, count(*) AS n, list_sort(list(value)) AS vs
  FROM v GROUP BY event_type
),
c AS (
  SELECT event_type,
         vs[CAST(floor(CAST('0.05' AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1]
           + (vs[least(CAST(floor(CAST('0.05' AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 2, n)]
              - vs[CAST(floor(CAST('0.05' AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1])
             * (CAST('0.05' AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                - floor(CAST('0.05' AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS clip_lo,
         vs[CAST(floor(CAST('0.95' AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1]
           + (vs[least(CAST(floor(CAST('0.95' AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 2, n)]
              - vs[CAST(floor(CAST('0.95' AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1])
             * (CAST('0.95' AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                - floor(CAST('0.95' AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS clip_hi
  FROM b
),
w AS (
  SELECT v.event_type,
         CASE WHEN value < clip_lo THEN clip_lo
              WHEN value > clip_hi THEN clip_hi
              ELSE value END AS vw,
         value < clip_lo AS below,
         value > clip_hi AS above
  FROM v JOIN c USING (event_type)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (below) AS BIGINT) AS n_below,
       CAST(count(*) FILTER (above) AS BIGINT) AS n_above,
       CAST(CAST(sum(CAST(floor(vw * 100 + 0.5) AS BIGINT)) AS DECIMAL(38,2)) / 100
            AS DECIMAL(38,2)) AS sum_w
FROM w
GROUP BY event_type
"""


def _q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition (operators/urlops.with_url_parts): the corpus
    has no URL column, so the gate synthesizes one per doc with the
    identical deterministic concat on both engines — scheme by
    doc_id%3, subdomain by %5, TLD by %2, optional user@ (%5==0) and
    :port (%7==0), path depth by %4 with query/fragment junk on the
    deepest — then decomposes it Spark-side and rolls up per (scheme,
    reg_domain). The ORACLE never parses: it computes the expected
    parts CLOSED-FORM from doc_id/source (the multimodal-gate pattern),
    so a value match proves the regexp/split decomposition inverts the
    synthesis exactly, including user/port stripping and query/fragment
    removal."""
    from rust_timeseries_spark.operators import urlops

    d = _documents(spark, sf_dir)
    did = F.col("doc_id")
    scheme = (
        F.when(did % 3 == 0, "http").when(did % 3 == 1, "https").otherwise("ftp")
    )
    sub = (
        F.when(did % 5 == 0, "www").when(did % 5 == 1, "cdn")
        .when(did % 5 == 2, "img").when(did % 5 == 3, "api").otherwise("m")
    )
    tld = F.when(did % 2 == 0, ".com").otherwise(".org")
    user = F.when(did % 5 == 0, "crawler@").otherwise("")
    port = F.when(did % 7 == 0, ":8080").otherwise("")
    path = (
        F.when(did % 4 == 0, "").when(did % 4 == 1, "/a")
        .when(did % 4 == 2, "/a/b").otherwise("/a/b/c?q=1#frag")
    )
    url = F.concat(
        scheme, F.lit("://"), user, sub, F.lit("."), F.col("source"), tld, port, path
    )
    parts = urlops.with_url_parts(d.select("doc_id", "source", url.alias("url")))
    return parts.groupBy("scheme", "reg_domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum("path_depth").cast("long").alias("sum_depth"),
    )


_SQL_URL_DOMAIN_STATS = """
WITH d AS (
  SELECT doc_id, source,
         CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'https' ELSE 'ftp' END AS scheme,
         CASE doc_id % 5 WHEN 0 THEN 'www' WHEN 1 THEN 'cdn'
              WHEN 2 THEN 'img' WHEN 3 THEN 'api' ELSE 'm' END AS sub,
         CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.org' END AS tld,
         CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 3 END AS depth
  FROM documents
)
SELECT scheme,
       source || tld AS reg_domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       count(DISTINCT sub || '.' || source || tld) AS n_hosts,
       CAST(sum(depth) AS BIGINT) AS sum_depth
FROM d
GROUP BY scheme, reg_domain
"""


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line dedup (dedup.line_dedup): fixed 8-word
    chunks, ONE surviving occurrence per distinct chunk corpus-wide
    (min (doc_id, idx) winner), documents rebuilt from survivors in
    order. The gate hashes the RECONSTRUCTED text, so the value compare
    pins the whole explode → min-struct winner → semi-join → ordered
    rebuild path, not just the counts. Reference parity: the C4
    pipeline's global line dedup; chunk = deterministic 8-word window
    because driver corpora carry no newlines."""
    return dedup_ops.line_dedup(_documents_par(spark, sf_dir), chunk_words=8)


_SQL_LINE_DEDUP = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS vs FROM documents),
pos AS (
  SELECT doc_id, vs, unnest(range(0, CAST(greatest(ceil(len(vs)/8.0), 1) AS BIGINT))) AS idx
  FROM w
),
c AS (
  SELECT doc_id, idx, array_to_string(vs[(idx*8+1):(idx*8+8)], ' ') AS chunk FROM pos
),
r AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
  FROM c
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
       coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (rn = 1), '') AS text_dedup
FROM r GROUP BY doc_id
"""


def _q_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span coverage (dedup.dup_span_stats, the Lee
    et al. substring-dedup signal at word level, k=8): token positions
    covered by any 8-gram that also occurs in another document,
    computed per doc via the lag-window interval union (no
    per-position explode)."""
    return dedup_ops.dup_span_stats(_documents_par(spark, sf_dir), ngram_k=8)


_SQL_DUP_SPAN = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS vs FROM documents),
b AS (SELECT doc_id, CAST(len(vs) AS BIGINT) AS n_tokens, vs FROM w),
p AS (
  SELECT doc_id, vs, unnest(range(1, n_tokens - 6)) AS pos
  FROM b WHERE n_tokens >= 8
),
g AS (SELECT doc_id, pos, array_to_string(vs[pos:pos+7], ' ') AS gram FROM p),
d AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
s AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM d)),
c AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_starts,
         CAST(sum(CASE WHEN prev IS NULL THEN 8 ELSE least(8, pos - prev) END) AS BIGINT) AS covered
  FROM (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM s)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       coalesce(c.n_dup_starts, 0) AS n_dup_starts,
       coalesce(c.covered, 0) AS covered_tokens
FROM b LEFT JOIN c USING (doc_id)
"""


def _q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (similarity.kmeans_lloyd, k=8, two
    iterations, smallest-id seeds): per-cluster member count + inertia.
    The oracle unrolls both Lloyd iterations in SQL with the identical
    ``Σ(x−c)²`` distance formula; assignment argmins are engine-stable
    (distance gaps between random embeddings ≫ fold-order noise) and
    inertia compares at %.5e where 1e-15-relative summation noise is
    invisible — the same convention every HAC/ACD statistical gate
    uses. Counts are exact ints, pinning both iterations' assignment
    decisions."""
    assigned, _ = sim_ops.kmeans_lloyd(_embeddings(spark, sf_dir), k=8, n_iters=2)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _sci(F.sum("sq_dist")).alias("inertia"),
    )


_SQL_EMBEDDING_KMEANS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS c
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
d1 AS (
  SELECT e.vec_id, c0.cid,
         list_sum(list_transform(list_zip(e.v, c0.c), x -> (x[1] - x[2]) ^ 2)) AS d2
  FROM e CROSS JOIN c0
),
s1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1
  ) WHERE rn = 1
),
dims AS (SELECT unnest(range(1, 65)) AS i),
m1 AS (
  SELECT s1.cid, dims.i, avg(e.v[dims.i]) AS c
  FROM s1 JOIN e USING (vec_id) CROSS JOIN dims
  GROUP BY s1.cid, dims.i
),
c1 AS (
  SELECT c0.cid, list(coalesce(m1.c, c0.c[dims.i]) ORDER BY dims.i) AS c
  FROM c0 CROSS JOIN dims LEFT JOIN m1 ON m1.cid = c0.cid AND m1.i = dims.i
  GROUP BY c0.cid
),
d2t AS (
  SELECT e.vec_id, c1.cid,
         list_sum(list_transform(list_zip(e.v, c1.c), x -> (x[1] - x[2]) ^ 2)) AS d2
  FROM e CROSS JOIN c1
),
s2 AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2t
  ) WHERE rn = 1
)
SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n, printf('%.5e', sum(d2)) AS inertia
FROM s2 GROUP BY cid
"""


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A-ES weighted sampling (sampling.weighted_sample_n):
    per-source top-5 by ln(u)/w with hash-derived uniforms and n_chars
    weights. The selected SET and its ranks are pinned: rank keys of
    distinct docs differ at O(key-gap) ≫ cross-libm ln() ulp noise, and
    ties break by doc_id. Output is all-integers/strings (the float key
    stays internal), so the value hash is exact."""
    from rust_timeseries_spark.operators import sampling

    out = sampling.weighted_sample_n(
        _documents(spark, sf_dir), n=5, weight_col="n_chars", keys=["source"]
    )
    return out.select(
        "source", "doc_id", F.col("n_chars").cast("long").alias("n_chars"), "samp_rank"
    )


_SQL_WEIGHTED_SAMPLE = """
WITH h AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         ln((((xor(doc_id % 2147483648, doc_id // 2147483648) * 2654435761) % 4294967296) + 0.5)
            / 4294967296.0) / CAST(n_chars AS DOUBLE) AS k
  FROM documents
)
SELECT source, doc_id, n_chars, CAST(rn AS INTEGER) AS samp_rank
FROM (SELECT *, row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn FROM h)
WHERE rn <= 5
"""


def _tier1h_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events 1h tier with 2dp-exact sums — the shared input of the
    cross-corr / CUSUM / seasonal gates (same construction as
    ``rolling_stats_3h``)."""
    t = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    return t.withColumn("tok_sum", _r2(F.col("tok_sum")))


def _q_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation (rolling.cross_correlation) between the
    click and view 1h series, lags 0..3: aligned-overlap means/pop-std,
    the reference's 1/(n−j) pair denominators (escanciano_lobato.rs
    lag-pairing conventions applied to a series PAIR). n_pairs is
    exact; ccf compares at %.5e where summation-order noise (1e-16
    relative) is invisible."""
    t = _tier1h_r2(spark, sf_dir)
    a = t.where(F.col("event_type") == "click").drop("event_type")
    b = t.where(F.col("event_type") == "view").drop("event_type")
    out = rolling.cross_correlation(
        a, b, value_col="tok_sum", max_lag=3, keys=[], order_col="bucket_ts"
    )
    return out.select("lag", "n_pairs", _sci(F.col("ccf")).alias("ccf"))


_SQL_CROSS_CORR = """
WITH t AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, round(sum(value), 2) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
),
j AS (
  SELECT a.bucket_ts, a.v AS av, b.v AS bv
  FROM (SELECT * FROM t WHERE event_type = 'click') a
  JOIN (SELECT * FROM t WHERE event_type = 'view') b USING (bucket_ts)
),
m AS (SELECT count(*) AS n, avg(av) AS abar, avg(bv) AS bbar,
             stddev_pop(av) AS sa, stddev_pop(bv) AS sb FROM j),
l AS (
  SELECT av - m.abar AS da,
         bv - m.bbar AS db0,
         lag(bv, 1) OVER w - m.bbar AS db1,
         lag(bv, 2) OVER w - m.bbar AS db2,
         lag(bv, 3) OVER w - m.bbar AS db3
  FROM j, m WINDOW w AS (ORDER BY bucket_ts)
),
p AS (
  SELECT 0 AS lag, da*db0 AS g FROM l
  UNION ALL SELECT 1, da*db1 FROM l
  UNION ALL SELECT 2, da*db2 FROM l
  UNION ALL SELECT 3, da*db3 FROM l
)
SELECT lag, CAST(m.n - lag AS BIGINT) AS n_pairs,
       CASE WHEN (m.n - lag) * m.sa * m.sb > 0
            THEN printf('%.5e', sum(g) / ((m.n - lag) * m.sa * m.sb)) END AS ccf
FROM p, m GROUP BY lag, m.n, m.sa, m.sb
"""


def _q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint (rolling.cusum_changepoint) per
    event_type over the 1h tier. cp_pos and cp_bucket_ts are exact
    ints — they pin the argmax DECISION (robust: |S| gaps between
    candidate positions dwarf 1e-16 prefix-sum association noise);
    the normalized statistic compares at %.5e."""
    out = rolling.cusum_changepoint(
        _tier1h_r2(spark, sf_dir), value_col="tok_sum",
        keys=["event_type"], order_col="bucket_ts",
    )
    return out.select(
        "event_type", "n", "cp_pos", "cp_bucket_ts",
        _sci(F.col("cusum_stat")).alias("cusum_stat"),
    )


_SQL_CUSUM = """
WITH t AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, round(sum(value), 2) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
),
m AS (SELECT event_type, count(*) AS n, avg(v) AS xbar, stddev_pop(v) AS sd
      FROM t GROUP BY event_type),
s AS (
  SELECT t.event_type, t.bucket_ts, m.n, m.sd,
         sum(t.v - m.xbar) OVER (PARTITION BY t.event_type ORDER BY t.bucket_ts
                                 ROWS UNBOUNDED PRECEDING) AS sk,
         row_number() OVER (PARTITION BY t.event_type ORDER BY t.bucket_ts) AS pos
  FROM t JOIN m USING (event_type)
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY abs(sk) DESC, pos ASC) AS rn
  FROM s
)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS cp_pos,
       bucket_ts AS cp_bucket_ts,
       CASE WHEN sd > 0
            THEN printf('%.5e', abs(sk) / (sd * sqrt(CAST(n AS DOUBLE)))) END AS cusum_stat
FROM rk WHERE rn = 1
"""


def _q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile (rollup.seasonal_profile, period 24
    over the 1h tier): phase from pure integer epoch math (TZ-free),
    per-(event_type, phase) count exact. phase_mean follows the
    roll_mean convention — ``round(sum, 2) / n`` (the 2dp-grid sum is
    exact, the single division bit-identical) emitted as a RAW double,
    because small-n means of 2dp values land on %.5e decimal-tie
    midpoints (observed live at sf0.001: 4/120 rows); phase_std stays
    %.5e."""
    out = rollup.seasonal_profile(
        _tier1h_r2(spark, sf_dir), period=24, bucket_width=3600,
        value_col="tok_sum", keys=["event_type"],
    )
    return out.select(
        "event_type", "phase", "n",
        (_r2(F.col("phase_sum")) / F.col("n")).alias("phase_mean"),
        _sci(F.col("phase_std")).alias("phase_std"),
    )


_SQL_SEASONAL = """
WITH t AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, round(sum(value), 2) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
)
SELECT event_type, CAST((bucket_ts // 3600) % 24 AS INTEGER) AS phase,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(v), 2) / count(*) AS phase_mean,
       printf('%.5e', stddev_samp(v)) AS phase_std
FROM t GROUP BY event_type, phase
"""


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot report (rollup.pivot_report): per-day (count, cents
    sum) column pair for each of the five pinned event types — a
    single two-phase hash aggregate (the values are pinned, so no
    distinct pre-scan), currency under the integer-cents convention."""
    return rollup.pivot_report(
        _events(spark, sf_dir), "event_type",
        ["click", "view", "purchase", "signup", "error"],
        tier="1d", ts_col="ts", value_col="value",
    )


_SQL_PIVOT = """
SELECT es - es % 86400 AS bucket_ts,
       CAST(count(*) FILTER (event_type='click') AS BIGINT) AS click_n,
       CAST(CAST(sum(CASE WHEN event_type='click' THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS DECIMAL(38,2))/100 AS DECIMAL(38,2)) AS click_sum,
       CAST(count(*) FILTER (event_type='view') AS BIGINT) AS view_n,
       CAST(CAST(sum(CASE WHEN event_type='view' THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS DECIMAL(38,2))/100 AS DECIMAL(38,2)) AS view_sum,
       CAST(count(*) FILTER (event_type='purchase') AS BIGINT) AS purchase_n,
       CAST(CAST(sum(CASE WHEN event_type='purchase' THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS DECIMAL(38,2))/100 AS DECIMAL(38,2)) AS purchase_sum,
       CAST(count(*) FILTER (event_type='signup') AS BIGINT) AS signup_n,
       CAST(CAST(sum(CASE WHEN event_type='signup' THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS DECIMAL(38,2))/100 AS DECIMAL(38,2)) AS signup_sum,
       CAST(count(*) FILTER (event_type='error') AS BIGINT) AS error_n,
       CAST(CAST(sum(CASE WHEN event_type='error' THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS DECIMAL(38,2))/100 AS DECIMAL(38,2)) AS error_sum
FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
GROUP BY bucket_ts
"""


def _q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy (textops.with_char_entropy) per doc —
    shuffle-free JVM fold on the Spark side; the oracle recomputes via
    an explode+count (any summation order: entropy ≈ 4 bits compares
    at %.5e where 1e-16-relative noise is invisible; the int counts
    are exact)."""
    out = textops.with_char_entropy(_documents_par(spark, sf_dir))
    return out.select(
        "doc_id", "n_chars_total", "n_distinct_chars",
        _sci(F.col("char_entropy")).alias("char_entropy"),
    )


_SQL_CHAR_ENTROPY = """
WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
g AS (SELECT doc_id, ch, count(*) AS n FROM c GROUP BY doc_id, ch),
t AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS d FROM g GROUP BY doc_id)
SELECT g.doc_id, t.m AS n_chars_total, t.d AS n_distinct_chars,
       printf('%.5e', sum(-(CAST(g.n AS DOUBLE)/t.m) * log2(CAST(g.n AS DOUBLE)/t.m))) AS char_entropy
FROM g JOIN t USING (doc_id) GROUP BY g.doc_id, t.m, t.d
"""


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel (journeys.funnel_conversion): users whose
    earliest click is followed by a purchase strictly after it and
    within 24h of it, counted per click-day. All epoch-int comparisons
    — the chosen anchor/step times are exact, so the counts are pinned;
    conv_rate follows the shared round-4 ratio convention."""
    from rust_timeseries_spark.operators import journeys

    return journeys.funnel_conversion(
        _events(spark, sf_dir), ["click", "purchase"], within=86400, tier="1d"
    )


_SQL_FUNNEL = """
WITH e AS (SELECT user_id AS u, event_type AS s, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
s1 AS (SELECT u, min(t) AS t0 FROM e WHERE s = 'click' GROUP BY u),
s2 AS (
  SELECT s1.u, s1.t0, min(e.t) AS t1
  FROM s1 JOIN e ON e.u = s1.u AND e.s = 'purchase'
                AND e.t > s1.t0 AND e.t <= s1.t0 + 86400
  GROUP BY s1.u, s1.t0
),
b1 AS (SELECT t0 - t0 % 86400 AS bucket_ts, count(DISTINCT u) AS n1 FROM s1 GROUP BY 1),
b2 AS (SELECT t0 - t0 % 86400 AS bucket_ts, count(DISTINCT u) AS n2 FROM s2 GROUP BY 1)
SELECT b1.bucket_ts,
       CAST(b1.n1 AS BIGINT) AS n_step1,
       CAST(coalesce(b2.n2, 0) AS BIGINT) AS n_step2,
       round(CAST(coalesce(b2.n2, 0) AS DOUBLE) / b1.n1, 4) AS conv_rate
FROM b1 LEFT JOIN b2 USING (bucket_ts)
"""


def _q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (journeys.cohort_retention): distinct users
    active k days after their first-seen day, offsets 0..30. All
    integer outputs."""
    from rust_timeseries_spark.operators import journeys

    out = journeys.cohort_retention(_events(spark, sf_dir), tier="1d", max_offset=30)
    return out.withColumnRenamed("offset", "day_offset")


_SQL_COHORT = """
WITH e AS (
  SELECT user_id AS u, es - es % 86400 AS b
  FROM (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
),
c AS (SELECT u, min(b) AS cohort_ts FROM e GROUP BY u)
SELECT c.cohort_ts, (e.b - c.cohort_ts) // 86400 AS day_offset,
       count(DISTINCT e.u) AS n_users
FROM e JOIN c USING (u)
WHERE (e.b - c.cohort_ts) // 86400 <= 30
GROUP BY c.cohort_ts, day_offset
"""


def _q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (journeys.event_transitions): per-user
    (epoch, event_id)-ordered successor pairs — the id tie-break pins
    equal-time ordering on both engines — with per-from shares at the
    round-4 convention."""
    from rust_timeseries_spark.operators import journeys

    return journeys.event_transitions(_events(spark, sf_dir))


_SQL_TRANSITIONS = """
WITH o AS (
  SELECT event_type AS from_event,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS to_event
  FROM events
),
c AS (
  SELECT from_event, to_event, CAST(count(*) AS BIGINT) AS n
  FROM o WHERE to_event IS NOT NULL GROUP BY from_event, to_event
)
SELECT from_event, to_event, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_event), 4) AS share
FROM c
"""


def _q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key OLS trend (rolling.trend_ols) over the 1h tier, in the
    centered formulation (no nΣtv−ΣtΣv cancellation — summands stay at
    O(variance)); slope/intercept/r2 at %.5e."""
    out = rolling.trend_ols(
        _tier1h_r2(spark, sf_dir), value_col="tok_sum",
        keys=["event_type"], order_col="bucket_ts",
    )
    return out.select(
        "event_type", "n",
        _sci(F.col("slope")).alias("slope"),
        _sci(F.col("intercept")).alias("intercept"),
        _sci(F.col("r2")).alias("r2"),
    )


_SQL_TREND_OLS = """
WITH t AS (
  SELECT event_type, es - es % 3600 AS bucket_ts, round(sum(value), 2) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
),
m AS (
  SELECT event_type, count(*) AS n,
         avg(CAST(bucket_ts AS DOUBLE)) AS tbar, avg(v) AS vbar
  FROM t GROUP BY event_type
),
s AS (
  SELECT t.event_type, m.n, m.tbar, m.vbar,
         sum((CAST(t.bucket_ts AS DOUBLE) - m.tbar) * (t.v - m.vbar)) AS stv,
         sum((CAST(t.bucket_ts AS DOUBLE) - m.tbar) * (CAST(t.bucket_ts AS DOUBLE) - m.tbar)) AS stt,
         sum((t.v - m.vbar) * (t.v - m.vbar)) AS svv
  FROM t JOIN m USING (event_type)
  GROUP BY t.event_type, m.n, m.tbar, m.vbar
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CASE WHEN stt > 0 THEN printf('%.5e', stv / stt) END AS slope,
       CASE WHEN stt > 0 THEN printf('%.5e', vbar - (stv / stt) * tbar) END AS intercept,
       CASE WHEN svv > 0 AND stt > 0
            THEN printf('%.5e', (stv / stt) * (stv / stt) * stt / svv) END AS r2
FROM s
"""


def _q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test (journeys.ab_test_zstat, 3 arms by
    stable hash): counts are exact ints and the z statistic is the same
    short IEEE chain on exact ints on both engines — emitted as a RAW
    double (bit-identical, no %.5e needed). Conversion for the gate is
    the PARITY of the user's purchase count — deliberately: it keeps
    the pooled rate bounded away from {0, 1} at EVERY scale factor
    (at sf0.001 every user purchases, so "≥1 purchase" degenerates to
    p̄=1 and se=0 — found live under ANSI mode), while exercising the
    identical counting + z pipeline."""
    from rust_timeseries_spark.operators import journeys

    ev = _events(spark, sf_dir)
    user_conv = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("_np")
        )
        .select("user_id", F.pmod(F.col("_np"), F.lit(2)).cast("int").alias("conv"))
    )
    return journeys.ab_test_zstat(user_conv, n_variants=3)


_SQL_AB_TEST = """
WITH u AS (
  SELECT user_id AS uid,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) % 2 AS conv
  FROM events GROUP BY user_id
),
v AS (
  SELECT CAST(((xor(uid % 2147483648, uid // 2147483648) * 2654435761) % 4294967296) % 3 AS INTEGER) AS variant,
         conv
  FROM u
),
arms AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n_users, CAST(sum(conv) AS BIGINT) AS n_conv
  FROM v GROUP BY variant
)
SELECT variant_a, variant_b, n_a, conv_a, n_b, conv_b,
       CASE WHEN var > 0 THEN (pa - pb) / sqrt(var) END AS z_stat
FROM (
  SELECT a.variant AS variant_a, b.variant AS variant_b,
         a.n_users AS n_a, a.n_conv AS conv_a,
         b.n_users AS n_b, b.n_conv AS conv_b,
         CAST(a.n_conv AS DOUBLE) / a.n_users AS pa,
         CAST(b.n_conv AS DOUBLE) / b.n_users AS pb,
         (CAST(a.n_conv + b.n_conv AS DOUBLE) / (a.n_users + b.n_users))
           * (1.0 - CAST(a.n_conv + b.n_conv AS DOUBLE) / (a.n_users + b.n_users))
           * (1.0 / a.n_users + 1.0 / b.n_users) AS var
  FROM arms a JOIN arms b ON a.variant < b.variant
)
"""


def _q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing
    (recursion.holt_linear, α=0.3, β=0.2) over the hourly mean series —
    the trend extension of the ψ/EWMA recursion, mirrored as a DuckDB
    RECURSIVE CTE carrying (level, trend) state with the kernel's exact
    op order. Unlike the EWMA gate (whose sample-mean seed differs at
    1 ulp between engines, hence %.5e), Holt's seeds are exact values
    of the series (ℓ₀=x₀, b₀=x₁−x₀) and every recursion input is
    bit-pinned (v = exact-grid round(sum,2)/count; 1−0.3 ≡ 0.7 and
    1−0.2 ≡ 0.8 hold exactly in IEEE — verified on both engines), so
    level/forecast are emitted as RAW doubles and compared
    BIT-EXACTLY. (%.5e would be *weaker* AND wrong here: early Holt
    steps collapse to short-decimal values like 2·x₁−x₀ = 210.0075
    whose Java-vs-C formatting diverges — the documented decimal-tie
    class, hit live at sf0.01.) The kernel's NaN first-row forecast
    maps to NULL to match SQL."""
    t1h = rollup.rollup_raw(_events(spark, sf_dir), "1h", ["event_type"], "ts", "value", epoch=True)
    series = t1h.select(
        F.col("event_type").alias("key"), F.col("bucket_ts").alias("t"),
        (_r2(F.col("tok_sum")) / F.col("tok_count")).alias("v"),
    )
    out = recursion.holt_linear(series, ["key"], alpha=0.3, beta=0.2, order_col="t")
    fc = F.col("forecast")
    return out.select(
        "key", "t", "v", "level",
        F.when(~F.isnan(fc), fc).alias("forecast"),
    )


_SQL_HOLT = """
WITH RECURSIVE b AS (
  SELECT event_type AS key, es - es % 3600 AS t, round(sum(value), 2) / count(value) AS v
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY key, t
),
idx AS (
  SELECT key, t, v, row_number() OVER (PARTITION BY key ORDER BY t) AS i FROM b
),
rec AS (
  SELECT i1.key, 1 AS i, CAST(i1.v AS DOUBLE) AS lvl,
         CAST(coalesce(i2.v - i1.v, 0) AS DOUBLE) AS trd,
         CAST(NULL AS DOUBLE) AS fc
  FROM idx i1 LEFT JOIN idx i2 ON i2.key = i1.key AND i2.i = 2
  WHERE i1.i = 1
  UNION ALL
  SELECT r.key, r.i + 1,
         0.3 * x.v + 0.7 * (r.lvl + r.trd),
         0.2 * ((0.3 * x.v + 0.7 * (r.lvl + r.trd)) - r.lvl) + 0.8 * r.trd,
         r.lvl + r.trd
  FROM rec r JOIN idx x ON x.key = r.key AND x.i = r.i + 1
)
SELECT idx.key, idx.t, idx.v AS v, rec.lvl AS level, rec.fc AS forecast
FROM rec JOIN idx ON idx.key = rec.key AND idx.i = rec.i
"""


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (heavyhitters.heavy_hitters_exact): Misra–
    Gries candidates per partition (no shuffle, ≤ k·partitions
    candidates regardless of distinct-key cardinality) + exact recount
    of the bounded candidate set. The oracle is the PLAIN exact
    top-10 — a value match proves the candidate pruning lost nothing;
    the ``guaranteed`` flag (n-th count > N/(k+1)) is recomputed
    closed-form in SQL."""
    from rust_timeseries_spark.operators import heavyhitters

    words = _documents_par(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("w")
    )
    return heavyhitters.heavy_hitters_exact(words, "w", top_n=10, k_counters=64)


_SQL_HEAVY_HITTERS = """
WITH w AS (SELECT unnest(string_split(text, ' ')) AS v FROM documents),
c AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY v),
t AS (SELECT sum(n) AS total FROM c),
top AS (SELECT v, n FROM c ORDER BY n DESC, v ASC LIMIT 10)
SELECT top.v AS value, top.n,
       (SELECT min(n) FROM top) > (SELECT total FROM t) / 65.0 AS guaranteed
FROM top
"""


def _q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (audit.referential_audit): LEFT ANTI
    orphan checks across orders/customer/lineitem. The raw testdata is
    referentially clean (all-zero counts — verified), so the gate
    INJECTS deterministic violations with the identical filter on both
    engines: customers with ``c_custkey % 97 = 0`` are dropped from the
    parent side, making every order of those customers an orphan. Exact
    counts + smallest violating key."""
    from rust_timeseries_spark.operators import audit

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cust_holed = cust.where(F.pmod(F.col("c_custkey"), F.lit(97)) != 0)
    return audit.referential_audit([
        ("orders_without_customer", orders, cust_holed, "o_custkey", "c_custkey"),
        ("customers_without_orders", cust, orders, "c_custkey", "o_custkey"),
        ("lineitems_without_order", li, orders, "l_orderkey", "o_orderkey"),
    ])


_SQL_REFERENTIAL_AUDIT = """
SELECT 'orders_without_customer' AS check,
       CAST(count(*) AS BIGINT) AS n_orphans,
       CAST(min(o_custkey) AS VARCHAR) AS sample_key
FROM orders WHERE o_custkey NOT IN
  (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0)
UNION ALL
SELECT 'customers_without_orders',
       CAST(count(*) AS BIGINT),
       CAST(min(c_custkey) AS VARCHAR)
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT 'lineitems_without_order',
       CAST(count(*) AS BIGINT),
       CAST(min(l_orderkey) AS VARCHAR)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
"""


def _q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day change (rolling.period_over_period) on the 1d tier:
    prev/delta/pct from one lag window. Inputs are exact-grid 2dp sums,
    so prev, delta and the single-division pct are the same IEEE ops on
    both engines — raw doubles, no formatting."""
    t1d = rollup.rollup_raw(_events(spark, sf_dir), "1d", ["event_type"], "ts", "value", epoch=True)
    t1d = t1d.withColumn("tok_sum", _r2(F.col("tok_sum")))
    out = rolling.period_over_period(t1d, "tok_sum", ["event_type"], "bucket_ts")
    return out.select(
        "event_type", "bucket_ts", "tok_sum", "prev_value", "delta", "pct_change"
    )


_SQL_PERIOD_OVER_PERIOD = """
WITH t AS (
  SELECT event_type, es - es % 86400 AS bucket_ts, round(sum(value), 2) AS tok_sum
  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events)
  GROUP BY event_type, bucket_ts
)
SELECT event_type, bucket_ts, tok_sum,
       lag(tok_sum) OVER w AS prev_value,
       tok_sum - lag(tok_sum) OVER w AS delta,
       CASE WHEN lag(tok_sum) OVER w <> 0
            THEN (tok_sum - lag(tok_sum) OVER w) / lag(tok_sum) OVER w END AS pct_change
FROM t WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
"""


def _q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multiway star join: lineitem ⋈ orders ⋈ customer
    ⋈ supplier ⋈ nation ⋈ region, ASIA region, a two-year order window,
    revenue per nation. The plan showcase: nation/region broadcast
    explicitly (tiny dims), customer/supplier/orders join by hash on
    their keys (Catalyst/AQE picks broadcast at small SF, shuffle at
    scale — both correct), the date filter pushes into the orders scan
    as an epoch comparison (TZ-independent). Revenue = per-row
    ``floor(extprice·(1−disc)·100 + 0.5)`` cents — the identical IEEE
    chain on both engines — summed exact and rendered DECIMAL(38,2)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet").where(F.col("r_name") == "ASIA")
    # direct NTZ-literal comparison (pure wall-clock, TZ-free) — unlike
    # the epoch-arithmetic spelling, this is a plain column predicate
    # that reaches the parquet scan as a pushed filter (plan check 45
    # asserts the pushed predicate CONTENT; review r5s4 found the
    # epoch-expression form defeated pushdown)
    o = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    rev_cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("n_name").agg(
        (F.sum(rev_cents).cast("decimal(38,2)") / F.lit(100)).cast("decimal(38,2)").alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
    )


_SQL_REGIONAL_REVENUE = """
SELECT n_name,
       CAST(CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT))
            AS DECIMAL(38,2)) / 100 AS DECIMAL(38,2)) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND CAST(floor(epoch(o_orderdate)) AS BIGINT) >= 820454400
  AND CAST(floor(epoch(o_orderdate)) AS BIGINT) <  883612800
GROUP BY n_name
"""


def _q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows (streaming/rollup_stream.py:
    stream_session_rollup — merging-window stateful aggregate under a
    watermark, APPEND mode): checked against the SAME gaps-and-islands
    oracle as the batch ``session_windows`` gate, so stream ≡ batch is
    the hash-verified claim. Append mode only emits a session once the
    watermark passes its end, and the watermark computed at the END of
    batch N applies to batch N+1 — so a static backlog needs
    watermark-ADVANCING sentinel batches to flush the tail: the gate
    replays [events] → [sentinel +1d] → [sentinel +2d] (one file per
    micro-batch, mtime-ordered — the streaming_ewma mtime lesson).
    Batch 2's sentinel pushes the watermark past every real session so
    batch 3 emits them all. PROBED: ``availableNow`` also runs final
    no-new-data flush batches, so the sentinels' own sessions DO get
    emitted (9 of 10 observed at sf0.001) — the gate drops every
    session starting after the real data's max event time (one bounded
    max() aggregate; sentinels sit a full day beyond it, so the cut is
    unambiguous). Timestamps cross NTZ→LTZ at full microsecond
    precision (session gaps are sub-second-sensitive)."""
    import os
    import shutil
    import tempfile
    import uuid

    from rust_timeseries_spark.streaming import rollup_stream

    ev = _events(spark, sf_dir)
    stage = tempfile.mkdtemp(prefix="rts_sess_")
    name = f"ssess_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="rts_sess_ckpt_")
    try:
        def _drop(df, fname: str, mtime: float) -> None:
            tmp = f"{stage}/_w_{fname}"
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            dst = f"{stage}/{fname}"
            shutil.move(f"{tmp}/{part}", dst)
            shutil.rmtree(tmp)
            os.utime(dst, (mtime, mtime))

        import time as _time

        now = _time.time()
        _drop(ev, "000_events.parquet", now - 30)
        sent = (
            ev.groupBy("event_type")
            .agg(F.max("ts").alias("_mx"))
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                (F.col("_mx") + F.expr("INTERVAL 1 DAY")).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                "event_type",
                F.lit(0.0).alias("value"),
                F.lit("").alias("props"),
            )
        )
        _drop(sent, "001_sentinel.parquet", now - 20)
        _drop(
            sent.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY")),
            "002_sentinel.parquet",
            now - 10,
        )
        agg = rollup_stream.stream_session_rollup(
            spark, stage, ev.schema, gap="5 minutes",
            keys=["event_type"], ts_col="ts", value_col="value",
            reader_options={"maxFilesPerTrigger": "1"},
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("streaming_sessions did not drain within 600s")
        t = spark.table(name)
        dt = dict(t.dtypes)
        max_es = ev.agg(
            F.max(rollup.epoch_seconds(F.col("ts"), dict(ev.dtypes)["ts"]))
        ).collect()[0][0]
        out = t.select(
            "event_type",
            rollup.epoch_seconds(F.col("session_start"), dt["session_start"]).alias("session_start"),
            rollup.epoch_seconds(F.col("session_end"), dt["session_end"]).alias("session_end"),
            _r2(F.col("tok_sum")).alias("tok_sum"),
            "tok_count",
        ).where(F.col("session_start") <= max_es)
        # eager checkpoint: no driver row roundtrip (see
        # streaming_rollup_1m)
        out = out.localCheckpoint()
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
    return out


def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round trip (sources/csvsrc.py): documents with
    CSV-hostile characters (delimiter comma, double quote, backslash,
    tab) deterministically appended — NO newline: the splittable CSV
    contract keeps newlines out of fields, and the multiLine escape
    hatch is pytest-covered instead (it costs one-split-per-file at
    scale). Same aggregates and oracle pattern as jsonl_roundtrip:
    a value match proves write→quote/escape→parse is byte-lossless."""
    import tempfile

    from rust_timeseries_spark.sources import csvsrc, jsonl as jsonl_src

    work = tempfile.mkdtemp(prefix="rts_csv_")
    docs = _documents(spark, sf_dir).withColumn(
        "text", F.concat(F.col("text"), F.lit(' ,"q\\x\ty'))
    )
    csvsrc.write_csv(docs, f"{work}/docs")
    back = csvsrc.read_csv(spark, f"{work}/docs", jsonl_src.DOCUMENT_SCHEMA)
    return back.groupBy("source").agg(
        F.count("doc_id").alias("n_docs"),
        F.sum("n_chars").alias("sum_nchars"),
        F.sum(F.length("text")).alias("sum_textlen"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_corrupt"),
    )


_SQL_CSV_ROUNDTRIP = """
WITH d AS (
  SELECT source, doc_id, n_chars,
         text || ' ,"q' || chr(92) || 'x' || chr(9) || 'y' AS text
  FROM documents
)
SELECT source,
       count(doc_id) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_nchars,
       CAST(sum(length(text)) AS BIGINT) AS sum_textlen,
       min(text) AS min_text,
       max(text) AS max_text,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(0 AS BIGINT) AS n_corrupt
FROM d GROUP BY source
"""


def _q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sliding-window distinct users (rollup.sliding_distinct,
    3h windows sliding 1h): the trailing active-users metric. All-int
    output; the oracle expands each event into its 3 hourly windows
    and distinct-counts, mirroring F.window's (t−len, t] alignment."""
    out = rollup.sliding_distinct(
        _events(spark, sf_dir), id_col="user_id",
        window_len="3 hours", slide="1 hour",
        keys=["event_type"], ts_col="ts",
    )
    dt = dict(out.dtypes)
    return out.select(
        "event_type",
        rollup.epoch_seconds(F.col("win_start"), dt["win_start"]).alias("win_start"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


_SQL_SLIDING_DISTINCT = """
WITH e AS (
  SELECT event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
),
expanded AS (
  SELECT event_type, user_id, es - es % 3600 - o.i * 3600 AS win_start
  FROM e, (SELECT unnest(range(3)) AS i) o
)
SELECT event_type, win_start, count(DISTINCT user_id) AS n_distinct
FROM expanded GROUP BY event_type, win_start
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rollup_1m": _q_rollup_1m,
        "token_equality": _q_token_equality,
        "streaming_rollup_1m": _q_streaming_rollup_1m,
        "streaming_rollup_late": _q_streaming_rollup_late,
        "rollup_1m_salted": _q_rollup_1m_salted,
        "session_windows": _q_session_windows,
        "sliding_windows_3h_1h": _q_sliding_windows_3h_1h,
        "rollup_1h_fold": _q_rollup_1h,
        "rollup_1d_fold": _q_rollup_1d,
        "rollup_grouping_sets": _q_grouping_sets,
        "topk_sources": _q_topk,
        "rolling_stats_3h": _q_rolling,
        "anomaly_zscore_1h": _q_anomaly_zscore_1h,
        "gapfill_locf_1h": _q_gapfill_locf,
        "gapfill_linear_1h": _q_gapfill_linear,
        "lag_moments": _q_lag_moments,
        "dedup_exact": _q_dedup_exact,
        "doc_token_stats": _q_doc_tokens,
        "ngram_jaccard": _q_jaccard,
        "ngram_jaccard_prefix": _q_jaccard_prefix,
        "dedup_clusters": _q_dedup_clusters,
        "decontaminate_eval": _q_decontaminate,
        "embedding_norms": _q_embedding_norms,
        "ewma_1h": _q_ewma,
        "ewma_distributed_1h": _q_ewma_distributed,
        "streaming_ewma_1h": _q_streaming_ewma,
        "tier_incremental_1h": _q_tier_incremental,
        "acd_forecast_1h": _q_forecast,
        "el_test": _q_el_test,
        "hac_covariance": _q_hac,
        "hac_covariance_parzen": _q_hac_parzen,
        "hac_covariance_qs": _q_hac_qs,
        "acd_fit_durations": _q_acd_fit,
        "acd_loglik_weibull": _q_acd_loglik_weibull,
        "acd_loglik_gengamma": _q_acd_loglik_gengamma,
        "acd_covariance_durations": _q_acd_covariance,
        "acd_gof_residuals": _q_acd_gof,
        "text_quality": _q_text_quality,
        "text_repetition": _q_text_repetition,
        "pii_redact": _q_pii_redact,
        "lang_id": _q_lang_id,
        "dedup_fingerprints": _q_fingerprints,
        "embedding_knn": _q_knn,
        "embedding_knn_ivf": _q_knn_ivf,
        "dedup_minhash_lsh": _q_minhash_dedup,
        "dedup_simhash": _q_simhash,
        "lsh_jaccard_verify": _q_lsh_verify,
        "embedding_near_dup": _q_embedding_near_dup,
        "image_features": _q_image_features,
        "audio_features": _q_audio_features,
        "video_features": _q_video_features,
        "video_features_mjpeg": _q_video_features_mjpeg,
        "asof_join_1h": _q_asof_join_1h,
        "interval_join_1d": _q_interval_join_1d,
        "doc_split_stats": _q_doc_split,
        "doc_mixture_budget": _q_doc_mixture,
        "bm25_topk": _q_bm25_topk,
        "doc_pack_1k": _q_doc_pack,
        "streaming_dedup": _q_streaming_dedup,
        "compression_roundtrip": _q_compression_roundtrip,
        "pricing_summary": _q_pricing_summary,
        "orders_dim_join": _q_orders_dim_join,
        "distinct_users_1d": _q_distinct_users,
        "distinct_rollup_sketch": _q_distinct_rollup_sketch,
        "dedup_survivors": _q_dedup_survivors,
        "dedup_incremental": _q_dedup_incremental,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "stratified_sample": _q_stratified_sample,
        "quality_filter": _q_quality_filter,
        "vocab_topk": _q_vocab_topk,
        "winsorize_events": _q_winsorize,
        "url_domain_stats": _q_url_domain_stats,
        "line_dedup": _q_line_dedup,
        "dup_span_stats": _q_dup_span,
        "embedding_kmeans": _q_embedding_kmeans,
        "weighted_sample": _q_weighted_sample,
        "cross_corr_1h": _q_cross_corr,
        "cusum_changepoint_1h": _q_cusum,
        "seasonal_profile_1h": _q_seasonal,
        "pivot_report_1d": _q_pivot,
        "char_entropy": _q_char_entropy,
        "funnel_conversion_1d": _q_funnel,
        "cohort_retention_1d": _q_cohort,
        "event_transitions": _q_transitions,
        "trend_ols_1h": _q_trend_ols,
        "ab_test_zstat": _q_ab_test,
        "holt_linear_1h": _q_holt,
        "heavy_hitters": _q_heavy_hitters,
        "referential_audit": _q_referential_audit,
        "period_over_period_1d": _q_period_over_period,
        "regional_revenue": _q_regional_revenue,
        "streaming_sessions": _q_streaming_sessions,
        "csv_roundtrip": _q_csv_roundtrip,
        "sliding_distinct_3h_1h": _q_sliding_distinct,
        "value_histogram": _q_value_histogram,
        "quantiles_1d": _q_quantiles_1d,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "rollup_1m": _SQL_ROLLUP_1M,
        "token_equality": _SQL_TOKEN_EQUALITY,
        # stream ≡ batch: the streaming rollup answers to the SAME oracle
        "streaming_rollup_1m": _SQL_ROLLUP_1M,
        # late/out-of-order convergence: the MERGE-maintained tier must
        # converge to the batch state — same oracle again
        "streaming_rollup_late": _SQL_ROLLUP_1M,
        # salted ≡ plain: skew handling must not change results
        "rollup_1m_salted": _SQL_ROLLUP_1M,
        "session_windows": _SQL_SESSION_WINDOWS,
        "sliding_windows_3h_1h": _SQL_SLIDING_WINDOWS,
        "rollup_1h_fold": _SQL_ROLLUP_1H,
        "rollup_1d_fold": _SQL_ROLLUP_1D,
        "rollup_grouping_sets": _SQL_GROUPING_SETS,
        "topk_sources": _SQL_TOPK,
        "rolling_stats_3h": _SQL_ROLLING,
        "anomaly_zscore_1h": _SQL_ANOMALY_ZSCORE_1H,
        "gapfill_locf_1h": _SQL_GAPFILL_LOCF,
        "gapfill_linear_1h": _SQL_GAPFILL_LINEAR,
        "lag_moments": _SQL_LAG_MOMENTS,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "doc_token_stats": _SQL_DOC_TOKENS,
        "ngram_jaccard": _SQL_JACCARD,
        "ngram_jaccard_prefix": _SQL_JACCARD_PREFIX,
        "dedup_clusters": _SQL_DEDUP_CLUSTERS,
        "decontaminate_eval": _SQL_DECONTAMINATE,
        "embedding_norms": _SQL_EMBEDDING_NORMS,
        "el_test": _SQL_EL_TEST,
        "hac_covariance": _SQL_HAC,
        "hac_covariance_parzen": _SQL_HAC_PARZEN,
        "hac_covariance_qs": _SQL_HAC_QS,
        "ewma_1h": _SQL_EWMA,
        "ewma_distributed_1h": _SQL_EWMA_DISTRIBUTED,
        # stateful stream ≡ uninterrupted batch recursion: same oracle
        "streaming_ewma_1h": _SQL_EWMA_DISTRIBUTED,
        # incremental MERGE ≡ one-shot batch: same oracle as rollup_1h_fold
        "tier_incremental_1h": _SQL_ROLLUP_1H,
        "acd_forecast_1h": _SQL_FORECAST,
        "text_quality": _SQL_TEXT_QUALITY,
        "text_repetition": _SQL_TEXT_REPETITION,
        "pii_redact": _SQL_PII_REDACT,
        "lang_id": _SQL_LANG_ID,
        "dedup_fingerprints": _SQL_FINGERPRINTS,
        "embedding_knn": _SQL_KNN,
        # probe-all IVF ≡ brute force: same oracle
        "embedding_knn_ivf": _SQL_KNN,
        "image_features": _SQL_IMAGE_FEATURES,
        "audio_features": _SQL_AUDIO_FEATURES,
        "video_features": _SQL_VIDEO_FEATURES,
        "video_features_mjpeg": _SQL_VIDEO_FEATURES_MJPEG,
        "asof_join_1h": _SQL_ASOF_JOIN_1H,
        "interval_join_1d": _SQL_INTERVAL_JOIN_1D,
        "doc_split_stats": _SQL_DOC_SPLIT,
        "doc_mixture_budget": _SQL_DOC_MIXTURE,
        "bm25_topk": _SQL_BM25_TOPK,
        "doc_pack_1k": _SQL_DOC_PACK,
        "streaming_dedup": _SQL_STREAMING_DEDUP,
        "compression_roundtrip": _SQL_COMPRESSION_ROUNDTRIP,
        "pricing_summary": _SQL_PRICING_SUMMARY,
        "orders_dim_join": _SQL_ORDERS_DIM_JOIN,
        "distinct_users_1d": _SQL_DISTINCT_USERS,
        "distinct_rollup_sketch": _SQL_DISTINCT_ROLLUP_SKETCH,
        "dedup_survivors": _SQL_DEDUP_SURVIVORS,
        "dedup_incremental": _SQL_DEDUP_INCREMENTAL,
        "jsonl_roundtrip": _SQL_JSONL_ROUNDTRIP,
        "stratified_sample": _SQL_STRATIFIED_SAMPLE,
        "quality_filter": _SQL_QUALITY_FILTER,
        "vocab_topk": _SQL_VOCAB_TOPK,
        "winsorize_events": _SQL_WINSORIZE,
        "url_domain_stats": _SQL_URL_DOMAIN_STATS,
        "line_dedup": _SQL_LINE_DEDUP,
        "dup_span_stats": _SQL_DUP_SPAN,
        "embedding_kmeans": _SQL_EMBEDDING_KMEANS,
        "weighted_sample": _SQL_WEIGHTED_SAMPLE,
        "cross_corr_1h": _SQL_CROSS_CORR,
        "cusum_changepoint_1h": _SQL_CUSUM,
        "seasonal_profile_1h": _SQL_SEASONAL,
        "pivot_report_1d": _SQL_PIVOT,
        "char_entropy": _SQL_CHAR_ENTROPY,
        "funnel_conversion_1d": _SQL_FUNNEL,
        "cohort_retention_1d": _SQL_COHORT,
        "event_transitions": _SQL_TRANSITIONS,
        "trend_ols_1h": _SQL_TREND_OLS,
        "ab_test_zstat": _SQL_AB_TEST,
        "holt_linear_1h": _SQL_HOLT,
        "heavy_hitters": _SQL_HEAVY_HITTERS,
        "referential_audit": _SQL_REFERENTIAL_AUDIT,
        "period_over_period_1d": _SQL_PERIOD_OVER_PERIOD,
        "regional_revenue": _SQL_REGIONAL_REVENUE,
        "streaming_sessions": _SQL_SESSION_WINDOWS,
        "csv_roundtrip": _SQL_CSV_ROUNDTRIP,
        "sliding_distinct_3h_1h": _SQL_SLIDING_DISTINCT,
        "value_histogram": _SQL_VALUE_HISTOGRAM,
        "quantiles_1d": _SQL_QUANTILES_1D,
        "acd_fit_durations": _SQL_ACD_FIT,
        "acd_loglik_weibull": _SQL_ACD_LOGLIK_WEIBULL,
        "acd_loglik_gengamma": _SQL_ACD_LOGLIK_GENGAMMA,
        "acd_gof_residuals": _SQL_ACD_GOF,
        # dedup_minhash_lsh / dedup_simhash hash with Spark-native
        # xxhash64, which DuckDB cannot recompute live. Their oracles are
        # FROZEN VALUES literals produced by an INDEPENDENT pure-Python
        # recompute of each pipeline (tools/gen_frozen_oracles.py —
        # xxh64 reimplementation pinned against F.xxhash64 by pytest),
        # verified equal to the engine output before freezing. Valid at
        # the driver's correctness scale (sf0.01, deterministic seed-42
        # testdata).
        **_frozen_oracles(),
    }


#: queries whose oracle is a frozen literal — oracle_sql() serves the
#: driver-gate scale (sf0.01); tools/check_oracle.py selects the entry
#: matching its sf dir from oracle_frozen.SF_SQL
FROZEN_ORACLE_QUERIES = frozenset(
    {"dedup_minhash_lsh", "dedup_simhash", "lsh_jaccard_verify",
     "acd_covariance_durations", "embedding_near_dup"}
)

#: largest scale factor at which an oracle is practical to RUN — the
#: durations-fit oracle is a RECURSIVE CTE whose iteration count equals
#: the series length (~20k at sf0.1); DuckDB re-scans the join input
#: per iteration, so past sf0.01 the oracle (not the engine) is the
#: bottleneck. The driver's correctness gate runs at sf0.01, where it
#: completes in seconds.
ORACLE_SF_LIMITS = {
    "acd_fit_durations": 0.01,
    "acd_loglik_weibull": 0.01,
    "acd_loglik_gengamma": 0.01,
    "acd_gof_residuals": 0.01,
}


def _frozen_oracles() -> dict[str, str]:
    try:
        import oracle_frozen
    except ImportError:
        return {}
    if hasattr(oracle_frozen, "SF_SQL"):  # per-sf format (round 4)
        # serve ONLY the always-frozen queries: the r5 per-SF freeze also
        # stores the 4 ACD loglik/gof entries (for sweeps past their
        # live-CTE scale limit), but at the driver scale those queries
        # keep their live RECURSIVE-CTE oracles — an unfiltered spread
        # overrode them with the sf0.01 literals, which then leaked into
        # every OTHER scale's sweep (caught by the r5 sf0.001 matrix run)
        return {
            q: sql
            for q, sql in oracle_frozen.SF_SQL[oracle_frozen.DRIVER_SF].items()
            if q in FROZEN_ORACLE_QUERIES
        }
    out = {
        "dedup_minhash_lsh": oracle_frozen.MINHASH_LSH_SQL,
        "dedup_simhash": oracle_frozen.SIMHASH_SQL,
    }
    if hasattr(oracle_frozen, "LSH_VERIFIED_SQL"):
        out["lsh_jaccard_verify"] = oracle_frozen.LSH_VERIFIED_SQL
    return out
