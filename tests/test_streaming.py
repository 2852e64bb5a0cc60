import time

import pytest
from pyspark.sql import functions as F

from rust_timeseries_spark import datagen
from rust_timeseries_spark.operators import rollup
from rust_timeseries_spark.streaming import rollup_stream


def test_stream_rollup_matches_batch(spark, tmp_path):
    # stage raw token rows as two parquet "arrivals"
    raw = datagen.with_event_time(datagen.token_table(spark, 2000)).select(
        "doc_id", "source", "ts", "n_tok"
    )
    in_dir = str(tmp_path / "in")
    raw.where(F.xxhash64("doc_id") % 2 == 0).write.mode("append").parquet(in_dir)
    raw.where(F.xxhash64("doc_id") % 2 != 0).write.mode("append").parquet(in_dir)

    agg = rollup_stream.stream_rollup(
        spark, in_dir, raw.schema, tier="1h", watermark="30 minutes"
    )

    merged = {}

    def merge_fn(batch_df, batch_id):
        for r in batch_df.collect():
            merged[(r["source"], r["bucket_ts"])] = (
                r["tok_sum"], r["tok_count"], r["tok_min"], r["tok_max"]
            )

    q = rollup_stream.run_incremental(agg, str(tmp_path / "ckpt"), merge_fn)
    q.awaitTermination(120)
    time.sleep(0.5)

    batch = rollup.rollup_raw(spark.read.parquet(in_dir), "1h")
    expected = {
        (r["source"], r["bucket_ts"]): (r["tok_sum"], r["tok_count"], r["tok_min"], r["tok_max"])
        for r in batch.collect()
    }
    assert merged == expected


def test_stream_late_data_across_restart_converges(spark, tmp_path):
    # the §2.9 late-data story end-to-end: a first query run processes
    # the on-time batch and stops (availableNow); new files arrive —
    # including a LATE row for an already-emitted bucket, within the
    # watermark — and a SECOND query run resumes from the checkpoint.
    # The foreachBatch MERGE must converge to exactly the batch rollup
    # over all rows (the late row re-dirties its bucket).
    rows1 = [
        ("a", "2024-01-01 10:00:30", 5),
        ("a", "2024-01-01 10:00:50", 7),
        ("a", "2024-01-01 10:02:10", 1),
        ("b", "2024-01-01 10:01:00", 4),
    ]
    rows2 = [
        ("a", "2024-01-01 10:10:00", 9),   # new bucket, advances watermark
        ("a", "2024-01-01 10:00:40", 2),   # LATE: lands in the 10:00 bucket
        ("b", "2024-01-01 10:01:59", 6),   # LATE: lands in b's 10:01 bucket
    ]

    def to_df(rows):
        return spark.createDataFrame(rows, "source string, ts string, n_tok int").select(
            "source", F.col("ts").cast("timestamp").alias("ts"), "n_tok"
        )

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    to_df(rows1).write.mode("append").parquet(in_dir)
    schema = to_df(rows1).schema

    merged = {}

    def merge_fn(batch_df, batch_id):
        for r in batch_df.collect():
            merged[(r["source"], r["bucket_ts"])] = (
                r["tok_sum"], r["tok_count"], r["tok_min"], r["tok_max"]
            )

    for arrival in (None, rows2):
        if arrival is not None:
            to_df(arrival).write.mode("append").parquet(in_dir)
        agg = rollup_stream.stream_rollup(
            spark, in_dir, schema, tier="1m", watermark="30 minutes"
        )
        q = rollup_stream.run_incremental(agg, ckpt, merge_fn)
        q.awaitTermination(120)
        time.sleep(0.5)

    batch = rollup.rollup_raw(spark.read.parquet(in_dir), "1m")
    expected = {
        (r["source"], r["bucket_ts"]): (r["tok_sum"], r["tok_count"], r["tok_min"], r["tok_max"])
        for r in batch.collect()
    }
    assert merged == expected
    # the late rows really did update already-emitted buckets
    import datetime
    b_a = merged[("a", datetime.datetime(2024, 1, 1, 10, 0))]
    assert b_a == (14, 3, 2, 7)  # 5 + 7 + late 2


def test_stateful_streaming_ewma_bit_exact(spark, tmp_path):
    import numpy as np
    from rust_timeseries_spark.operators import recursion as rec
    from rust_timeseries_spark.streaming import ewma_stream

    # two time-ordered file drops per key
    rng = np.random.default_rng(5)
    series = {f"k{i}": 1.0 + rng.random(40) for i in range(4)}
    rows = [(k, t, float(v)) for k, xs in series.items() for t, v in enumerate(xs)]
    in_dir = str(tmp_path / "sin")
    df = spark.createDataFrame(rows, "key string, t long, v double")
    df.where(F.col("t") < 20).coalesce(1).write.mode("append").parquet(in_dir)
    df.where(F.col("t") >= 20).coalesce(1).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    out = ewma_stream.ewma_stateful(stream, alpha=0.3, init_value=1.5)
    got = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            got[(r["key"], r["t"])] = r["psi"]

    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # bit-exact vs one uninterrupted batch recursion per key
    for k, xs in series.items():
        exp = rec.psi_recursion_np(
            np.asarray(xs), 0.0, np.array([0.3]), np.array([0.7]),
            np.array([1.5]), np.array([1.5]), guards=(-np.inf, np.inf),
        )
        for t in range(len(xs)):
            assert got[(k, t)] == exp[t], (k, t)


def test_stream_rollup_epoch_keys_match_tier_store_convention(spark, tmp_path):
    """epoch=True emits bucket_ts as epoch-second BIGINT — the batch
    TierStore / rollup_raw(epoch=True) key convention — so foreachBatch
    MERGEs into an epoch-keyed tier join correctly (review r4: the
    default timestamp bucket would join timestamp vs long and never
    match)."""
    raw = datagen.with_event_time(datagen.token_table(spark, 1500)).select(
        "doc_id", "source", "ts", "n_tok"
    )
    in_dir = str(tmp_path / "ein")
    raw.write.mode("append").parquet(in_dir)

    agg = rollup_stream.stream_rollup(
        spark, in_dir, raw.schema, tier="1h", watermark="30 minutes", epoch=True
    )
    assert dict(agg.dtypes)["bucket_ts"] == "bigint"
    got = {}

    def merge_fn(batch_df, _bid):
        for r in batch_df.collect():
            got[(r["source"], r["bucket_ts"])] = (
                r["tok_sum"], r["tok_count"], r["tok_min"], r["tok_max"]
            )

    q = rollup_stream.run_incremental(agg, str(tmp_path / "eckpt"), merge_fn)
    q.awaitTermination(300)
    exp = {
        (r["source"], r["bucket_ts"]): (r["tok_sum"], r["tok_count"], r["tok_min"], r["tok_max"])
        for r in rollup.rollup_raw(raw, "1h", epoch=True).collect()
    }
    assert got == exp  # keys AND values identical to the batch epoch tier


def test_dedup_stream_watermark_eviction(spark, tmp_path):
    # the at-least-once boundary of streaming dedup: a duplicate inside
    # the watermark window is dropped; one arriving after state eviction
    # re-emits. Three mtime-ordered files drive the watermark forward
    # deterministically with availableNow + maxFilesPerTrigger=1.
    import os
    import time

    from pyspark.sql import functions as F

    from rust_timeseries_spark.streaming import dedup_stream

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    base_t = 1_700_000_000

    def parquet_files():
        return {os.path.join(in_dir, f) for f in os.listdir(in_dir) if f.endswith(".parquet")}

    def drop_file(rows, order):
        before = parquet_files() if os.path.isdir(in_dir) else set()
        df = spark.createDataFrame(rows, "event_id long, t long")
        df.coalesce(1).write.mode("append").parquet(in_dir)
        # the file this call wrote: the previous file's mtime was pushed
        # into the future, so the newest mtime is not always this one
        (new,) = parquet_files() - before
        os.utime(new, (time.time() + order, time.time() + order))

    # delay 10s. batch1: id=1 @t0 (watermark after batch: t0-10).
    # batch2: id=2 @t0+100 advances the watermark to t0+90, evicting
    # id=1's state (expiry t0+10); the id=1 duplicate in the SAME batch
    # is dropped by still-live state. batch3: a same-event-time id=1
    # duplicate is now LATE (t0 < watermark) — the late filter drops it,
    # covering the eviction gap. batch4: id=1 with a NEWER event time
    # (t0+95 > watermark, state evicted) RE-EMITS — the true
    # at-least-once boundary of streaming dedup.
    drop_file([(1, base_t)], 1)
    drop_file([(2, base_t + 100), (1, base_t)], 2)
    drop_file([(1, base_t)], 3)
    drop_file([(1, base_t + 95)], 4)

    stream = (
        spark.readStream.schema("event_id long, t long")
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    out = dedup_stream.dedup_stream(
        stream, keys=["event_id"], ts_col="t", delay="10 seconds",
        epoch_seconds_col=True,
    )
    rows = []

    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda b, _i: rows.extend(b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    emitted = sorted((r["event_id"], r["t"]) for r in rows)
    # id=1: original + the post-eviction NEWER-timestamped replay; the
    # in-state duplicate (batch2) and the late same-time duplicate
    # (batch3) are both dropped
    assert emitted == [(1, base_t), (1, base_t + 95), (2, base_t + 100)], emitted


def test_stream_session_rollup_matches_batch(spark, tmp_path):
    """Streaming session windows ≡ batch session_rollup, including the
    sub-second gap boundary (299.9s apart merges under a 5-minute gap,
    300.000001s splits) — the microsecond NTZ→LTZ bridge under test."""
    import datetime
    import os

    base = datetime.datetime(2024, 1, 1)

    def ts(sec):
        return base + datetime.timedelta(seconds=sec)

    rows = [
        # k1: merge at 299.9s, exact-300s boundary also merges (batch
        # semantics: split only when diff > gap), split at 300.000001
        ("k1", ts(0.0), 1.0),
        ("k1", ts(299.9), 1.0),
        ("k1", ts(599.9), 1.0),          # 300.0 after previous: merges
        ("k1", ts(900.000001), 1.0),     # 300.000001 after: NEW session
        ("k2", ts(50.5), 2.0),
    ]
    df = spark.createDataFrame(rows, ["source", "ts", "n_tok"])
    in_dir = str(tmp_path / "sess_in")
    os.makedirs(in_dir)
    df.coalesce(1).write.mode("append").parquet(in_dir)
    # two watermark-advancing sentinels, one file each, later mtimes
    for i, off in enumerate((86400, 2 * 86400), start=1):
        s = df.groupBy("source").agg(F.max("ts").alias("ts")).select(
            "source", (F.col("ts") + F.expr(f"INTERVAL {off} SECOND")).alias("ts"),
            F.lit(0.0).alias("n_tok"),
        )
        sub = str(tmp_path / f"w{i}")
        s.coalesce(1).write.mode("overwrite").parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        dst = f"{in_dir}/zz{i}.parquet"
        os.rename(f"{sub}/{part}", dst)
        os.utime(dst, (time.time() + 10 * i,) * 2)

    agg = rollup_stream.stream_session_rollup(
        spark, in_dir, df.schema, gap="5 minutes",
        keys=["source"], ts_col="ts", value_col="n_tok",
        reader_options={"maxFilesPerTrigger": "1"},
    )
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName("sess_test")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    got = spark.table("sess_test")
    max_ts = df.agg(F.max("ts")).collect()[0][0]
    got = {
        (r["source"], r["session_start"], r["session_end"], r["tok_sum"], r["tok_count"])
        for r in got.collect() if r["session_start"] <= max_ts
    }
    batch = rollup.session_rollup(df, gap="5 minutes", keys=["source"],
                                  ts_col="ts", value_col="n_tok")
    want = {
        (r["source"], r["session_start"], r["session_end"], r["tok_sum"], r["tok_count"])
        for r in batch.collect()
    }
    spark.catalog.dropTempView("sess_test")
    assert got == want
    # the boundary behavior itself: k1 has exactly 2 sessions
    assert sum(1 for r in want if r[0] == "k1") == 2


@pytest.mark.parametrize(
    "query, module, fn",
    [
        ("streaming_ewma_1h", "ewma_stream", "ewma_stateful"),
        ("streaming_dedup", "dedup_stream", "dedup_stream"),
    ],
)
def test_streaming_collector_zero_micro_batches(spark, sf_dir, tmp_path, monkeypatch, query, module, fn):
    # the query's stream is swapped for one over an EMPTY input dir, so
    # the foreachBatch collector sees zero micro-batches: the result is
    # an empty frame of the query's usual schema, not a missing-path error
    import importlib

    import __spark_entry__ as entry

    mod = importlib.import_module(f"rust_timeseries_spark.streaming.{module}")
    real = getattr(mod, fn)
    empty_dir = tmp_path / "empty_in"
    empty_dir.mkdir()

    def on_empty_input(stream_df, *args, **kwargs):
        empty = spark.readStream.schema(stream_df.schema).parquet(str(empty_dir))
        return real(empty, *args, **kwargs)

    expected = entry.queries()[query](spark, sf_dir).schema
    monkeypatch.setattr(mod, fn, on_empty_input)
    got = entry.queries()[query](spark, sf_dir)
    assert got.count() == 0
    assert got.schema == expected
