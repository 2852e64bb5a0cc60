import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_timeseries_spark import datagen
from rust_timeseries_spark.plans.pipeline import RollupPipeline
from rust_timeseries_spark.plans.tiers import TierStore


@pytest.fixture()
def raw(spark):
    return datagen.with_event_time(datagen.token_table(spark, 3000)).select(
        "doc_id", "source", "ts", "n_tok"
    )


def _tier_dict(df):
    return {tuple(r[:2]): tuple(r[2:]) for r in
            df.select("source", "bucket_ts", "tok_sum", "tok_count", "tok_min", "tok_max").collect()}


def test_materialize_and_read_roundtrip(spark, raw, tmp_path):
    store = TierStore(spark, str(tmp_path / "tiers"))
    store.materialize_full(raw)
    for tier in ("1m", "1h", "1d"):
        got = _tier_dict(store.read_tier(tier))
        exp = _tier_dict(store.cascade(raw)[tier])
        assert got == exp


def test_incremental_equals_full(spark, raw, tmp_path):
    store = TierStore(spark, str(tmp_path / "tiers"))
    # day-based split: first materialize the early part, then merge the rest
    cut = raw.approxQuantile("n_tok", [0.5], 0)[0]  # arbitrary row split
    part1 = raw.where(F.col("n_tok") <= cut)
    part2 = raw.where(F.col("n_tok") > cut)
    store.materialize_full(part1)
    store.merge_increment(raw, part2)
    for tier in ("1m", "1h", "1d"):
        got = _tier_dict(store.read_tier(tier))
        exp = _tier_dict(store.cascade(raw)[tier])
        assert got == exp


def test_merge_is_idempotent(spark, raw, tmp_path):
    store = TierStore(spark, str(tmp_path / "tiers"))
    store.materialize_full(raw)
    before = _tier_dict(store.read_tier("1h"))
    # replay the same batch twice (simulates a retried half-finished run)
    batch = raw.limit(500)
    store.merge_increment(raw, batch)
    store.merge_increment(raw, batch)
    assert _tier_dict(store.read_tier("1h")) == before


def test_retention_expiry(spark, raw, tmp_path):
    store = TierStore(spark, str(tmp_path / "tiers"))
    store.materialize_full(raw)
    days = sorted({r[0] for r in store.read_tier("1m").select(
        (F.col("bucket_ts") - F.pmod(F.col("bucket_ts"), F.lit(86400))).alias("d")).distinct().collect()})
    assert len(days) > 2
    cutoff = days[2]
    dropped = store.expire("1m", cutoff)
    assert dropped == 2
    remaining = store.read_tier("1m").agg(F.min("bucket_ts")).collect()[0][0]
    assert remaining >= cutoff


def test_retention_expiry_timestamp_partitions(spark, raw, tmp_path):
    # epoch=False stores write bucket_day as URL-encoded timestamp
    # strings; expire must parse those (round-1 defect: int(float(...))
    # failed and retention silently dropped nothing)
    store = TierStore(spark, str(tmp_path / "tiers_ts"), epoch=False)
    store.materialize_full(raw)
    days = sorted({r[0] for r in store.read_tier("1m").select(
        F.date_trunc("day", F.col("bucket_ts")).alias("d")).distinct().collect()})
    assert len(days) > 2
    cutoff = int(days[2].replace(tzinfo=__import__("datetime").timezone.utc).timestamp())
    dropped = store.expire("1m", cutoff)
    assert dropped == 2
    remaining = store.read_tier("1m").agg(F.min("bucket_ts")).collect()[0][0]
    assert int(remaining.replace(tzinfo=__import__("datetime").timezone.utc).timestamp()) >= cutoff


def test_retention_raises_on_unparseable_partition(spark, raw, tmp_path):
    import os

    store = TierStore(spark, str(tmp_path / "tiers_bad"))
    store.materialize_full(raw)
    os.makedirs(os.path.join(store.tier_path("1m"), "bucket_day=garbage"))
    with pytest.raises(ValueError, match="cannot parse bucket_day"):
        store.expire("1m", 10 ** 12)


def test_merge_overlapping_out_of_order_batches(spark, raw, tmp_path):
    # the Iceberg MERGE INTO story as far as the sandbox allows: three
    # OVERLAPPING batches arrive out of event-time order, one is
    # replayed twice (retry), against two independent materializations —
    # both stores converge to the full cascade and tier_diff is empty
    from rust_timeseries_spark.operators.rollup import epoch_seconds, tier_diff

    es = epoch_seconds(F.col("ts"), dict(raw.dtypes)["ts"])
    day = (es - F.pmod(es, F.lit(86400))).alias("d")
    days = sorted(r["d"] for r in raw.select(day).distinct().collect())
    mid = days[len(days) // 2]
    late = raw.where(es - F.pmod(es, F.lit(86400)) >= mid)          # newest days first
    early = raw.where(es - F.pmod(es, F.lit(86400)) < mid)
    overlap = raw.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 0)  # spans both ranges

    a = TierStore(spark, str(tmp_path / "store_a"))
    a.materialize_full(late)              # out-of-order: late data lands first
    a.merge_increment(raw, early)
    a.merge_increment(raw, overlap)       # overlapping upsert
    a.merge_increment(raw, overlap)       # replayed retry

    b = TierStore(spark, str(tmp_path / "store_b"))
    b.materialize_full(raw)               # single-shot reference materialization

    for tier in ("1m", "1h", "1d"):
        assert _tier_dict(a.read_tier(tier)) == _tier_dict(a.cascade(raw)[tier])
        assert tier_diff(a.read_tier(tier), b.read_tier(tier)).count() == 0


def test_pipeline_lineage_metrics_and_ewma_resume(spark, raw, tmp_path):
    base = str(tmp_path / "p")
    pipe = RollupPipeline(spark, base)
    # split raw by event-time: first 4 days, then the rest
    dtype = dict(raw.dtypes)["ts"]
    from rust_timeseries_spark.operators.rollup import epoch_seconds
    es = epoch_seconds(F.col("ts"), dtype)
    day = es - F.pmod(es, F.lit(86400))
    days = sorted(r[0] for r in raw.select(day.alias("d")).distinct().collect())
    cut_day = days[4]
    early = raw.where(day < cut_day)
    late = raw.where(day >= cut_day)

    pipe.store.materialize_full(early)
    pipe._advance_ewma_watermarks(pipe.store.read_tier("1h"))
    wm1 = {r["source"]: (r["last_bucket_ts"], r["psi_lags"], r["dur_lags"])
           for r in pipe.meta.watermarks(["source"]).collect()}
    assert wm1

    # continue on the late buckets from the checkpoint
    m = pipe.run_increment(raw, late, run_id="r2")
    assert m["n_batch_rows"] > 0
    assert pipe.meta.completed_days("1h")

    t1h_all = pipe.store.read_tier("1h")

    # rebuild watermarks as of the early prefix, then continue
    early_t1h = TierStore(spark, base + "2").cascade(early)["1h"]
    pipe._advance_ewma_watermarks(early_t1h)
    wm_ts = {r["source"]: r["last_bucket_ts"] for r in pipe.meta.watermarks(["source"]).collect()}
    cont = pipe.ewma_continue(t1h_all).orderBy("source", "t").collect()
    assert cont

    # numpy oracle: uninterrupted recursion over the FULL series, seeded
    # exactly as the first run was (sample mean of the early prefix) —
    # the continuation must match its tail bit-for-bit
    from rust_timeseries_spark.operators import recursion as rec
    alpha = pipe.ewma_alpha
    series = {}
    for r in pipe._ewma_series(t1h_all).orderBy("source", "t").collect():
        series.setdefault(r["source"], []).append((r["t"], r["v"]))
    early_means = {
        r["source"]: r["m"]
        for r in pipe._ewma_series(early_t1h).groupBy("source").agg(F.avg("v").alias("m")).collect()
    }
    expected = {}
    for k, pts in series.items():
        x = np.array([v for _, v in pts])
        m = early_means[k]
        psi = rec.psi_recursion_np(
            x, 0.0, np.array([alpha]), np.array([1 - alpha]),
            np.array([m]), np.array([m]), guards=(-np.inf, np.inf),
        )
        expected[k] = dict(zip([t for t, _ in pts], psi))
    for r in cont:
        assert r["t"] > wm_ts[r["source"]]
        assert expected[r["source"]][r["t"]] == r["psi"], (r["source"], r["t"])


def test_iceberg_ddl_contract_text():
    # the cluster contract is pinned: drift in any emitted statement is
    # a contract change and must be reviewed here
    from rust_timeseries_spark.plans.iceberg_ddl import IcebergTierPlan

    p = IcebergTierPlan(catalog="lake", namespace="tiers", table_prefix="tokens")
    confs = p.session_confs()
    assert confs["spark.sql.catalog.lake"] == "org.apache.iceberg.spark.SparkCatalog"
    assert confs["spark.sql.extensions"].endswith("IcebergSparkSessionExtensions")
    assert confs["spark.sql.catalog.lake.type"] == "rest"
    assert "iceberg-spark-runtime" in confs["spark.jars.packages"]

    ddl = p.create_table("1m")
    assert "CREATE TABLE IF NOT EXISTS lake.tiers.tokens_1m" in ddl
    assert "PARTITIONED BY (bucket_day)" in ddl
    assert "'format-version' = '2'" in ddl
    assert "PARTITIONED BY" not in p.create_table("1d")  # 1d is unpartitioned

    ow = p.overwrite_dirty_days("1m", [0, 86400])
    assert ow == (
        "INSERT OVERWRITE lake.tiers.tokens_1m\n"
        "SELECT * FROM tmp_view\n"
        "WHERE bucket_day IN (0, 86400)"
    )

    mg = p.merge_upsert("1m")
    assert "MERGE INTO lake.tiers.tokens_1m t" in mg
    assert "ON t.source = s.source AND t.bucket_ts = s.bucket_ts" in mg
    assert "t.tok_sum = t.tok_sum + s.tok_sum" in mg
    assert "t.tok_min = LEAST(t.tok_min, s.tok_min)" in mg
    assert "t.tok_max = GREATEST(t.tok_max, s.tok_max)" in mg

    exp = p.expire_sql("1h", 864000)
    assert exp[0] == "DELETE FROM lake.tiers.tokens_1h WHERE bucket_day < 864000"
    assert "expire_snapshots" in exp[1] and "lake.system" in exp[1]
    assert "rewrite_data_files" in p.compact_call("1h")
    assert "remove_orphan_files" in p.remove_orphans_call("1h")

    import pytest
    with pytest.raises(ValueError):
        p.expire_sql("1d", 0)
    with pytest.raises(ValueError):
        p.overwrite_dirty_days("1d", [0])

    doc = p.render()
    for frag in ("-- session configs", "-- DDL", "-- incremental maintenance",
                 "-- streaming late-row MERGE", "-- retention", "-- compaction"):
        assert frag in doc


def test_iceberg_ddl_statements_parse(spark):
    # the SQL statements must be valid Spark SQL: run them through the
    # session's parser (catalog resolution is a cluster concern, parsing
    # is not). CALL procedures are Iceberg-extension grammar and are
    # text-pinned above instead.
    from rust_timeseries_spark.plans.iceberg_ddl import IcebergTierPlan

    p = IcebergTierPlan()
    parser = spark._jsparkSession.sessionState().sqlParser()
    stmts = [
        *p.create_tables(),
        p.overwrite_dirty_days("1m", [0, 86400]),
        p.overwrite_dirty_days("1h", [0]),
        p.merge_upsert("1m"),
        p.merge_upsert("1d"),
        p.expire_sql("1m", 123)[0],
    ]
    for s in stmts:
        parser.parsePlan(s)  # raises ParseException on bad syntax


def test_write_clustered_layout(spark, tmp_path):
    """Files are per-partition-directory, row counts respect the cap,
    and within each directory the per-file ts ranges are tight and
    non-overlapping (the parquet min/max pruning contract)."""
    import glob
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from rust_timeseries_spark.plans import layout

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type", "ts", "value"
    )
    out = str(tmp_path / "clustered")
    layout.write_clustered(
        ev, out, partition_by=["event_type"], cluster_by=["ts"],
        max_records_per_file=50,
    )
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    for d in glob.glob(f"{out}/event_type=*"):
        ranges = []
        for f in sorted(glob.glob(f"{d}/*.parquet")):
            t = pq.read_table(f, columns=["ts"])
            assert t.num_rows <= 50
            col = t.column("ts").to_pylist()
            ranges.append((min(col), max(col)))
        # non-overlapping when sorted by start (each file a tight range)
        ranges.sort()
        for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
            assert a_hi <= b_lo, (a_hi, b_lo)


def _epoch_day(df, col="ts"):
    from rust_timeseries_spark.operators.rollup import epoch_seconds

    es = epoch_seconds(F.col(col), dict(df.dtypes)[col])
    return es - F.pmod(es, F.lit(86400))


def test_materialize_full_rebuilds_and_leaves_session_conf(spark, raw, tmp_path):
    # a full rebuild must drop day partitions its input no longer covers,
    # and constructing a store must not switch the caller's session to
    # dynamic partition overwrite
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        store = TierStore(spark, str(tmp_path / "tiers"))
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)
    day = _epoch_day(raw)
    days = sorted(r[0] for r in raw.select(day.alias("d")).distinct().collect())
    store.materialize_full(raw)
    recent = raw.where(day >= days[3])
    store.materialize_full(recent)
    expected = recent.agg(F.sum("n_tok")).first()[0]
    for tier in ("1m", "1h", "1d"):
        assert store.read_tier(tier).agg(F.sum("tok_sum")).first()[0] == expected, tier
        assert _tier_dict(store.read_tier(tier)) == _tier_dict(store.cascade(recent)[tier]), tier


class _Crash(Exception):
    pass


def _crash_at(monkeypatch, n):
    """Make the ``n``-th rename/rmtree call of plans.checkpoint raise
    (once), as if the process died right before it."""
    import os
    import shutil
    import types

    from rust_timeseries_spark.plans import checkpoint

    calls = []

    def step(fn):
        def run(*a, **kw):
            calls.append(a)
            if len(calls) == n:
                raise _Crash(a)
            return fn(*a, **kw)
        return run

    monkeypatch.setattr(checkpoint, "os", types.SimpleNamespace(path=os.path, rename=step(os.rename)))
    monkeypatch.setattr(checkpoint, "shutil", types.SimpleNamespace(rmtree=step(shutil.rmtree)))


# swap_dir of an existing table makes four calls: clear a stale aside
# copy, move the table aside, move the new copy in, delete the aside
# copy. Crashing at call n leaves the table as it was (n <= 3) or already
# replaced (n = 4)
_SWAP_CRASHES = [(2, "old"), (3, "old"), (4, "new")]


@pytest.mark.parametrize("crash_at, expect", _SWAP_CRASHES)
def test_watermark_swap_survives_crash(spark, tmp_path, monkeypatch, crash_at, expect):
    import os

    from rust_timeseries_spark.plans.checkpoint import MetaStore

    def wm(v):
        return spark.createDataFrame(
            [("a", "1h", 86400 * v, [float(v)], [float(v)])],
            "source string, tier string, last_bucket_ts long, psi_lags array<double>, dur_lags array<double>",
        )

    def psi(meta):
        return [r["psi_lags"][0] for r in meta.watermarks(["source"]).collect()]

    base = str(tmp_path / "p")
    meta = MetaStore(spark, base)
    meta.save_watermarks(wm(1))
    _crash_at(monkeypatch, crash_at)
    with pytest.raises(_Crash):
        meta.save_watermarks(wm(2))
    want = 1 if expect == "old" else 2
    # a store reopened after the crash reads a whole table, never an
    # empty one (that would silently reseed every recursion); the
    # extent the watermark decision uses is queried, not remembered
    for m in (MetaStore(spark, base), meta):
        assert psi(m) == [float(want)]
        assert m.watermark_extent(["source"]) == (1, 86400 * want)
    meta.save_watermarks(wm(3))
    assert psi(meta) == [3.0]
    assert meta.watermark_extent(["source"]) == (1, 86400 * 3)
    assert sorted(os.listdir(meta.base)) == ["watermark"]


@pytest.mark.parametrize("crash_at, expect", _SWAP_CRASHES)
def test_tier_1d_swap_survives_crash(spark, raw, tmp_path, monkeypatch, crash_at, expect):
    day = _epoch_day(raw)
    days = sorted(r[0] for r in raw.select(day.alias("d")).distinct().collect())
    early = raw.where(day < days[-2])
    store = TierStore(spark, str(tmp_path / "tiers"))
    store.materialize_full(early)
    _crash_at(monkeypatch, crash_at)
    with pytest.raises(_Crash):
        store.merge_increment(raw, raw.where(day >= days[-2]))
    want = early if expect == "old" else raw
    assert _tier_dict(store.read_tier("1d")) == _tier_dict(store.cascade(want)["1d"])
    # the retried increment converges
    store.merge_increment(raw, raw.where(day >= days[-2]))
    for tier in ("1m", "1h", "1d"):
        assert _tier_dict(store.read_tier(tier)) == _tier_dict(store.cascade(raw)[tier])


def _arrivals(raw):
    """Per-row batch index: rows of the last three days arrive in
    batches 0-2 on their own day; a quarter of all rows arrive one day
    late and another quarter two days late, so every batch dirties up to
    three days. Negative = already in the base materialization; rows
    due after batch 2 never arrive."""
    day = _epoch_day(raw)
    days = sorted(r[0] for r in raw.select(day.alias("d")).distinct().collect())
    assert days == list(range(days[0], days[-1] + 1, 86400)) and len(days) >= 6
    lag = F.when(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0, 1).when(
        F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 1, 2
    ).otherwise(0)
    first = days[-3]
    return raw.withColumn("arrival", ((day - F.lit(first)) / 86400).cast("int") + lag).where(
        F.col("arrival") <= 2
    )


def _check_lineage(pipe, run_id, days):
    lin = {
        r["bucket_day"]: r["n_rows"]
        for r in pipe.meta.lineage().where(F.col("run_id") == run_id).collect()
    }
    t1h = pipe.store.read_tier("1h")
    recount = {
        r["d"]: r["count"]
        for r in t1h.select(_epoch_day(t1h, "bucket_ts").alias("d")).where(F.col("d").isin(days))
        .groupBy("d").count().collect()
    }
    assert set(lin) == set(days)
    assert lin == recount


def _watermarks(pipe):
    return sorted(tuple(r) for r in pipe.meta.watermarks(["source"]).collect())


def test_lean_increment_lineage_resume_and_job_budget(spark, raw, tmp_path, jobs_in):
    # lineage rows counted on the 1h write equal a recount of the stored
    # tier over three increments with late rows on several days and one
    # replayed batch; a pipeline reopened on the same store mid-way ends
    # with the same tiers and watermarks as one that ran throughout; and
    # one warm increment stays within its job budget (16 measured; 27
    # with the lineage re-read and recount, schema-inference reads, the
    # watermark decision queries and the watermark re-read and rewrite)
    arr = _arrivals(raw).cache()
    upto = [arr.where(F.col("arrival") <= i).drop("arrival") for i in range(3)]
    batch = [arr.where(F.col("arrival") == i).drop("arrival") for i in range(3)]
    base = arr.where(F.col("arrival") < 0).drop("arrival")
    # (batch, last batch ingested, run id); the last step replays batch 1
    schedule = [(0, 0, "r0"), (1, 1, "r1"), (2, 2, "r2"), (1, 2, "r1-replay")]

    pipes = {}
    for name in ("continuous", "reopened"):
        path = str(tmp_path / name)
        pipe = RollupPipeline(spark, path)
        pipe.store.materialize_full(base)
        pipe._advance_ewma_watermarks(pipe.store.read_tier("1h"))
        for i, (b, through, run_id) in enumerate(schedule):
            if name == "reopened" and i == 2:
                pipe = RollupPipeline(spark, path)

            def increment():
                pipe.run_increment(upto[through], batch[b], run_id)

            if name == "continuous" and i == 2:
                n_jobs = jobs_in("lean-increment", increment)
                assert n_jobs <= 18, n_jobs
            else:
                increment()
            _check_lineage(pipe, run_id, pipe.store.affected_days(batch[b]))
        for tier in ("1m", "1h", "1d"):
            assert _tier_dict(pipe.store.read_tier(tier)) == _tier_dict(pipe.store.cascade(upto[2])[tier])
        pipes[name] = pipe
    # the read set plans through the recorded schemas: no job at all
    store = pipes["continuous"].store
    assert jobs_in("lean-read", lambda: [store.read_tier(t) for t in ("1h", "1d")]) == 0
    for tier in ("1m", "1h", "1d"):
        assert _tier_dict(pipes["reopened"].store.read_tier(tier)) == _tier_dict(store.read_tier(tier))
    assert _watermarks(pipes["reopened"]) == _watermarks(pipes["continuous"])
    arr.unpersist()


def test_int_key_roundtrips_through_watermarks(spark, raw, tmp_path):
    # the watermark table keeps the key type it was written with (not
    # watermark_schema()'s string keys), so an int key resumes the same
    # recursion as the string key it encodes
    codes = {r["source"]: i for i, r in enumerate(raw.select("source").distinct().orderBy("source").collect())}
    code = F.create_map(*[x for k, v in codes.items() for x in (F.lit(k), F.lit(v))])
    day = _epoch_day(raw)
    days = sorted(r[0] for r in raw.select(day.alias("d")).distinct().collect())
    got = {}
    for key, df in (("source", raw), ("src_id", raw.withColumn("src_id", code[F.col("source")]))):
        pipe = RollupPipeline(spark, str(tmp_path / key), keys=[key])
        pipe.store.materialize_full(df.where(day < days[-2]))
        pipe._advance_ewma_watermarks(pipe.store.read_tier("1h"))
        pipe.run_increment(df, df.where(day >= days[-2]), "r1")
        wm = pipe.meta.watermarks([key])
        got[key] = sorted(tuple(r) for r in wm.collect())
        if key == "src_id":
            assert dict(wm.dtypes)["src_id"] == "int"
            assert dict(RollupPipeline(spark, str(tmp_path / key), keys=[key]).meta.watermarks([key]).dtypes)["src_id"] == "int"
    assert got["src_id"] == sorted((codes[r[0]], *r[1:]) for r in got["source"])


def test_meta_appends_with_arrow_disabled(spark, tmp_path):
    from rust_timeseries_spark.plans.checkpoint import MetaStore

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        meta = MetaStore(spark, str(tmp_path / "p"))
        meta.record_lineage("r1", "1h", [(86400, 5), (172800, 7)])
        meta.record_lineage("r2", "1h", [])
        meta.record_metrics("r1", {"n_batch_rows": 12, "wall_seconds": 0.5})
        lin = sorted(tuple(r) for r in MetaStore(spark, str(tmp_path / "p")).lineage().collect())
        met = sorted(tuple(r) for r in meta.metrics().collect())
    finally:
        spark.conf.set(key, before)
    assert lin == [("r1", "1h", 86400, 5), ("r1", "1h", 172800, 7)]
    assert met == [("r1", "n_batch_rows", 12.0), ("r1", "wall_seconds", 0.5)]
    assert meta.lineage().schema == MetaStore(spark, str(tmp_path / "p")).lineage().schema


def test_meta_missing_table_is_empty_without_a_read_and_corrupt_raises(spark, tmp_path, monkeypatch):
    # a table not written yet is an empty typed frame, decided on the
    # path without a Spark read (a failed read is logged by the query
    # listeners); a table that exists but cannot be read still raises
    from rust_timeseries_spark.plans import checkpoint
    from rust_timeseries_spark.plans.checkpoint import MetaStore

    def no_read(*args, **kwargs):
        raise AssertionError("read_recorded called for a missing table")

    meta = MetaStore(spark, str(tmp_path / "p"))
    with monkeypatch.context() as m:
        m.setattr(checkpoint, "read_recorded", no_read)
        wm = meta.watermarks(["source"])
        lin = meta.lineage()
    assert wm.schema == meta.watermark_schema(["source"]) and wm.count() == 0
    assert lin.schema == checkpoint.LINEAGE_SCHEMA and lin.count() == 0

    bad = tmp_path / "p" / "_meta" / "lineage"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        MetaStore(spark, str(tmp_path / "p")).lineage().collect()


def test_timestamp_store_reads_through_recorded_schema(spark, raw, tmp_path):
    # an epoch=False store partitions by a TIMESTAMP bucket_day; the
    # recorded schema keeps that type on read, so merge (whose 1d rebuild
    # reads the 1h tier), compaction and retention all still work
    store = TierStore(spark, str(tmp_path / "ts"), epoch=False)
    day = _epoch_day(raw)
    days = sorted(r[0] for r in raw.select(day.alias("d")).distinct().collect())
    store.materialize_full(raw.where(day < days[-2]))
    assert store.merge_increment(raw, raw.where(day >= days[-2])) == days[-2:]
    assert [d for d, _ in store.day_rows] == days[-2:]
    store.compact("1h")
    assert dict(store._read("1h").dtypes)["bucket_day"].startswith("timestamp")
    for tier in ("1m", "1h", "1d"):
        assert _tier_dict(store.read_tier(tier)) == _tier_dict(store.cascade(raw)[tier])
    assert store.expire("1h", days[2]) == 2
