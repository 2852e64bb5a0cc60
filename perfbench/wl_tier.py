"""The ``tiers`` workload: the engine's main job, in two parts per round.

Bulk (``TierBuild``): one seeded token table through the in-memory
cascade, gap-fill, fold and block encode/decode, then the per-key
ACD/HAC/EL numerics of ``wl_model`` over seeded series. Nothing is
written to storage.

Incremental (``TierMaintain``): a parquet tier store kept current by
``RollupPipeline.run_increment`` over seeded batches (new-day rows plus
a fixed share of late rows), with a fixed read set after every
increment; retention and compaction at the end. Traced runs then run
the six streaming/tier gates of ``queries()`` on a seeded ``events`` table, each
compared with its DuckDB oracle.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import median, noop, per_round
from wl_model import ModelFit

AGG = ["tok_sum", "tok_count", "tok_min", "tok_max"]


def _sorted_frame(df, cols) -> pd.DataFrame:
    pdf = df.select(*cols).toPandas()
    return pdf.sort_values(cols[:2], ignore_index=True)


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if len(a) != len(b):
        return False, f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if not (x == y).all():
            bad = np.flatnonzero(x != y)[:3]
            return False, f"column {c} differs at rows {bad.tolist()}: {x[bad].tolist()} vs {y[bad].tolist()}"
    return True, ""


# ---------------------------------------------------------------------------
# bulk part
# ---------------------------------------------------------------------------


class TierBuild:

    SIZES = {"full": {"seqs": 200_000}, "toy": {"seqs": 20_000}}

    def __init__(self, spark, seed: int, run_dir: str, scale: str) -> None:
        self.spark, self.seed = spark, seed
        self.n = self.SIZES[scale]["seqs"]
        self.path = os.path.join(run_dir, "tokens")
        self.parts: list[dict] = []
        self.model = ModelFit(spark, seed, run_dir, scale)

    def _stage(self, n: int, path: str) -> None:
        from rust_timeseries_spark import datagen

        # the cascade never reads ``tokens``: staging full-length arrays
        # would only add set-up time (4M rows at max_len=2048 took 309 s
        # to write at local[4]), so the table is staged without them
        datagen.token_table(self.spark, n, seed=self.seed, max_len=2048, num_partitions=8) \
            .drop("tokens").write.mode("overwrite").parquet(path)

    def _raw(self, path: str):
        from rust_timeseries_spark import datagen

        return datagen.with_event_time(self.spark.read.parquet(path), seed=self.seed) \
            .select("doc_id", "source", "ts", "n_tok")

    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        self._stage(self.n, self.path)
        self.model.setup(rep)
        if rep == 0:
            # warm-up at full size: JVM codegen and JIT, Python workers
            # and the native codec
            self._pipeline(self._raw(self.path), None, keep=False)
            from rust_timeseries_spark.operators import rollup

            raw = self._raw(self.path)
            hour = rollup.epoch_seconds(F.col("ts"), dict(raw.dtypes)["ts"])
            hour = hour - F.pmod(hour, F.lit(3600))
            r = raw.groupBy("source").agg(
                F.min(hour).alias("lo"), F.max(hour).alias("hi"), F.sum("n_tok").alias("s")
            ).collect()
            self.expect_raw_sum = sum(int(x["s"]) for x in r)
            self.expect_dense = sum((int(x["hi"]) - int(x["lo"])) // 3600 + 1 for x in r)

    def _pipeline(self, raw, tracer, keep: bool, tag="warm"):
        """cascade → dense 1h LOCF → 1d fold → encode 1m → decode."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from rust_timeseries_spark.operators import compress, gapfill, rollup

        from harness import Tracer

        tr = tracer or Tracer(self.spark, False, "tiers")
        out: dict = {}
        t: dict = {}
        t0 = time.perf_counter()
        with tr.span("rollup.cascade", round=tag):
            tiers = rollup.tier_cascade(raw, epoch=True)
            t1m = tiers["1m"].persist()
            out["n1m"] = t1m.count()
            t1h = tiers["1h"].persist()
            t1h.count()
        with tr.span("gapfill.locf", round=tag):
            obs = Observation()
            noop(gapfill.locf(gapfill.densify(t1h, "1h"), ["tok_sum"]).observe(obs, F.count(F.lit(1)).alias("n")))
            out["dense_rows"] = int(obs.get["n"])
        with tr.span("rollup.fold", round=tag):
            t1d = tiers["1d"].collect()
        t["cascade"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("compress.encode", round=tag):
            blocks = compress.compress_tier_arrow(t1m, "1d").persist()
            agg = blocks.agg(F.count(F.lit(1)), F.sum("n_points"), F.sum("enc_bytes")).collect()[0]
        t["encode"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("compress.decode", round=tag):
            dec = compress.decompress_blocks(blocks)
            noop(dec)
        t["decode"] = time.perf_counter() - t0
        out.update(blocks=int(agg[0]), points=int(agg[1]), enc_bytes=int(agg[2]), t1d=t1d, t=t)
        if keep:
            out.update(t1m=t1m, dec=dec)
            out["release"] = [t1m, t1h, blocks]
        else:
            for d in (t1m, t1h, blocks):
                d.unpersist()
        return out

    def round(self, i: int, tracer, ledger) -> dict:
        check = i == 0
        with ledger.op(f"round{i}"):
            out = self._pipeline(self._raw(self.path), tracer, keep=check, tag=i)
        s = sum(out["t"].values())
        if check:
            self._check_round(out, ledger, f"round{i}")
            for d in out["release"]:
                d.unpersist()
        self.parts.append({**out["t"], "points": out["points"], "enc_bytes": out["enc_bytes"],
                           "blocks": out["blocks"], "dense_rows": out["dense_rows"]})
        s += self.model.round(i, tracer, ledger)["s"]
        return {"s": s}

    def _check_round(self, out, ledger, op) -> None:
        cols = ["source", "bucket_ts", *AGG]
        ok, why = _frames_equal(_sorted_frame(out["dec"], cols), _sorted_frame(out["t1m"], cols))
        ledger.check(op, "decompress_blocks returns the 1m tier exactly", ok, why)
        got = sum(int(r["tok_sum"]) for r in out["t1d"])
        ledger.check(op, "1d sum(tok_sum) equals raw sum(n_tok)", got == self.expect_raw_sum,
                     f"{got} != {self.expect_raw_sum}")
        ledger.check(op, "dense 1h rows equal the per-source hour spans", out["dense_rows"] == self.expect_dense,
                     f"{out['dense_rows']} != {self.expect_dense}")
        ledger.check(op, "encoded points equal 1m rows", out["points"] == out["n1m"],
                     f"{out['points']} != {out['n1m']}")

    def layer_metrics(self, tracer, n_untraced: int) -> dict:
        m: dict[str, float] = {}
        untraced = self.parts[:n_untraced]
        p = self.parts[-1]
        m["cascade_seq_per_s"] = self.n / median([x["cascade"] for x in untraced])
        m["encode_values_per_s"] = p["points"] * 5 / median([x["encode"] for x in untraced])
        m["encoded_bytes_per_value"] = p["enc_bytes"] / (p["points"] * 5)
        m["rollup.cascade_ms"] = per_round(tracer, ["rollup.cascade"])
        m["rollup.fold_ms"] = per_round(tracer, ["rollup.fold"])
        m["rollup.cpu_ms"] = per_round(tracer, ["rollup.cascade", "rollup.fold"], "executor_cpu_ms")
        m["rollup.shuffle_write_mb"] = per_round(tracer, ["rollup.cascade", "rollup.fold"], "shuffle_write_mb")
        m["rollup.task_skew"] = per_round(tracer, ["rollup.cascade"], "task_skew", agg=max)
        m["gapfill.locf_ms"] = per_round(tracer, ["gapfill.locf"])
        m["gapfill.dense_rows"] = p["dense_rows"]
        m["compress.encode_ms"] = per_round(tracer, ["compress.encode"])
        m["compress.decode_ms"] = per_round(tracer, ["compress.decode"])
        m["compress.blocks"] = p["blocks"]
        kernel_s, n_values = self._kernel_time()
        m["codec.kernel_values_per_s"] = n_values / kernel_s
        stage_s = per_round(tracer, ["compress.encode"], "executor_run_ms") / 1000.0
        m["compress.boundary_frac"] = 1.0 - kernel_s / stage_s if stage_s > 0 else 0.0
        m.update(self.model.layer_metrics(tracer, n_untraced))
        return m

    def _kernel_time(self) -> tuple[float, int]:
        """``encode_dod_int64`` called directly on the same block values
        the encode stage packs (per source and day, time-ordered)."""
        from rust_timeseries_spark.functions import compression as C
        from rust_timeseries_spark.operators import rollup

        t1m = rollup.tier_cascade(self._raw(self.path), epoch=True)["1m"].toPandas()
        t1m["day"] = t1m["bucket_ts"] - t1m["bucket_ts"] % 86400
        t1m = t1m.sort_values(["source", "day", "bucket_ts"], ignore_index=True)
        cols = [t1m[c].to_numpy(np.int64) for c in ["bucket_ts", *AGG]]
        keys = t1m["source"].to_numpy() + ":" + t1m["day"].astype(str).to_numpy()
        cuts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        ends = np.r_[cuts[1:], len(keys)]
        t0 = time.perf_counter()
        for s, e in zip(cuts, ends):
            for col in cols:
                C.encode_dod_int64(col[s:e])
        return time.perf_counter() - t0, len(keys) * len(cols)


# ---------------------------------------------------------------------------
# incremental part
# ---------------------------------------------------------------------------

GATES = [
    "streaming_rollup_1m",
    "streaming_rollup_late",
    "streaming_ewma_1h",
    "streaming_sessions",
    "streaming_dedup",
    "tier_incremental_1h",
]

DAY = 86400
EPOCH0 = 1767225600  # 2026-01-01T00:00:00Z


class TierMaintain:

    SIZES = {
        # base_days >= 7: late rows reach back up to 7 days
        "full": {"base_days": 7, "rows_per_day": 4000, "batches": 12, "events": 1000},
        "toy": {"base_days": 7, "rows_per_day": 500, "batches": 6, "events": 300},
    }
    #: share of each batch that lands late, on earlier days
    LATE_SHARE = 0.1

    def __init__(self, spark, seed: int, run_dir: str, scale: str) -> None:
        self.spark, self.seed, self.dir = spark, seed, run_dir
        z = self.SIZES[scale]
        self.base_days, self.per_day = z["base_days"], z["rows_per_day"]
        self.n_batches, self.n_events = z["batches"], z["events"]
        self.raw_dir = os.path.join(run_dir, "raw")
        self.gate_dir = os.path.join(run_dir, "gates")
        self.parts: list[dict] = []
        self.gate_s: dict[str, float] = {}
        self.gate_out: dict = {}

    # -- inputs --------------------------------------------------------------

    def _rows(self, rng, n: int, days: np.ndarray, tag: str) -> pa.Table:
        from rust_timeseries_spark.datagen import SOURCE_NAMES

        w = 1.0 / (np.arange(len(SOURCE_NAMES)) + 1.0)
        src = rng.choice(len(SOURCE_NAMES), size=n, p=w / w.sum())
        secs = EPOCH0 + days * DAY + rng.integers(0, DAY, size=n)
        us = secs * 1_000_000 + rng.integers(0, 1_000_000, size=n)
        return pa.table({
            "doc_id": pa.array([f"{tag}-{j:07d}" for j in range(n)]),
            "source": pa.array(np.asarray(SOURCE_NAMES, dtype=object)[src]),
            "ts": pa.array(us, type=pa.timestamp("us")),
            "n_tok": pa.array(rng.integers(1, 2049, size=n).astype(np.int32)),
        })

    def _stage_inputs(self) -> None:
        rng = np.random.default_rng([self.seed, 1])
        shutil.rmtree(self.raw_dir, ignore_errors=True)
        os.makedirs(self.raw_dir)
        base_days = np.repeat(np.arange(self.base_days), self.per_day)
        pq.write_table(self._rows(rng, len(base_days), base_days, "base"),
                       os.path.join(self.raw_dir, "base.parquet"))
        n_late = int(self.per_day * self.LATE_SHARE)
        for b in range(self.n_batches):
            day = self.base_days + b
            # late rows fall on 1-3 of the last 7 days (the count cycles
            # with the batch number), so each batch dirties 2-4 of the
            # stored days; the seed picks which days and rows
            late_days = day - rng.choice(np.arange(1, 8), size=1 + b % 3, replace=False)
            days = np.r_[np.full(self.per_day - n_late, day), rng.choice(late_days, size=n_late)]
            pq.write_table(self._rows(rng, len(days), days, f"b{b:03d}"), self._batch_path(b))
        self._stage_events(np.random.default_rng([self.seed, 2]))

    def _batch_path(self, b: int) -> str:
        return os.path.join(self.raw_dir, f"batch_{b:03d}.parquet")

    def _stage_events(self, rng) -> None:
        """The ``events`` table shape of the test data (event_id, ts, user_id,
        event_type, value, props), 2-decimal values over 30 days."""
        os.makedirs(self.gate_dir, exist_ok=True)
        n = self.n_events
        us = np.sort(rng.integers(0, 30 * DAY * 1_000_000, size=n)) + 1704067200 * 1_000_000
        types = np.asarray(["click", "purchase", "error", "signup", "view"], dtype=object)
        tbl = pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 15, size=n).astype(np.int64)),
            "event_type": pa.array(types[rng.integers(0, len(types), size=n)]),
            "value": pa.array(np.round(rng.integers(1, 40000, size=n) / 100.0, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        })
        pq.write_table(tbl, os.path.join(self.gate_dir, "events.parquet"))

    def _full(self, upto: int):
        """Every row ingested through batch ``upto`` (-1: base only)."""
        paths = [os.path.join(self.raw_dir, "base.parquet")]
        paths += [self._batch_path(b) for b in range(upto + 1)]
        return self.spark.read.parquet(*paths)

    # -- phases --------------------------------------------------------------

    def setup(self, rep: int) -> None:
        from rust_timeseries_spark.plans.pipeline import RollupPipeline

        self._stage_inputs()
        self.store_dir = os.path.join(self.dir, "store")
        shutil.rmtree(self.store_dir, ignore_errors=True)
        self.pipe = RollupPipeline(self.spark, self.store_dir, keys=["source"], ts_col="ts", value_col="n_tok")
        self.pipe.store.materialize_full(self._full(-1))
        if rep == 0:
            # warm-up on this store; the next set-up starts a fresh one
            self.pipe.run_increment(self._full(0), self.spark.read.parquet(self._batch_path(0)), "warm")
            self._read_set(None, "warm")
        self.ingested = -1

    def has_round(self, i: int) -> bool:
        return i < self.n_batches

    def _read_set(self, tracer, tag) -> None:
        from rust_timeseries_spark.operators import gapfill, rolling, rollup

        from harness import Tracer

        tr = tracer or Tracer(self.spark, False, "tiers")
        store = self.pipe.store
        with tr.span("rolling.rolling_stats", round=tag):
            noop(rolling.rolling_stats(store.read_tier("1h"), "tok_sum", 24))
        with tr.span("rollup.top_k_sources", round=tag):
            rollup.top_k_sources(store.read_tier("1d"), 5).collect()
        with tr.span("gapfill.interpolate_linear", round=tag):
            noop(gapfill.interpolate_linear(gapfill.densify(store.read_tier("1h"), "1h"), ["tok_sum"]))

    def round(self, i: int, tracer, ledger) -> dict:
        full, batch = self._full(i), self.spark.read.parquet(self._batch_path(i))
        with ledger.op(f"increment{i}"):
            t0 = time.perf_counter()
            with tracer.span("pipeline.increment", round=i), \
                    tracer.wrapped(self.pipe.store, "merge_increment", "tiers.merge",
                                   on_result=lambda rec, days: rec.update(dirty_days=len(days))):
                self.pipe.run_increment(full, batch, f"b{i:03d}")
            t1 = time.perf_counter()
        with ledger.op(f"read{i}"):
            with tracer.span("tiers.read", round=i):
                self._read_set(tracer, i)
            t2 = time.perf_counter()
        self.ingested = i
        self.parts.append({"increment": t1 - t0, "read": t2 - t1})
        return {"s": t2 - t0}

    def tail(self, tracer, ledger) -> None:
        import __spark_entry__ as entry

        files = glob.glob(os.path.join(self.store_dir, "tier=*", "**", "*.parquet"), recursive=True)
        self.files = len(files)
        self.disk_mb = sum(os.path.getsize(f) for f in files) / (1024.0 * 1024.0)
        with ledger.op("expire"):
            with tracer.span("tiers.expire"):
                self.expired = self.pipe.store.expire("1m", (EPOCH0 // DAY + 2) * DAY)
        with ledger.op("compact"):
            with tracer.span("tiers.compact"):
                self.pipe.store.compact("1h")
        if not tracer.enabled:
            return
        # the gates feed only per-layer metrics, so only traced runs pay for them
        qs = entry.queries()
        for g in GATES:
            with ledger.op(g):
                t0 = time.perf_counter()
                with tracer.span(f"entry.{g}"):
                    df = qs[g](self.spark, self.gate_dir)
                    noop(df)
                self.gate_s[g] = time.perf_counter() - t0
                self.gate_out[g] = df

    def check(self, ledger) -> None:
        from rust_timeseries_spark.operators import rollup

        from oracle import compare_with_oracle

        ledger.check("expire", "retention dropped the two oldest 1m days", self.expired == 2, f"dropped {self.expired}")
        one_shot = rollup.tier_cascade(self._full(self.ingested), keys=["source"], value_col="n_tok", epoch=True)
        cols = ["source", "bucket_ts", *AGG]
        for tier in ("1h", "1d"):
            ok, why = _frames_equal(_sorted_frame(self.pipe.store.read_tier(tier), cols),
                                    _sorted_frame(one_shot[tier], cols))
            ledger.check("compact", f"stored {tier} tier equals a one-shot cascade of every ingested row", ok, why)
        for g, df in self.gate_out.items():
            ok, why = compare_with_oracle(g, df, self.gate_dir)
            ledger.check(g, "matches its DuckDB oracle", ok, why)

    def layer_metrics(self, tracer, n_untraced: int) -> dict:
        m: dict[str, float] = {}
        untraced = self.parts[:n_untraced]
        m["increment_p50_s"] = median([x["increment"] for x in untraced])
        m["tier_read_p50_s"] = median([x["read"] for x in untraced])
        m["stream_gates_s"] = sum(self.gate_s.values())
        for g in GATES:
            m[f"entry.{g}_s"] = self.gate_s.get(g, 0.0)
        m["tiers.merge_ms"] = per_round(tracer, ["tiers.merge"])
        dirty = [s.get("dirty_days", 0) for s in tracer.spans if s["name"] == "tiers.merge"]
        m["tiers.dirty_days"] = float(np.mean(dirty)) if dirty else 0.0
        m["tiers.files"] = self.files
        m["tiers.disk_mb"] = self.disk_mb
        m["tiers.expire_ms"] = per_round(tracer, ["tiers.expire"], rounds=False)
        m["tiers.compact_ms"] = per_round(tracer, ["tiers.compact"], rounds=False)
        m["pipeline.increment_ms"] = per_round(tracer, ["pipeline.increment"])
        m["pipeline.overhead_ms"] = m["pipeline.increment_ms"] - m["tiers.merge_ms"]
        return m


class Tiers:
    name = "tiers"
    #: set-ups per untraced run (``setup_s`` is their median) and
    #: measured rounds at least
    setup_reps = 3
    min_rounds = 1

    def __init__(self, spark, seed: int, run_dir: str, scale: str) -> None:
        self.build = TierBuild(spark, seed, run_dir, scale)
        self.maintain = TierMaintain(spark, seed, run_dir, scale)

    def setup(self, rep: int) -> None:
        self.build.setup(rep)
        self.maintain.setup(rep)

    def bootstrap(self, tracer, ledger) -> None:
        pass

    def has_round(self, i: int) -> bool:
        return self.maintain.has_round(i)

    def round(self, i: int, tracer, ledger) -> dict:
        # the increment first: the bulk execution, whose cold start costs
        # most, then finds the JIT further along
        incremental = self.maintain.round(i, tracer, ledger)["s"]
        bulk = self.build.round(i, tracer, ledger)["s"]
        return {"s": bulk + incremental, "bulk": bulk, "incremental": incremental}

    def e2e(self, rounds: list[dict]) -> dict[str, float]:
        return {"bulk_s": median(self.same_work(rounds)),
                "incremental_s": median([r["incremental"] for r in rounds])}

    def same_work(self, rounds: list[dict]) -> list[float]:
        """Seconds of executions that do the same work in any window:
        the bulk executions (an increment's store keeps growing)."""
        return [r["bulk"] for r in rounds]

    def tail(self, tracer, ledger) -> None:
        self.maintain.tail(tracer, ledger)

    def check(self, ledger) -> None:
        self.maintain.check(ledger)

    def layer_metrics(self, tracer, n_untraced: int) -> dict:
        return {**self.build.layer_metrics(tracer, n_untraced),
                **self.maintain.layer_metrics(tracer, n_untraced)}
