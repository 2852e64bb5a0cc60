"""Shared machinery for the benchmark: the isolated Spark session, the
set-up / measured-window / check sequence, operation accounting, and the
tracer that attributes Spark work to engine layers.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
Spark local dirs, the JVM and Python temp dirs, the engine's native
kernel cache and every staged input. The run directory is removed when
the run ends; the native cache is kept so later runs skip the compile.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager

MB = 1024.0 * 1024.0


def prepare_env(root: str, workload: str, cores: int) -> str:
    """Point every temp/cache location at the checkout before Spark or
    the engine is imported. Returns the run directory."""
    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, f"{workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    native = os.path.join(base, "native")
    os.makedirs(native, mode=0o700, exist_ok=True)
    os.chmod(native, 0o700)
    os.environ["TMPDIR"] = tmp
    os.environ["RTS_NATIVE_CACHE"] = native
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # Python UDF workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [root, os.environ.get("PYTHONPATH", "")] if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return run_dir


def start_spark(run_dir: str, cores: int):
    from rust_timeseries_spark.session import build_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = build_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> None:
    """Materialize every column of ``df`` without collecting it (a
    ``count()`` would let Catalyst prune computed columns)."""
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# operation accounting
# ---------------------------------------------------------------------------


class OpFailed(Exception):
    pass


class Ledger:
    """Operations attempted, and which of them failed — by raising or by
    failing a correctness check. Failures are kept with their output."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed_ops: set[str] = set()
        self.failures: list[str] = []

    @contextmanager
    def op(self, name: str):
        self.attempted += 1
        try:
            yield
        except Exception as e:  # noqa: BLE001 — every engine error is a counted failure
            self.failed_ops.add(name)
            self.failures.append(f"{name}: raised {type(e).__name__}: {e}\n{traceback.format_exc()}")
            raise OpFailed(name) from e

    def check(self, op_name: str, what: str, ok: bool, detail: str = "") -> bool:
        if not ok:
            self.failed_ops.add(op_name)
            self.failures.append(f"{op_name}: check failed: {what} {detail}".rstrip())
        return ok

    @property
    def failed(self) -> int:
        return len(self.failed_ops)


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into engine layers, made from outside the
    engine. Each span runs under its own Spark job group, so the status
    store attributes stages to it; block-manager residency is sampled
    when it closes. Disabled tracers cost one ``if`` per span."""

    def __init__(self, spark, enabled: bool, workload: str) -> None:
        self.spark = spark
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "workload": self.workload,
            "round": self._stack[-1].get("round") if self._stack else None,
            **attrs,
        }
        rec["group"] = f"pb:{rec['id']}:{name}"
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["resident_mb"] = resident_mb(self.spark)

    @contextmanager
    def wrapped(self, obj, attr: str, name: str, on_result=None):
        """Within the block, calls to ``obj.attr`` (a method of its class)
        run in a span of their own."""
        if not self.enabled:
            yield
            return
        fn = getattr(obj, attr)

        def traced(*a, **kw):
            with self.span(name) as rec:
                out = fn(*a, **kw)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(obj, attr, traced)
        try:
            yield
        finally:
            delattr(obj, attr)

    def harvest(self) -> None:
        """Attach stage totals from the status store to every span."""
        if not self.enabled:
            return
        stats = stage_stats_by_group(self.spark)
        for rec in self.spans:
            rec["spark"] = stats.get(rec["group"], empty_stage_stats())

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1, default=str)


def resident_mb(spark) -> float:
    """Memory + disk held by persisted or checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(r.memSize()) + int(r.diskSize()) for r in infos) / MB


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def empty_stage_stats() -> dict:
    return {
        "jobs": 0, "stages": 0, "stages_skipped": 0, "tasks": 0,
        "executor_run_ms": 0.0, "executor_cpu_ms": 0.0, "gc_ms": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "task_skew": 0.0,
    }


def stage_stats_by_group(spark) -> dict[str, dict]:
    """Job group → summed stage metrics of its jobs. ``task_skew`` is
    the max/median task run time of the group's heaviest stage."""
    sc = spark.sparkContext
    ss = sc._jsc.sc().statusStore()
    groups: dict[str, list] = {}
    for j in _seq(ss.jobsList(None)):
        g = j.jobGroup()
        if g.isDefined() and str(g.get()).startswith("pb:"):
            groups.setdefault(str(g.get()), []).append(j)
    if not groups:
        return {}
    stages = {}
    for s in _seq(ss.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)):
        stages[(int(s.stageId()), int(s.attemptId()))] = s
    by_id: dict[int, list] = {}
    for (sid, _att), s in stages.items():
        by_id.setdefault(sid, []).append(s)
    out = {}
    for g, jobs in groups.items():
        st = empty_stage_stats()
        st["jobs"] = len(jobs)
        heaviest = None
        for j in jobs:
            for sid in _seq(j.stageIds()):
                attempts = by_id.get(int(sid), [])
                ran = [s for s in attempts if str(s.status().toString()) != "SKIPPED" and int(s.numTasks()) > 0
                       and int(s.numCompleteTasks()) > 0]
                if not ran:
                    st["stages_skipped"] += 1
                    continue
                for s in ran:
                    st["stages"] += 1
                    st["tasks"] += int(s.numCompleteTasks())
                    st["executor_run_ms"] += float(s.executorRunTime())
                    st["executor_cpu_ms"] += float(s.executorCpuTime()) / 1e6
                    st["gc_ms"] += float(s.jvmGcTime())
                    st["shuffle_read_mb"] += float(s.shuffleReadBytes()) / MB
                    st["shuffle_write_mb"] += float(s.shuffleWriteBytes()) / MB
                    st["spill_mb"] += (float(s.memoryBytesSpilled()) + float(s.diskBytesSpilled())) / MB
                    if heaviest is None or float(s.executorRunTime()) > float(heaviest.executorRunTime()):
                        heaviest = s
        if heaviest is not None and int(heaviest.numCompleteTasks()) > 1:
            tl = _seq(ss.taskList(heaviest.stageId(), heaviest.attemptId(), 100000))
            runs = sorted(float(t.taskMetrics().get().executorRunTime()) for t in tl
                          if t.taskMetrics().isDefined())
            if runs and statistics.median(runs) > 0:
                st["task_skew"] = runs[-1] / statistics.median(runs)
        out[g] = st
    return out


def jvm_peak_rss_mb(spark) -> float:
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def make_stream_listener(spark):
    """Streaming listener collecting per-query start and per-batch
    progress (trigger and foreachBatch durations, state rows)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Collector(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.started: dict[str, str] = {}
            self.progress: dict[str, list[dict]] = {}

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.started[str(event.runId)] = event.timestamp

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "timestamp": p.timestamp,
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
            }
            with self.lock:
                self.progress.setdefault(str(p.runId), []).append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    c = Collector()
    spark.streams.addListener(c)
    return c


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def stream_metrics(c) -> dict[str, float]:
    with c.lock:
        progress = {k: list(v) for k, v in c.progress.items()}
        started = dict(c.started)
    batches = [b for v in progress.values() for b in v]
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    add = [b["duration_ms"].get("addBatch", 0) for b in batches if "addBatch" in b["duration_ms"]]
    starts = []
    for run_id, ts in started.items():
        if progress.get(run_id):
            starts.append(_iso_ms(progress[run_id][0]["timestamp"]) - _iso_ms(ts))
    return {
        "streaming.batches": float(sum(1 for b in batches if b["rows"] > 0)),
        "streaming.trigger_ms_p50": float(median(trig)),
        "streaming.add_batch_ms_p50": float(median(add)),
        "streaming.query_start_ms": float(median(starts)),
        "streaming.state_rows": float(sum(v[-1]["state_rows"] for v in progress.values() if v)),
    }


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def _rounded(x):
    if isinstance(x, float):
        return round(x, 2)
    if isinstance(x, list):
        return [_rounded(v) for v in x]
    return {k: _rounded(v) for k, v in x.items()}


def per_round(tracer: Tracer, names: list[str], field: str = "ms", agg=sum, rounds: bool = True) -> float:
    """A per-layer figure from spans: ``field`` ("ms" is the span's own
    duration, anything else a stage total) aggregated with ``agg`` over
    the named spans of each traced round, then the median over rounds.
    ``rounds=False`` aggregates the one-off spans outside any round."""
    by_round: dict = {}
    for rec in tracer.spans:
        if rec["name"] not in names or (rec.get("round") is None) == rounds:
            continue
        v = (rec["end"] - rec["start"]) * 1000.0 if field == "ms" else rec["spark"][field]
        by_round.setdefault(rec.get("round"), []).append(v)
    return float(median([agg(v) for v in by_round.values()]))


def measure_window(wl, tracer: Tracer, seconds: float, ledger: Ledger, first_round: int,
                   min_rounds: int = 1) -> list[dict]:
    """Run rounds until their timed seconds reach ``seconds`` and at
    least ``min_rounds`` ran. A round returns at least ``{"s": timed
    seconds}``; its untimed checks do not count against the window. A
    failed round ends the window."""
    rounds: list[dict] = []
    spent = 0.0
    i = first_round
    while (spent < seconds or len(rounds) < min_rounds) and wl.has_round(i):
        try:
            r = wl.round(i, tracer, ledger)
        except OpFailed:
            break
        rounds.append(r)
        spent += r["s"]
        i += 1
    return rounds


def run(wl, spark, seconds: float, trace: bool, end_to_end: dict[str, str], per_layer: dict[str, str]):
    """Set up (untraced runs: several times, for ``setup_s``), then
    bootstrap, an untraced measured window of at least the workload's
    ``min_rounds`` (traced: one round, then a traced window and one more
    untraced one), the tail and the checks. Returns the result object,
    the ledger and the tracer."""
    ledger = Ledger()
    off = Tracer(spark, False, wl.name)
    tracer = Tracer(spark, True, wl.name) if trace else off
    setup_s = []
    for rep in range(1 if trace else wl.setup_reps):
        t0 = time.perf_counter()
        wl.setup(rep)
        setup_s.append(time.perf_counter() - t0)
    listener = make_stream_listener(spark) if trace else None

    boot: list[float] = []
    rounds: list[dict] = []
    traced: list[dict] = []
    after: list[dict] = []
    phases = {"setup": sum(setup_s)}
    try:
        t0 = time.perf_counter()
        boot = wl.bootstrap(tracer, ledger) or []
        t1 = time.perf_counter()
        rounds = measure_window(wl, off, seconds, ledger, 0, 1 if trace else wl.min_rounds)
        if trace:
            traced = measure_window(wl, tracer, seconds, ledger, len(rounds))
            after = measure_window(wl, off, seconds, ledger, len(rounds) + len(traced))
        t2 = time.perf_counter()
        wl.tail(tracer, ledger)
        t3 = time.perf_counter()
        wl.check(ledger)
        phases.update(bootstrap=t1 - t0, window=t2 - t1, tail=t3 - t2, check=time.perf_counter() - t3)
    except OpFailed:
        pass
    print("perfbench: phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items())
          + f" setups={[round(s, 2) for s in setup_s]}"
          + f" bootstrap={[round(b, 2) for b in boot]}"
          + f" rounds={json.dumps(_rounded(rounds + traced + after))}",
          file=sys.stderr)
    if not rounds:
        raise RuntimeError("no round completed:\n" + "\n".join(ledger.failures))

    result = {"correct": ledger.failed == 0, "attempted": ledger.attempted, "failed": ledger.failed}
    if not trace:
        e2e = {"setup_s": median(setup_s), **wl.e2e(rounds)}
        if set(e2e) != set(end_to_end):
            raise RuntimeError(f"end-to-end metrics {sorted(e2e)} differ from BENCHMARK.json {sorted(end_to_end)}")
        result["metrics"] = {k: {"value": float(e2e[k]), "unit": unit} for k, unit in end_to_end.items()}
        return result, ledger, tracer

    tracer.harvest()
    layer = dict.fromkeys(per_layer, 0.0)
    layer.update(wl.layer_metrics(tracer, len(rounds)))
    if listener is not None:
        layer.update(stream_metrics(listener))
    layer.update(spark_totals(tracer))
    layer["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
    if traced and after:
        # executions of the same work, traced against the untraced ones
        # before and after, so that the engine warming up in between
        # cancels out
        untraced = (median(wl.same_work(rounds)) + median(wl.same_work(after))) / 2
        layer["trace.overhead_frac"] = median(wl.same_work(traced)) / untraced - 1.0
    layer["ops_failed_frac"] = ledger.failed / max(1, ledger.attempted)
    layer["resident_cache_mb"] = resident_mb(spark)
    layer["setup.first_s"] = setup_s[0]
    if set(layer) != set(per_layer):
        raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: {sorted(set(layer) ^ set(per_layer))}")
    result["metrics"] = {k: {"value": float(layer[k]), "unit": unit} for k, unit in per_layer.items()}
    return result, ledger, tracer


def spark_totals(tracer: Tracer) -> dict[str, float]:
    """Spark/process totals over every span. Each job belongs to exactly
    one span's job group, so nested spans are not counted twice."""
    tot = empty_stage_stats()
    del tot["task_skew"]
    for rec in tracer.spans:
        for k in tot:
            tot[k] += rec["spark"][k]
    return {f"spark.{k}": float(v) for k, v in tot.items()}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
