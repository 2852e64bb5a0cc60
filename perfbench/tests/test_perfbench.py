"""The benchmark's own tests, at toy scale.

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each workload runs end to end in a subprocess and must print every
end-to-end metric of BENCHMARK.json with its unit; one traced run must
print every per-layer metric. The negative tests corrupt one engine
output in-process and expect the correctness checks to count it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(out: dict, spec_metrics: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec_metrics}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    _assert_metrics(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    out = _run("tiers", 1)
    _assert_metrics(out, SPEC["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    for name in ("rollup.cascade_ms", "compress.encode_ms", "acd.fit_ms", "tiers.merge_ms",
                 "stream_gates_s", "streaming.batches", "spark.jobs"):
        assert m[name] > 0, name
    assert m["dedup.incremental_ms"] == 0  # dedup_ingest's layer, bypassed here


def test_engine_missing_fails_without_result():
    """A directory holding only BENCHMARK.json and the benchmark."""
    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "tiers", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=60,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0 and proc.stdout.strip() == ""


def _in_process(workload: str, patch):
    sys.path[:0] = [BENCH, ROOT]
    try:
        import run

        args = run.parse_args(["--workload", workload, "--seed", "3", "--seconds", "1", "--scale", "toy"])
        result, ledger = run.execute(args, ROOT, patch)
    finally:
        del sys.path[:2]
    return result, ledger


def _drop_one_dedup_pair():
    from rust_timeseries_spark.operators import dedup

    real = dedup.incremental_jaccard_pairs

    def corrupted(corpus, delta, threshold, *a, **kw):
        from pyspark.sql import functions as F

        out = real(corpus, delta, threshold, *a, **kw)
        first = out.agg(F.min("id_b")).collect()[0][0]
        return out.where(F.col("id_b") != first)

    dedup.incremental_jaccard_pairs = corrupted
    return lambda: setattr(dedup, "incremental_jaccard_pairs", real)


def _perturb_one_tier_row():
    from rust_timeseries_spark.operators import compress

    real = compress.decompress_blocks

    def corrupted(blocks, *a, **kw):
        from pyspark.sql import functions as F

        out = real(blocks, *a, **kw)
        first = out.agg(F.min("bucket_ts")).collect()[0][0]
        return out.withColumn("tok_sum", F.when(F.col("bucket_ts") == first, F.col("tok_sum") + 1)
                              .otherwise(F.col("tok_sum")))

    compress.decompress_blocks = corrupted
    return lambda: setattr(compress, "decompress_blocks", real)


@pytest.mark.parametrize("workload,corrupt", [
    ("dedup_ingest", _drop_one_dedup_pair),
    ("tiers", _perturb_one_tier_row),
])
def test_corrupted_output_is_counted_as_failed(workload, corrupt):
    undo = []
    result, ledger = _in_process(workload, lambda: undo.append(corrupt()))
    for u in undo:
        u()
    assert result["correct"] is False
    assert result["failed"] >= 1 and result["failed"] <= result["attempted"]
    assert any("check failed" in f for f in ledger.failures)
