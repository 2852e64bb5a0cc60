"""Dedup stress on a JVM-side synthetic corpus with planted near-dups
(datagen.document_corpus — no Python in the row path). One JSON line.

Default mode, 10⁷-document MinHash+LSH (round-3 verdict item 1): runs
the engine's scale dedup path (minhash_signatures → lsh_candidate_pairs
→ exact-Jaccard verification) and reports

* wall time per stage and docs/sec;
* candidate-pair count vs the collision-rate model — planted near-dup
  pairs (= n_docs/dup_every) plus incidental band collisions. The run
  FAILS (exit 1) if candidates exceed ``model_slack ×`` the planted
  count: that would mean bucket sizes are drifting toward the all-pairs
  regime instead of staying collision-bounded.

``--exact`` mode: runs ``ngram_jaccard_threshold_pairs`` (t = 0.5) and
reports its wall time, the pair count and the heaviest task of the
DF-window stage, the prefix-index stage that counts ``_df`` over a
window partitioned by the shingle hash (rows read, max and median task
ms). ``hot_frac`` of the documents start with the same three words, so
one shingle sits in that many documents and its window partition is
the skewed one. FAILS (exit 1) if fewer pairs than planted come back.

Usage: python tools/dedup_stress.py [n_docs] [cpus]
       default 10_000_000 docs on local[32]
       python tools/dedup_stress.py --exact [n_docs] [cpus] [hot_frac]
       default 200_000 docs on local[4], hot_frac 0.0
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MODEL_SLACK = 3.0
DUP_EVERY = 20
EXACT_THRESHOLD = 0.5


def _start(n_docs: int, cpus: int):
    from rust_timeseries_spark import datagen
    from rust_timeseries_spark.session import build_spark

    spark = build_spark(
        app_name="dedup-stress", master=f"local[{cpus}]", shuffle_partitions=cpus * 4
    )
    docs = datagen.document_corpus(
        spark, n_docs, dup_every=DUP_EVERY, num_partitions=cpus * 4
    )
    return spark, docs


def lsh_stress(n_docs: int, cpus: int) -> int:
    from rust_timeseries_spark.operators import dedup

    spark, docs = _start(n_docs, cpus)
    t0 = time.perf_counter()
    sigs = dedup.minhash_signatures(docs, num_perm=32)
    cands = dedup.lsh_candidate_pairs(sigs, bands=8, rows_per_band=4)
    n_cands = cands.count()
    t_cand = time.perf_counter() - t0

    t0 = time.perf_counter()
    verified = dedup.lsh_verified_pairs(
        docs, num_perm=32, bands=8, rows_per_band=4, threshold=0.5
    )
    n_verified = verified.count()
    t_verify = time.perf_counter() - t0
    spark.stop()

    planted = n_docs // DUP_EVERY
    ok = n_cands <= MODEL_SLACK * planted
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "planted_near_dup_pairs": planted,
                "candidate_pairs": n_cands,
                "candidates_over_planted": round(n_cands / max(1, planted), 3),
                "verified_pairs": n_verified,
                "candidate_stage_sec": round(t_cand, 1),
                "full_verified_pipeline_sec": round(t_verify, 1),
                "docs_per_sec_candidate_stage": round(n_docs / t_cand, 1),
                "collision_model_ok": ok,
                "cpus": cpus,
            }
        )
    )
    return 0 if ok else 1


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _df_window_stage(spark, group: str) -> dict | None:
    """Task stats of the group's DF-window stage: the completed stage
    whose operator graph holds a Window and that both reads and writes
    a shuffle (the row-number window after it writes none)."""
    sc = spark.sparkContext
    ss = sc._jsc.sc().statusStore()
    stage_ids = set()
    for j in _seq(ss.jobsList(None)):
        g = j.jobGroup()
        if g.isDefined() and str(g.get()) == group:
            stage_ids.update(int(s) for s in _seq(j.stageIds()))

    def names(cluster) -> list[str]:
        out = [str(cluster.name())]
        for child in _seq(cluster.childClusters()):
            out += names(child)
        return out

    stages = _seq(ss.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None))
    for s in sorted(stages, key=lambda s: int(s.stageId())):
        if (int(s.stageId()) in stage_ids and str(s.status().toString()) == "COMPLETE"
                and int(s.shuffleReadRecords()) > 0 and int(s.shuffleWriteRecords()) > 0
                and "Window" in names(ss.operationGraphForStage(s.stageId()).rootCluster())):
            metrics = [t.taskMetrics().get()
                       for t in _seq(ss.taskList(s.stageId(), s.attemptId(), 100000))
                       if t.taskMetrics().isDefined()]
            rows = [int(m.shuffleReadMetrics().recordsRead()) for m in metrics]
            run_ms = [float(m.executorRunTime()) for m in metrics]
            return {
                "tasks": len(metrics),
                "rows": sum(rows),
                "heaviest_task_rows": max(rows),
                "max_task_ms": max(run_ms),
                "median_task_ms": statistics.median(run_ms),
                "spill_mb": round((float(s.memoryBytesSpilled()) + float(s.diskBytesSpilled())) / 2**20, 1),
            }
    return None


def exact_stress(n_docs: int, cpus: int, hot_frac: float) -> int:
    from pyspark.sql import functions as F

    from rust_timeseries_spark.operators import dedup

    spark, docs = _start(n_docs, cpus)
    hot = F.pmod(F.xxhash64("doc_id"), F.lit(10_000)) < F.lit(int(hot_frac * 10_000))
    docs = docs.withColumn(
        "text", F.when(hot, F.concat(F.lit("hot shingle here "), "text")).otherwise(F.col("text"))
    )
    group = "dedup-stress-exact"
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    n_pairs = dedup.ngram_jaccard_threshold_pairs(docs, EXACT_THRESHOLD).count()
    wall = time.perf_counter() - t0
    stage = _df_window_stage(spark, group)
    spark.stop()

    planted = n_docs // DUP_EVERY
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "cpus": cpus,
                "hot_frac": hot_frac,
                "threshold": EXACT_THRESHOLD,
                "planted_near_dup_pairs": planted,
                "pairs": n_pairs,
                "wall_sec": round(wall, 1),
                "df_window_stage": stage,
            }
        )
    )
    return 0 if n_pairs >= planted else 1


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "--exact":
        n_docs = int(args[1]) if len(args) > 1 else 200_000
        cpus = int(args[2]) if len(args) > 2 else 4
        hot_frac = float(args[3]) if len(args) > 3 else 0.0
        return exact_stress(n_docs, cpus, hot_frac)
    n_docs = int(args[0]) if args else 10_000_000
    cpus = int(args[1]) if len(args) > 1 else 32
    return lsh_stress(n_docs, cpus)


if __name__ == "__main__":
    raise SystemExit(main())
