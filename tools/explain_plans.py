"""Plan-quality audit: prints `.explain(formatted)` for the engine's
headline plans and greps for the properties that matter at 100 TB —
column pruning into the scan (ReadSchema), predicate pushdown
(PushedFilters), broadcast vs shuffle joins, and whole-stage codegen
coverage.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import functions as F

    from rust_timeseries_spark import datagen
    from rust_timeseries_spark.operators import gapfill, rollup
    from rust_timeseries_spark.session import build_spark

    spark = build_spark(app_name="plan-audit", shuffle_partitions=8)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    checks: list[tuple[str, bool, str]] = []

    # 1. rollup scan must prune to (event_type, ts, value)
    plan = explain_str(rollup.rollup_raw(ev, "1h", ["event_type"], "ts", "value"))
    pruned = "props" not in plan and "event_id" not in plan
    partial = "partial_sum" in plan or "Partial" in plan or plan.count("HashAggregate") >= 2
    checks.append(("rollup: scan prunes unused columns", pruned, plan))
    checks.append(("rollup: two-phase (partial+final) hash aggregate", partial, plan))

    # 2. filter pushdown reaches the parquet scan
    plan = explain_str(
        rollup.rollup_raw(ev.where(F.col("event_type") == "click"), "1h", ["event_type"], "ts", "value")
    )
    checks.append(("filter pushed into scan (PushedFilters)", "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan or "EqualTo(event_type" in plan, plan))

    # 3. gap-fill spine join: per-key bounds agg must be broadcast (tiny)
    t1h = rollup.rollup_raw(ev, "1h", ["event_type"], "ts", "value", epoch=True)
    plan = explain_str(gapfill.densify(t1h, "1h", keys=["event_type"]))
    checks.append(("gapfill: spine join uses broadcast", "BroadcastHashJoin" in plan, plan))

    # 4. token cascade: fold-up reuses the 1m aggregate without rescanning raw
    tok = datagen.with_event_time(datagen.token_table(spark, 1000)).select("source", "ts", "n_tok")
    tiers = rollup.tier_cascade(tok)
    plan = explain_str(tiers["1d"])
    n_scans = plan.count("Scan")
    checks.append(("cascade: single lineage (1 source scan)", n_scans <= 2, plan))

    # 5. rollup is a single-shuffle plan (partial combine upstream of
    # exactly one Exchange); codegen annotations only materialize in the
    # executed AQE plan, so assert the structural property instead
    plan = explain_str(rollup.rollup_raw(ev, "1m", ["event_type"], "ts", "value"))
    import re
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    checks.append(("rollup: exactly one Exchange (single shuffle)", n_exchanges == 1, plan))

    # 6. minhash signatures: explode → partial+final hash aggregate (the
    # shingle construction must be evaluated once, not once per perm)
    from rust_timeseries_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(dedup.minhash_signatures(docs, num_perm=16))
    checks.append(("minhash: explode + hash aggregate (partial combine)",
                   "Generate" in plan and "explode(" in plan and plan.count("HashAggregate") >= 2, plan))

    # 7. capped n-gram Jaccard: hot-token removal is a broadcast anti-join
    # (materialize=False: the production path checkpoints the capped
    # token table, which would truncate the audited plan)
    plan = explain_str(dedup.ngram_jaccard_pairs(docs, shingle_k=1, max_df=50, materialize=False))
    checks.append(("jaccard: DF cap via BroadcastHashJoin LeftAnti",
                   "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan))

    # 8. ungrouped embedding near-dup: NO cartesian / nested-loop join
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = explain_str(dedup.embedding_near_dup_pairs(emb, dim=64))
    checks.append(("embedding near-dup (ungrouped): no cartesian product",
                   "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan))

    # 9. IVF probe: candidates come from a shuffled equi-join on `cell`
    # (never a cartesian); the exact re-rank happens after the join
    from rust_timeseries_spark.operators import similarity

    dim = similarity.infer_dim(emb)
    cents = similarity.train_ivf_centroids(emb, n_cells=4, dim=dim, sample_size=512)
    plan = explain_str(
        similarity.cosine_topk_ivf(emb, emb.where("vec_id < 5"), k=3,
                                   n_cells=4, nprobe=2, dim=dim, centroids=cents)
    )
    checks.append(("ivf: cell equi-join, no cartesian",
                   "CartesianProduct" not in plan
                   and "BroadcastNestedLoopJoin" not in plan
                   and ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
                        or "BroadcastHashJoin" in plan), plan))

    # 10. session windows: single shuffle on (keys, session candidates)
    plan = explain_str(rollup.session_rollup(ev, "5 minutes", ["event_type"],
                                             ts_col="ts", value_col="value"))
    checks.append(("session windows: no extra shuffle beyond the session agg",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2, plan))

    # 11b. prefix-filtered exact Jaccard: candidates come from an
    # equi-join on the prefix token — never a cartesian — and the
    # verification joins are plain equi-joins on the pair ids
    plan = explain_str(dedup.ngram_jaccard_threshold_pairs(docs, threshold=0.8))
    checks.append(("prefix jaccard: token equi-join, no cartesian",
                   "CartesianProduct" not in plan
                   and "BroadcastNestedLoopJoin" not in plan, plan))

    # 11c. exact-Jaccard set table: the Bloom summary hashes each
    # shingle once (one xxhash64 in the plan, no per-word bitmap
    # columns); the operators checkpoint this plan, so audit it lazily
    set_table = dedup._set_table(docs, "doc_id", "text", [], 3)
    plan = explain_str(set_table)
    checks.append(("exact-jaccard set table: one xxhash64 pass, no _bw columns",
                   plan.count("xxhash64(") == 1 and "_bw" not in plan, plan))

    # 11d. prefix index: rows whose hash occurs in one document are
    # filtered on _df ABOVE the window (the window must still number
    # every token)
    plan = explain_str(dedup._prefix_index(set_table, "doc_id", [], 0.8))
    df_filter = re.search(r"^\((\d+)\) Filter\n.*\nCondition : .*_df#\d+L > 1", plan, re.M)
    window = re.search(r"^\((\d+)\) Window", plan, re.M)
    checks.append(("exact-jaccard prefix index: _df > 1 filter after the window",
                   bool(df_filter and window)
                   and int(df_filter.group(1)) > int(window.group(1)), plan))

    # 11e. shingles come from one regexp_extract_all, not the interpreted
    # transform(sequence(...), i -> concat_ws(slice(...))) lambda; the one
    # lambda left is the Bloom bucket map
    plan = explain_str(set_table)
    checks.append(("exact-jaccard set table: regex shingles, no sequence/slice lambda",
                   "regexp_extract_all(" in plan and "sequence(" not in plan
                   and "slice(" not in plan and plan.count("lambdafunction(") == 1, plan))

    # 11f. prefix index: DF is a window count, not an aggregate joined
    # back; two hash Exchanges (on _th, then on the id) and the windows
    # order on the long columns only (the shingle string is not carried)
    plan = explain_str(dedup._prefix_index(set_table, "doc_id", [], 0.8))
    parts = re.findall(r"^\(\d+\) Exchange\n.*\nArguments: hashpartitioning\((\w+)#", plan, re.M)
    orders = re.findall(r"^\(\d+\) Window\n.*\nArguments: .*\], \[(.*)\]$", plan, re.M)
    order_cols = {c for o in orders for c in re.findall(r"(\w+)#\d+L? ASC", o)}
    carried = re.findall(r"^\(\d+\) (?:Exchange|Sort|Window)\nInput \[\d+\]: \[(.*)\]$", plan, re.M)
    checks.append(("exact-jaccard prefix index: no join, Exchanges on _th then id, long sort keys",
                   "Join" not in plan and parts == ["_th", "doc_id"]
                   and order_cols == {"_df", "_th"}
                   and not any("_tok" in c for c in carried), plan))

    # 11g. prune + verify: the pair-distinct runs on the id pairs first
    # (every HashAggregate numbered before any join), then one set-table
    # join per side carries _sz, _bi and _set into prune and verify
    colls = spark.range(8).selectExpr("id AS id_a", "id + 1 AS id_b")
    plan = explain_str(dedup._pruned_verified(colls, set_table, "doc_id", 0.8))
    joins = [int(i) for i in re.findall(r"^\((\d+)\) \w*Join", plan, re.M)]
    aggs = [int(i) for i in re.findall(r"^\((\d+)\) HashAggregate", plan, re.M)]
    checks.append(("exact-jaccard prune+verify: distinct below one set-table join per side",
                   len(joins) == 2 and bool(aggs) and max(aggs) < min(joins), plan))

    # 11. mapInArrow codec encode: exactly one Exchange (the block-key
    # repartition), an in-partition Sort (NOT a global sort — no range
    # exchange), then the Arrow eval; groups never shuffle twice
    from rust_timeseries_spark.operators import compress as compress_ops

    plan = explain_str(compress_ops.compress_tier_arrow(t1h, "1d", keys=["event_type"]))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    has_range = "rangepartitioning" in plan.lower()
    checks.append(("arrow encode: one hash Exchange + in-partition sort, no range shuffle",
                   "MapInArrow" in plan and not has_range and n_ex <= 2, plan))

    # 12. as-of join: union + ordered window — exactly one hash
    # Exchange on the key, never a nested-loop/cartesian join
    from rust_timeseries_spark.operators import asof as asof_ops

    pts = ev.selectExpr("event_type", "cast(0 as long) + event_id as t")
    # right side deliberately shuffle-free (a pre-aggregated tier would
    # contribute its OWN upstream Exchange) so the count isolates the
    # operator's cost: exactly one
    right = ev.selectExpr("event_type", "event_id as t", "value")
    plan = explain_str(asof_ops.asof_join(pts, right, ["event_type"], tolerance=1800))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    checks.append(("asof join: one hash Exchange, window carry, no BNL join",
                   "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan and n_ex == 1, plan))

    # 13. interval join: bucket-explode equi-join + refine — a real
    # hash/sort-merge join on (key, bucket), never BNL/cartesian (what
    # a naive `t BETWEEN s AND e` join would plan)
    ivl = t1h.selectExpr("event_type", "bucket_ts as istart", "bucket_ts + 7200 as iend")
    plan = explain_str(asof_ops.interval_join(
        pts, ivl, ["event_type"], start_col="istart", end_col="iend", bucket_width=7200))
    checks.append(("interval join: bucketed equi-join, no cartesian",
                   "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan
                   and ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
                        or "BroadcastHashJoin" in plan), plan))

    # 14. decontamination: the train-ngram probe must be a real LeftSemi
    # hash/sort-merge equi-join on the gram (never BNL), and the train
    # side's DISTINCT must partial-aggregate before its shuffle
    from rust_timeseries_spark.operators import decontam

    plan = explain_str(decontam.ngram_overlap(docs.where("doc_id % 10 = 9"),
                                              docs.where("doc_id % 10 < 8"), n=8))
    checks.append(("decontam: LeftSemi equi-join on gram, partial distinct, no BNL",
                   "LeftSemi" in plan
                   and "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan
                   and plan.count("HashAggregate") >= 2, plan))

    # 15. repetition stats: a pure projection — ZERO Exchanges (the
    # whole signal computes inside the scan's codegen stage)
    from rust_timeseries_spark.operators import textops

    plan = explain_str(textops.with_repetition_stats(docs))
    checks.append(("repetition stats: shuffle-free projection (0 Exchanges)",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan))

    # 15b. PII redaction: likewise a scan-speed projection — regexes run
    # inside codegen, zero Exchanges
    plan = explain_str(textops.redact_pii(docs))
    checks.append(("pii redact: shuffle-free projection (0 Exchanges)",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan))

    # 16. anomaly z-score over a shuffle-free input: exactly one hash
    # Exchange (the per-key window sort) — mean/std/count share one frame
    from rust_timeseries_spark.operators import rolling

    flat = ev.selectExpr("event_type", "event_id as bucket_ts", "value as tok_count")
    plan = explain_str(rolling.anomaly_zscore(flat, "tok_count", k=24,
                                              keys=["event_type"]))
    checks.append(("anomaly zscore: one Exchange, one Window (shared frame)",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
                   and plan.count("Window") <= 2, plan))

    # 17. quantile rollup: ONE shuffle; exact list + approx sketch ride
    # the same aggregate (no second pass over the input)
    plan = explain_str(rollup.quantile_rollup(ev, "1d", ["event_type"],
                                              "ts", "value", check_eps=0.02))
    checks.append(("quantile rollup: single shuffle, one combined aggregate",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan))

    # 17b. mixture sampling: the budget map joins via BROADCAST (the
    # big corpus side never shuffles for it); one hash Exchange total
    # (the per-group window sort)
    from rust_timeseries_spark.operators import sampling

    toks = docs.selectExpr("doc_id", "source", "size(split(text, ' ')) as n_tokens")
    buds = docs.selectExpr("source").distinct().selectExpr(
        "source", "cast(2000 as long) as token_budget")
    plan = explain_str(sampling.mixture_sample(toks, buds))
    checks.append(("mixture sample: broadcast budget join + one window Exchange",
                   "BroadcastHashJoin" in plan
                   and len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2, plan))

    # 17c. BM25: query/df/stat sides all broadcast onto the posting
    # lists; no cartesian or BNL anywhere (the scalar stats attach via a
    # constant-key BroadcastHashJoin)
    from rust_timeseries_spark.operators import retrieval

    qdf = docs.limit(0).selectExpr("doc_id as query_id", "text as query").union(
        spark.createDataFrame([(1, "alpha beta")], "query_id: long, query: string"))
    plan = explain_str(retrieval.bm25_topk(docs, qdf, k=5))
    checks.append(("bm25: broadcast query joins, no cartesian/BNL",
                   "CartesianProduct" not in plan
                   and "BroadcastNestedLoopJoin" not in plan
                   and plan.count("BroadcastHashJoin") >= 3, plan))

    # 17d. value histogram: bin index is a projection, counts are a
    # two-phase hash aggregate -> ONE data-proportional Exchange (the
    # frac window shuffles only keys x bins rows)
    plan = explain_str(rollup.value_histogram(ev, lo=0.0, hi=100.0, n_bins=20,
                                              keys=["event_type"]))
    checks.append(("value histogram: two-phase agg, bounded shuffles",
                   plan.count("HashAggregate") >= 2
                   and len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2, plan))

    # 18. connected-components round: each large/small-star step is
    # groupBy-min + equi-join — hash joins only, never BNL/cartesian
    from rust_timeseries_spark.operators import graph as graph_ops

    edges = ev.selectExpr("event_id as src", "event_id % 97 as dst").limit(500)
    one_round = graph_ops._small_star(graph_ops._large_star(
        graph_ops._canonical_edges(edges, "src", "dst")))
    plan = explain_str(one_round)
    checks.append(("cc round: equi-joins only, no cartesian/BNL",
                   "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan, plan))

    # 19. sketch tier fold: ONE exchange (the 1h sketch agg's), the
    # 1d fold is two-phase over the sketch column — raw is scanned
    # exactly once (the never-rescan-raw continuous-aggregate contract)
    hour_sk = rollup.sketch_distinct_rollup(
        ev, id_col="user_id", tier="1h", keys=["event_type"], ts_col="ts"
    )
    plan = explain_str(rollup.fold_sketch_tier(hour_sk, "1d", keys=["event_type"]))
    checks.append(("sketch fold: one raw scan, hash aggregates, ≤2 Exchanges",
                   len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
                   and len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2, plan))

    # 20. stratified sample: one window Exchange on the group key,
    # rank filter applied before any wide output
    from rust_timeseries_spark.operators import sampling as sampling_ops

    docs_ep = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(sampling_ops.stratified_sample_n(docs_ep, 10, keys=["source"]))
    checks.append(("stratified sample: single Exchange + Window, no joins",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
                   and "Join" not in plan, plan))

    # 21. incremental dedup: probe side filtered to delta BEFORE the
    # candidate join; equi-joins only, never BNL/cartesian
    from rust_timeseries_spark.operators import dedup as dedup_ops

    h = F.pmod(sampling_ops.stable_hash32("doc_id"), F.lit(10))
    plan = explain_str(dedup_ops.incremental_jaccard_pairs(
        docs_ep.where(h != 7), docs_ep.where(h == 7), threshold=0.5))
    checks.append(("incremental dedup: equi-joins only, no cartesian/BNL",
                   "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan, plan))

    # 22. vocab top-k: TakeOrderedAndProject (per-partition top-k merge
    # at the driver), never a global Sort of the whole vocabulary
    from rust_timeseries_spark.operators import textops as textops_ops

    plan = explain_str(textops_ops.vocab_topk(docs_ep, k=100))
    checks.append(("vocab topk: TakeOrderedAndProject, no global sort",
                   "TakeOrderedAndProject" in plan
                   and len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 0, plan))

    # 23. quality filter: the per-doc decision is a shuffle-free
    # projection — only the attrition groupBy adds Exchanges
    qf = textops_ops.quality_filter(docs_ep).select("doc_id", "drop_reason", "keep")
    plan = explain_str(qf)
    checks.append(("quality filter: decision projection has 0 Exchanges",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan))

    # 24. winsorize: the per-key bounds table joins back via BROADCAST
    # (one row per key), never a shuffle of the fact side for the join
    plan = explain_str(rollup.winsorize(ev, keys=["event_type"]))
    checks.append(("winsorize: bounds join is BroadcastHashJoin",
                   "BroadcastHashJoin" in plan
                   and "SortMergeJoin" not in plan, plan))

    # 25. url decomposition: shuffle-free codegen projection
    from rust_timeseries_spark.operators import urlops as urlops_ops

    urls = docs_ep.selectExpr("doc_id", "concat('https://www.', source, '.com/a/b') AS url")
    plan = explain_str(urlops_ops.with_url_parts(urls))
    checks.append(("url parts: 0 Exchanges (scan-speed projection)",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan))

    # 26. line dedup: winner selection is a partial-aggregating
    # min-struct groupBy (map-side combine before the chunk shuffle),
    # survivors come back via a LeftSemi equi-join — no BNL/cartesian
    plan = explain_str(dedup_ops.line_dedup(docs_ep))
    checks.append(("line dedup: partial min-struct agg + LeftSemi equi-join",
                   "LeftSemi" in plan
                   and plan.count("HashAggregate") >= 2
                   and "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan, plan))

    # 27. dup-span: duplicated grams resolve via min/max partial agg
    # (no distinct-count shuffle) and the interval union is ONE window
    plan = explain_str(dedup_ops.dup_span_stats(docs_ep))
    checks.append(("dup span: partial agg + semi join + single lag window",
                   "LeftSemi" in plan
                   and plan.count("HashAggregate") >= 2
                   and "CartesianProduct" not in plan
                   and "BroadcastNestedLoopJoin" not in plan, plan))

    # 28. k-means assignment: a scan-speed Arrow projection — zero
    # Exchanges (the update step's shuffle lives in the training loop,
    # carrying only k·dim partial sums)
    emb_km = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned_km, _ = similarity.kmeans_lloyd(emb_km, k=4, n_iters=1)
    plan = explain_str(assigned_km)
    checks.append(("kmeans assign: 0 Exchanges (broadcast centroids, Arrow eval)",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0
                   and ("ArrowEvalPython" in plan or "Eval" in plan), plan))

    # 29. weighted sample (stratified): one window Exchange, no joins
    plan = explain_str(sampling_ops.weighted_sample_n(
        docs_ep, n=5, weight_col="n_chars", keys=["source"]))
    checks.append(("weighted sample: single Exchange + Window, no joins",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
                   and "Join" not in plan, plan))

    # 30. cross-correlation (keyed scale path): bucket equi-join + tiny
    # broadcast moments join + ONE window sort computing every lag
    # column — no BNL/cartesian, no per-lag re-sort. (The keys=[]
    # single-pair variant folds its constant key and plans the 1-row
    # moments attach as a broadcast nested-loop — a scalar broadcast,
    # trivially safe — so the assertable contract lives on the keyed
    # path.)
    a_cc = t1h.select("event_type", "bucket_ts", "tok_sum")
    b_cc = t1h.select("event_type", "bucket_ts", F.col("tok_count").alias("tok_sum"))
    plan = explain_str(rolling.cross_correlation(
        a_cc, b_cc, value_col="tok_sum", max_lag=3,
        keys=["event_type"], order_col="bucket_ts"))
    checks.append(("cross-corr (keyed): equi-join + broadcast moments + one Window",
                   "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan
                   and "BroadcastHashJoin" in plan
                   and plan.count("Window") <= 2, plan))

    # 31. CUSUM: broadcast moments join; prefix sum and position share
    # one window sort, the argmax adds the second — never a third
    plan = explain_str(rolling.cusum_changepoint(
        t1h, value_col="tok_sum", keys=["event_type"], order_col="bucket_ts"))
    checks.append(("cusum: broadcast moments + two Window sorts, no BNL",
                   "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan
                   and "BroadcastHashJoin" in plan, plan))

    # 32. seasonal profile: the phase derivation is a projection; the
    # whole operator is ONE two-phase hash aggregate over the tier
    plan = explain_str(rollup.seasonal_profile(
        t1h, period=24, bucket_width=3600, value_col="tok_sum", keys=["event_type"]))
    checks.append(("seasonal profile: single two-phase hash aggregate",
                   plan.count("HashAggregate") >= 2
                   and len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2, plan))

    # 33. pivot report: pinned values -> single two-phase aggregate, NO
    # separate distinct job / extra scan
    plan = explain_str(rollup.pivot_report(
        ev, "event_type", ["click", "view"], tier="1d", ts_col="ts", value_col="value"))
    checks.append(("pivot report: one scan, one two-phase aggregate",
                   len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
                   and plan.count("HashAggregate") >= 2
                   and len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan))

    # 34. char entropy: shuffle-free codegen projection
    plan = explain_str(textops_ops.with_char_entropy(docs_ep))
    checks.append(("char entropy: 0 Exchanges (scan-speed projection)",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan))

    # 35. funnel: every join is an equi-join on the user key (the step
    # chain co-partitions under one user shuffle) — no BNL/cartesian
    from rust_timeseries_spark.operators import journeys

    plan = explain_str(journeys.funnel_conversion(
        ev, ["click", "purchase"], within=86400))
    checks.append(("funnel: user equi-joins only, no cartesian/BNL",
                   "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan
                   and ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
                        or "BroadcastHashJoin" in plan), plan))

    # 36. cohort retention: two hash aggregates + ONE user equi-join
    plan = explain_str(journeys.cohort_retention(ev, max_offset=30))
    checks.append(("cohort: hash aggregates + user equi-join, no BNL",
                   "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan
                   and plan.count("HashAggregate") >= 2, plan))

    # 37. transitions: one window sort per user + two-phase count; no join
    plan = explain_str(journeys.event_transitions(ev))
    checks.append(("transitions: window + two-phase agg, no joins",
                   "Join" not in plan and plan.count("HashAggregate") >= 2, plan))

    # 38. OLS trend: broadcast means join + ONE two-phase aggregate —
    # no window, no sort, no extra scan of the tier
    plan = explain_str(rolling.trend_ols(
        t1h, value_col="tok_sum", keys=["event_type"], order_col="bucket_ts"))
    checks.append(("trend ols: broadcast means + one aggregate, no Sort",
                   "BroadcastHashJoin" in plan
                   and len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 0, plan))

    # 39. A/B z-test: the only non-equi join is over the CONSTANT-size
    # variant table (k rows, broadcast); the user aggregate two-phases
    uc = ev.selectExpr("user_id", "cast(event_id % 2 as int) as conv")
    plan = explain_str(journeys.ab_test_zstat(uc, n_variants=3))
    checks.append(("ab test: two-phase user agg, constant-size broadcast pair join",
                   plan.count("HashAggregate") >= 2
                   and "BroadcastExchange" in plan
                   and "CartesianProduct" not in plan, plan))

    # 40. Holt smoothing: one hash Exchange into the per-key kernel
    # (the same applyInPandas shape as acd_psi/ewma)
    from rust_timeseries_spark.operators import recursion as recursion_ops

    series = t1h.selectExpr("event_type as key", "bucket_ts as t",
                            "cast(tok_sum as double) as v")
    plan = explain_str(recursion_ops.holt_linear(series, ["key"]))
    checks.append(("holt: one Exchange into FlatMapGroupsInPandas",
                   "FlatMapGroupsInPandas" in plan
                   and len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2, plan))

    # 41. heavy hitters recount: candidate filter + two-phase count +
    # TakeOrderedAndProject (the candidate scan itself is a shuffle-free
    # mapInPandas, asserted by construction — this checks the recount)
    from rust_timeseries_spark.operators import heavyhitters as hh_ops

    words = docs_ep.selectExpr("explode(split(text, ' ')) as w")
    plan = explain_str(hh_ops.heavy_hitters_exact(words, "w", top_n=5, k_counters=64))
    checks.append(("heavy hitters: broadcast SEMI-join recount (no driver isin literal) + two-phase count + top-n",
                   plan.count("HashAggregate") >= 2
                   and "TakeOrderedAndProject" in plan
                   and "LeftSemi" in plan
                   and " IN (" not in plan
                   and "CartesianProduct" not in plan, plan))

    # 42. referential audit: every check is a LEFT ANTI equi-join;
    # counting happens after it (shuffle carries only violations)
    from rust_timeseries_spark.operators import audit as audit_ops

    ords = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    plan = explain_str(audit_ops.referential_audit(
        [("o_vs_c", ords, cust, "o_custkey", "c_custkey")]))
    checks.append(("referential audit: LeftAnti equi-join, no BNL/cartesian",
                   "LeftAnti" in plan
                   and "BroadcastNestedLoopJoin" not in plan
                   and "CartesianProduct" not in plan, plan))

    # 43. period-over-period: ONE window Exchange, no joins
    plan = explain_str(rolling.period_over_period(
        t1h, "tok_sum", ["event_type"], "bucket_ts"))
    checks.append(("period-over-period: single Exchange + Window, no joins",
                   len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2
                   and "Join" not in plan, plan))

    # 44. clustered layout write: hash Exchange on the partition key +
    # LOCAL sort — never a range shuffle / global Sort
    plan = explain_str(
        ev.select("event_type", "ts", "value")
        .repartition("event_type")
        .sortWithinPartitions("event_type", "ts")
    )
    checks.append(("clustered write shape: hash Exchange + local Sort, no range",
                   "rangepartitioning" not in plan.lower()
                   and "hashpartitioning" in plan.lower()
                   and len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 1, plan))

    # 45. Q5-shaped star join: tiny dims broadcast, no cartesian/BNL,
    # the orders date filter pushed into its scan
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location("entry_for_plans", "/root/repo/__spark_entry__.py")
    _entry = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_entry)
    plan = explain_str(_entry.queries()["regional_revenue"](spark, sf_dir))
    checks.append(("q5 star join: broadcast dims, no cartesian, pushed date filter",
                   "BroadcastHashJoin" in plan
                   and "CartesianProduct" not in plan
                   and "BroadcastNestedLoopJoin" not in plan
                   # the CONTENT of the pushed predicate, not the mere
                   # presence of a PushedFilters line (every scan prints
                   # one, even empty — review r5s4)
                   and "GreaterThanOrEqual(o_orderdate" in plan, plan))

    # 46. sliding distinct: window expansion is JVM-side Expand/
    # Generate feeding ONE two-phase distinct aggregate — no join
    plan = explain_str(rollup.sliding_distinct(
        ev, id_col="user_id", keys=["event_type"], ts_col="ts"))
    checks.append(("sliding distinct: expand + two-phase distinct agg, no joins",
                   plan.count("HashAggregate") >= 2
                   and "Join" not in plan, plan))

    failures = 0
    for name, ok, plan in checks:
        print(f"[{'ok' if ok else 'FAIL'}] {name}")
        if not ok or "-v" in sys.argv:
            print(plan[:4000])
            failures += 0 if ok else 1
    spark.stop()
    raise SystemExit(1 if failures else 0)


if __name__ == "__main__":
    main()
