"""``dedup_ingest``: near-duplicate detection over a seeded corpus with
planted near-dups, in one long-lived session.

The corpus is ``datagen.document_corpus`` at two lengths: 40-word docs,
and in every tenth block of 20 ids 400-word docs, whose shingle sets
fill the 1024-bit Bloom summaries well enough for the prune to act.
The generator plants exactly one near-dup pair per block of 20 ids,
``(i-1, i)`` for ``i % 20 == 19``, with shingle Jaccard 37/39 (short)
or 397/399 (long); every other pair shares no shingle. So the exact
pair set at threshold 0.5 is known without running the engine.

The ids split into a bulk corpus, whose head is the base corpus of the
ingest rounds, and equal-sized deltas after it, each a whole number of
200-id blocks, so every delta has the same mix of short docs, long docs
and planted pairs. Every ingest round runs one delta against the same
base, so every round does the same work however many rounds a run
measures. The bulk corpus is larger than the base: at the base's size a
threshold pass is nearly all fixed per-job cost, which swings with how
busy the host is; at the bulk size about half of a pass is its own work.
"""

from __future__ import annotations

import os
import time

from harness import median, noop, per_round

THRESHOLD = 0.5
DUP_EVERY = 20
LONG_EVERY = 10  # one block of DUP_EVERY ids in this many is long docs
#: threshold passes over the bulk corpus per run; ``bulk_s`` is their median
BULK_PASSES = 3
#: distinct deltas staged; rounds cycle through them
DELTAS = 4


def planted_pairs(lo: int, hi: int) -> set[tuple[int, int]]:
    """Planted pairs with both ids in [0, hi) and the later id >= lo."""
    return {(i - 1, i) for i in range(max(lo, 1), hi) if i % DUP_EVERY == DUP_EVERY - 1}


class DedupIngest:
    name = "dedup_ingest"
    #: rounds per window at most; rounds are independent of each other
    max_rounds = 40
    #: set-ups per untraced run (``setup_s`` is their median; a repeated
    #: set-up takes about a second) and measured rounds at least
    setup_reps = 5
    min_rounds = 2

    SIZES = {
        # bulk and deltas are whole 200-id blocks: the same mix in every
        # delta; the base is the first ``initial`` ids of the bulk corpus
        "full": {"bulk": 8000, "initial": 3000, "delta": 800},
        "toy": {"bulk": 600, "initial": 400, "delta": 200},
    }

    def __init__(self, spark, seed: int, run_dir: str, scale: str) -> None:
        self.spark, self.seed = spark, seed
        z = self.SIZES[scale]
        self.n_bulk, self.n0, self.d = z["bulk"], z["initial"], z["delta"]
        self.path = os.path.join(run_dir, "corpus")
        self.base_pairs: set[tuple[int, int]] = set()
        self.n_pairs = 0
        self.parts: list[dict] = []
        self.boot: dict = {}

    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F
        from rust_timeseries_spark import datagen

        n = self.n_bulk + self.d * DELTAS
        block = F.floor(F.col("doc_id") / DUP_EVERY)
        short = datagen.document_corpus(self.spark, n, 40, DUP_EVERY, seed=self.seed, num_partitions=4)
        long_ = datagen.document_corpus(self.spark, n, 400, DUP_EVERY, seed=self.seed + 1, num_partitions=4)
        docs = short.where(F.pmod(block, F.lit(LONG_EVERY)) != 0).unionByName(
            long_.where(F.pmod(block, F.lit(LONG_EVERY)) == 0)
        )
        docs.withColumn("n_chars", F.length("text").cast("long")).repartition(4, "doc_id") \
            .write.mode("overwrite").parquet(self.path)
        if rep > 0:
            return
        # warm-up at full size (JVM codegen and JIT): one ingest round,
        # which also runs the code paths of a threshold pass. The first
        # pass after it still takes about 1.3x the next ones, which the
        # median of the bootstrap passes leaves out
        from harness import Tracer

        self._ingest(0, Tracer(self.spark, False, self.name), "warm")

    def _docs(self, hi: int, lo: int = 0):
        from pyspark.sql import functions as F

        d = self.spark.read.parquet(self.path)
        return d.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    def _delta_range(self, i: int) -> tuple[int, int]:
        lo = self.n_bulk + (i % DELTAS) * self.d
        return lo, lo + self.d

    def _clusters_survivors(self, tracer, tag, pairs: set, docs) -> tuple[int, int]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from rust_timeseries_spark.operators import graph

        pairs = self.spark.createDataFrame(sorted(pairs), "id_a long, id_b long")
        with tracer.span("graph.clusters", round=tag):
            obs_c = Observation()
            noop(graph.dedup_clusters(pairs).observe(obs_c, F.count(F.lit(1)).alias("n")))
        with tracer.span("graph.survivors", round=tag):
            obs = Observation()
            noop(graph.dedup_survivors(docs, pairs)
                 .observe(obs, F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("kept")))
        return int(obs.get["kept"]), int(obs_c.get["n"])

    def _ingest(self, i: int, tracer, tag):
        """One delta against the base: incremental pairs, then clusters
        and survivors over base plus delta with the pairs of both.
        Returns (delta pairs, survivors kept, incremental s, graph s)."""
        from rust_timeseries_spark.operators import dedup

        lo, hi = self._delta_range(i)
        t0 = time.perf_counter()
        with tracer.span("dedup.incremental", round=tag):
            got = {(int(a), int(b)) for a, b in
                   dedup.incremental_jaccard_pairs(self._docs(self.n0), self._docs(hi, lo), THRESHOLD)
                   .select("id_a", "id_b").collect()}
        t1 = time.perf_counter()
        pairs = self.base_pairs | got
        self.n_pairs = len(pairs)
        kept, _ = self._clusters_survivors(tracer, tag, pairs, self._docs(self.n0).unionByName(self._docs(hi, lo)))
        return got, kept, t1 - t0, time.perf_counter() - t1

    def bootstrap(self, tracer, ledger) -> list[float]:
        """Full exact-threshold passes over the bulk corpus; traced runs
        add clusters and survivors on its pairs and one LSH pass.
        Returns the seconds of each pass."""
        from rust_timeseries_spark.operators import dedup

        docs = self._docs(self.n_bulk)
        want = planted_pairs(0, self.n_bulk)
        self.boot["bulk_s"] = []
        for k in range(BULK_PASSES):
            with ledger.op(f"threshold{k}"):
                t0 = time.perf_counter()
                with tracer.span("dedup.threshold", round=f"pass{k}"):
                    got = {(int(a), int(b)) for a, b in
                           dedup.ngram_jaccard_threshold_pairs(docs, THRESHOLD).select("id_a", "id_b").collect()}
                self.boot["bulk_s"].append(time.perf_counter() - t0)
            ledger.check(f"threshold{k}", "exact pairs equal the planted pairs", got == want, _diff(got, want))
        self.base_pairs = {p for p in got if p[1] < self.n0}
        if not tracer.enabled:
            return self.boot["bulk_s"]
        # the rest feeds only per-layer metrics, so only traced runs pay for it
        with ledger.op("threshold_graph"):
            t0 = time.perf_counter()
            kept, clustered = self._clusters_survivors(tracer, None, got, docs)
            self.boot["graph_s"] = time.perf_counter() - t0
        ledger.check("threshold_graph", "survivors keep one doc per planted pair",
                     kept == self.n_bulk - len(want), f"kept {kept} of {self.n_bulk} with {len(want)} pairs")
        ledger.check("threshold_graph", "clusters hold both docs of every pair", clustered == 2 * len(want),
                     f"{clustered} != {2 * len(want)}")
        with ledger.op("lsh"):
            t0 = time.perf_counter()
            with tracer.span("dedup.lsh"):
                lsh = {(int(a), int(b)) for a, b in
                       dedup.lsh_verified_pairs(docs, threshold=THRESHOLD).select("id_a", "id_b").collect()}
            self.boot["lsh_s"] = time.perf_counter() - t0
        ledger.check("lsh", "LSH-verified pairs are planted pairs", lsh <= want, _diff(lsh, want))
        self.boot["lsh_recall"] = len(lsh & want) / max(1, len(want))
        self.boot["lsh_pairs"] = len(lsh)
        with tracer.span("dedup.lsh_candidates"):
            self.boot["lsh_candidates"] = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs)).count()
        return self.boot["bulk_s"]

    def has_round(self, i: int) -> bool:
        return i < self.max_rounds

    def round(self, i: int, tracer, ledger) -> dict:
        lo, hi = self._delta_range(i)
        with ledger.op(f"ingest{i}"):
            got, kept, inc_s, graph_s = self._ingest(i, tracer, i)
        want = planted_pairs(lo, hi)
        ledger.check(f"ingest{i}", "delta pairs equal the planted pairs touching the delta", got == want,
                     _diff(got, want))
        n_docs, n_pairs = self.n0 + self.d, len(planted_pairs(0, self.n0)) + len(want)
        ledger.check(f"ingest{i}", "survivors keep one doc per planted pair", kept == n_docs - n_pairs,
                     f"kept {kept} of {n_docs} with {n_pairs} pairs")
        self.parts.append({"incremental": inc_s, "graph": graph_s})
        return {"s": inc_s + graph_s, "incremental": inc_s, "graph": graph_s}

    def e2e(self, rounds: list[dict]) -> dict[str, float]:
        return {"bulk_s": median(self.boot["bulk_s"]), "incremental_s": median([r["s"] for r in rounds])}

    def same_work(self, rounds: list[dict]) -> list[float]:
        """Seconds of executions that do the same work in any window."""
        return [r["s"] for r in rounds]

    def tail(self, tracer, ledger) -> None:
        pass

    def check(self, ledger) -> None:
        pass

    def layer_metrics(self, tracer, n_untraced: int) -> dict:
        m: dict[str, float] = {}
        untraced = self.parts[:n_untraced]
        m["dedup_docs_per_s"] = self.n_bulk / (median(self.boot["bulk_s"]) + self.boot["graph_s"])
        m["lsh_docs_per_s"] = self.n_bulk / self.boot["lsh_s"]
        m["ingest_docs_per_s"] = self.d / median([x["incremental"] + x["graph"] for x in untraced])
        m["dedup.threshold_ms"] = per_round(tracer, ["dedup.threshold"])
        m["dedup.lsh_ms"] = per_round(tracer, ["dedup.lsh"], rounds=False)
        m["dedup.incremental_ms"] = per_round(tracer, ["dedup.incremental"])
        m["dedup.pairs"] = float(self.n_pairs)
        m["dedup.lsh_candidates"] = float(self.boot.get("lsh_candidates", 0))
        m["dedup.lsh_precision"] = self.boot["lsh_pairs"] / max(1, self.boot.get("lsh_candidates", 0))
        m["dedup.lsh_recall"] = self.boot["lsh_recall"]
        m["dedup.shuffle_write_mb"] = per_round(tracer, ["dedup.incremental"], "shuffle_write_mb")
        res = [s["resident_mb"] for s in tracer.spans if s["name"] == "graph.survivors"]
        m["dedup.resident_mb"] = res[-1] if res else 0.0
        m["graph.clusters_ms"] = per_round(tracer, ["graph.clusters"])
        m["graph.survivors_ms"] = per_round(tracer, ["graph.survivors"])
        m["graph.jobs"] = per_round(tracer, ["graph.clusters", "graph.survivors"], "jobs")
        return m


def _diff(got: set, want: set) -> str:
    miss, extra = sorted(want - got), sorted(got - want)
    return f"missing {len(miss)} {miss[:5]} extra {len(extra)} {extra[:5]}"
