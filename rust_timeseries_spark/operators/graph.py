"""Connected components for dedup clustering.

Reference scope note: the reference engine (mickwise/rust_timeseries)
has no graph surface — this is a graft-added operator the 100 TB
training-data mission needs: every near-dup pipeline (MinHash-LSH,
SimHash, embedding near-dup — ``operators/dedup.py``) emits candidate
PAIRS, but the keep/drop decision needs CLUSTERS (a ~ b, b ~ c ⇒
{a,b,c} keep one).  Pair→cluster is transitive closure = connected
components.

Two paths, chosen by one scalar the operator observes itself: the
count of canonical edges (undirected, deduplicated, no self-loops),
taken by an ``Observation`` on the eager ``localCheckpoint`` that
materializes them.  Labels are the minimum node id of the component on
both paths, so the choice never shows in the output.

* **At most ``UNION_FIND_MAX_EDGES`` edges: one union-find task.**  The
  checkpointed edges are coalesced into ONE ``mapInArrow`` task that
  runs a sequential union-find (union by smaller id, path halving) and
  emits ``(node, component, size)``.  Near-dup pairs are a tiny
  fraction of a corpus, so this is the common case; the whole operator
  is then a constant number of Spark jobs (the checkpoint and the
  consumer's action), whatever the graph's diameter.
* **Above it: alternating large-star / small-star rounds** (Kiveris,
  Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
  MapReduce and Beyond", ACM SoCC 2014), the path for graphs too large
  for one task.  Published convergence is O(log² n) rounds (O(log n) in
  practice); each round is two shuffles (a groupBy min + a join), so a
  10¹⁰-edge graph costs ~15 × 2 shuffles instead of the O(diameter)
  rounds of naive label propagation.  All DataFrame ops: no RDDs, no
  driver-side adjacency.

Per-round star semantics (node ids are totally ordered; Γ(u) =
neighbors):

* large-star(u): m = min(Γ(u) ∪ {u}); emit (w, m) for w ∈ Γ(u), w > u.
  (Strictly-larger neighbors re-attach to the neighborhood minimum.)
* small-star(u): over edges oriented u > v; m = min(Γ⁻(u) ∪ {u});
  emit (w, m) for w ∈ Γ⁻(u) ∪ {u}, w ≠ m.

Both preserve connectivity and monotonically decrease the potential
Σ(u − root(u)); the fixed point is a star forest where every node
points at its component's minimum id.  Convergence is detected by
comparing (count, xxhash64 bit-xor) of the edge set across rounds,
observed on each round's own eager ``localCheckpoint`` — two scalars
per round and no extra job.  The checkpoints truncate lineage
(iterative self-joins otherwise stack an unbounded logical plan); on a
real cluster prefer ``spark.sparkContext.setCheckpointDir`` +
``.checkpoint()`` for executor-loss resilience (same API shape).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

#: Largest canonical edge count that runs as one union-find task.
#: ``_component_labels`` measured in one Python process (4-vCPU
#: container, numpy 2, random sparse graphs on 2 × edges distinct 40-bit
#: ids): 1M edges 1.7 s and 330 MB peak RSS, 2M edges 3.4 s and 540 MB,
#: 4M edges 7.7 s and 960 MB (inputs included).  A star round over 2M
#: edges is two shuffles of the whole edge set, and a graph needs 5–15
#: of them, so up to here the one task is the cheaper path.
UNION_FIND_MAX_EDGES = 2_000_000

def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set, oriented larger→smaller, self-loops dropped,
    deduplicated. Columns: (u, v) with u > v."""
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).where(F.col("a") != F.col("b"))
    return (
        e.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Edges in any orientation → for each u attach strictly-larger
    neighbors to min(Γ(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    out = (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def _small_star(e: DataFrame) -> DataFrame:
    """Edges oriented u > v → re-point each smaller neighborhood
    (including u itself) at its minimum."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = d.join(mins, "u").select(F.col("v").alias("w"), "m")
    selfs = mins.select(F.col("u").alias("w"), "m")
    out = (
        nbrs.union(selfs)
        .where(F.col("w") != F.col("m"))
        .select(F.col("w").alias("u"), F.col("m").alias("v"))
        .distinct()
    )
    return out


def _component_labels(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Union-find over the edge arrays ``(u[i], v[i])``: returns
    ``(node, component, size)`` arrays, one entry per distinct node, where
    ``component`` is the smallest node id of the component.

    Nodes are compacted to their rank among the sorted distinct ids, so
    index order is id order: linking the larger root under the smaller
    keeps ``parent[i] <= i`` and the final root of each node is its
    component's minimum id."""
    m = len(u)
    ids, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    parent = list(range(len(ids)))
    for x, y in zip(idx[:m].tolist(), idx[m:].tolist()):
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        while parent[y] != y:
            parent[y] = y = parent[parent[y]]
        if x < y:
            parent[y] = x
        elif y < x:
            parent[x] = y
    root = np.asarray(parent, dtype=np.int64)
    while True:  # pointer jumping: every node straight to its root
        up = root[root]
        if np.array_equal(up, root):
            break
        root = up
    size = np.bincount(root, minlength=len(ids))[root]
    return ids, ids[root], size.astype(np.int64)


def _union_find_batches(batches):
    """``mapInArrow`` body: every (u, v) batch of the one task in, one
    ``(node, component, size)`` batch out."""
    us, vs = [], []
    for b in batches:
        us.append(b.column("u").to_numpy())
        vs.append(b.column("v").to_numpy())
    if not us:
        return
    node, comp, size = _component_labels(np.concatenate(us), np.concatenate(vs))
    yield pa.RecordBatch.from_arrays(
        [pa.array(node), pa.array(comp), pa.array(size)],
        names=["node", "component", "size"],
    )


def _star_rounds(e: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Large-star/small-star rounds from the canonical edges ``e`` to
    their fixed point: returns the star forest ``(u, v = root)`` and the
    number of rounds run (the last one changed nothing)."""
    sig = None
    for rounds in range(1, max_iter + 1):
        # bit_xor (not sum) because ANSI mode makes a hash SUM overflow
        # at ~2 rows; xor is overflow-free, and the edge set is
        # distinct and oriented u > v, so nothing cancels
        obs = Observation()
        e = (
            _small_star(_large_star(e))
            .observe(obs, F.count(F.lit(1)).alias("n"),
                     F.expr("bit_xor(xxhash64(u, v))").alias("h"))
            .localCheckpoint(eager=True)
        )
        new_sig = (obs.get["n"], obs.get["h"])
        if new_sig == sig:
            return e, rounds
        sig = new_sig
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def _components(edges: DataFrame, src: str, dst: str, max_iter: int = 50) -> DataFrame:
    """``(node, component, size)`` for every node of any edge, by the
    path the observed canonical edge count selects."""
    # one eager checkpoint either way: the star path's first
    # large-star references the edge set twice (groupBy-min + join), so
    # an un-materialized input would evaluate the caller's whole
    # pair-generation pipeline twice (measured ~2× the pair cost on the
    # threshold-Jaccard gate)
    obs = Observation()
    e = (
        _canonical_edges(edges, src, dst)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if obs.get["n"] <= UNION_FIND_MAX_EDGES:
        return e.coalesce(1).mapInArrow(
            _union_find_batches, "node long, component long, size long"
        )
    e, _ = _star_rounds(e, max_iter)
    # Fixed point is a star forest u→root. Roots map to themselves.
    roots = e.select(F.col("v").alias("node")).distinct()
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    cc = members.unionByName(
        roots.select("node", F.col("node").alias("component"))
    ).distinct()
    # a window, not a rollup joined back: column pruning drops it when
    # the caller (connected_components) does not select the size
    return cc.withColumn("size", F.count(F.lit(1)).over(Window.partitionBy("component")))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of the undirected graph given by ``edges``.

    Returns a DataFrame ``(node: long, component: long)`` covering every
    node that appears in any edge; ``component`` is the minimum node id
    reachable from ``node`` (a canonical, engine-portable label).
    Isolated nodes never enter ``edges`` and are the caller's join-back
    (a doc with no near-dup pair is its own cluster by definition).
    Null ids, self-loops and repeated or reversed edges are ignored.

    Up to ``UNION_FIND_MAX_EDGES`` canonical edges this is one
    union-find task; above it, star rounds.  Raises ``RuntimeError`` if
    the star iteration has not converged after ``max_iter`` rounds
    (published bound is O(log² n); 50 rounds covers graphs far past
    10^15 nodes — non-convergence means a bug, not a big graph).
    """
    return _components(edges, src, dst, max_iter).select("node", "component")


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The END of the dedup pipeline: pairs → clusters → ONE survivor
    per cluster, chosen by quality. Every input doc gets a row:

    - docs in no pair are their own singleton cluster (kept);
    - within a cluster the survivor is the max-``quality_col`` doc,
      ties broken by smallest id (deterministic on any engine).

    Cost shape at scale: ``dedup_clusters`` over the PAIRS only
    (near-dup pairs are a tiny fraction of the corpus: one union-find
    task up to ``UNION_FIND_MAX_EDGES`` distinct pairs, O(log² n) star
    rounds above), one left join back to docs on id, then one window
    shuffle keyed by ``cluster_id``. Cluster sizes are bounded in
    practice (a pathological giant cluster means the threshold is
    wrong, not the engine), so the row_number sort never sees a skew
    key worse than the biggest dup family. Output: ``id_col``,
    ``quality_col``, ``cluster_id``, ``cluster_size``, ``keep``."""
    cl = dedup_clusters(pairs, id_a=id_a, id_b=id_b).withColumnRenamed("doc_id", id_col)
    j = (
        docs.select(id_col, quality_col)
        .join(cl, id_col, "left")
        .select(
            id_col,
            quality_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1).cast("long")).alias("cluster_size"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return j.withColumn("keep", F.row_number().over(w) == 1)


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup PAIRS → canonical CLUSTERS: ``(doc_id, cluster_id,
    cluster_size)`` for every doc in at least one pair, where
    ``cluster_id`` is the smallest doc_id in the connected component
    (the conventional "keep the first, drop the rest" dedup policy
    keeps ``doc_id == cluster_id``).  Up to ``UNION_FIND_MAX_EDGES``
    distinct pairs the union-find task emits ``cluster_size`` with the
    labels; above it the star path adds one window on the component
    key."""
    return _components(pairs, id_a, id_b).select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.col("size").alias("cluster_size"),
    )
