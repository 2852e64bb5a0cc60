"""Connected components (one union-find task under the edge budget,
large-star/small-star rounds above it) vs a pure-Python union-find
oracle, including the chain topology that defeats naive label
propagation."""

from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pytest

from rust_timeseries_spark.operators import graph as G


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id of the component
    return {n: find(n) for n in parent}


def _run(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src: long, dst: long")
    out = G.connected_components(df)
    return {r["node"]: r["component"] for r in out.collect()}


def test_two_triangles_and_bridge(spark):
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)]
    got = _run(spark, edges)
    assert got == _union_find(edges)
    assert set(got.values()) == {1, 20}


def test_chain_converges_in_log_rounds(spark):
    """A 200-node path: naive min-label propagation needs ~200 rounds;
    the star algorithm must finish inside the published O(log² n)
    bound (we pin ≤ 12 — empirically it's ~5)."""
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    # raises RuntimeError past 12 rounds
    forest, rounds = G._star_rounds(G._canonical_edges(df, "src", "dst"), max_iter=12)
    assert rounds <= 12
    assert {(r["u"], r["v"]) for r in forest.collect()} == {(i, 0) for i in range(1, 201)}
    got = _run(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 80
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(60)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        got = _run(spark, edges)
        assert got == _union_find(edges), f"trial {trial}"


def test_duplicate_and_reversed_edges_are_idempotent(spark):
    edges = [(5, 9), (9, 5), (5, 9), (9, 14)]
    got = _run(spark, edges)
    assert got == {5: 5, 9: 5, 14: 5}


def test_dedup_clusters_sizes(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a: long, id_b: long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in G.dedup_clusters(pairs).collect()
    }
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3), 7: (7, 2), 8: (7, 2)}


def test_dedup_survivors_policy_and_singletons(spark):
    # clusters {1,2,3} (transitive) and {7,8}; 4 and 5 are singletons
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 99), (5, 1), (7, 5), (8, 5)],
        "doc_id: long, n_chars: long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a: long, id_b: long")
    out = {r["doc_id"]: r for r in G.dedup_survivors(docs, pairs).collect()}
    assert len(out) == 7
    # max n_chars wins; tie (2 vs 3 both 30) broken by smaller id
    assert out[2]["keep"] and not out[1]["keep"] and not out[3]["keep"]
    # tie at 5 chars: smaller id 7 survives
    assert out[7]["keep"] and not out[8]["keep"]
    # singletons always survive with themselves as cluster
    for d in (4, 5):
        assert out[d]["keep"] and out[d]["cluster_id"] == d and out[d]["cluster_size"] == 1
    assert out[1]["cluster_id"] == 1 and out[1]["cluster_size"] == 3
    assert sum(1 for r in out.values() if r["keep"]) == 4


def _kernel(edges: list[tuple[int, int]]) -> dict[int, tuple[int, int]]:
    u = np.array([a for a, _ in edges], dtype=np.int64)
    v = np.array([b for _, b in edges], dtype=np.int64)
    node, comp, size = G._component_labels(u, v)
    return {int(n): (int(c), int(k)) for n, c, k in zip(node, comp, size)}


def _oracle(edges: list[tuple[int, int]]) -> dict[int, tuple[int, int]]:
    roots = _union_find(edges)
    sizes = Counter(roots.values())
    return {n: (r, sizes[r]) for n, r in roots.items()}


def test_union_find_kernel_matches_oracle():
    """The one-task kernel (no Spark) against the oracle: random graphs
    from sparse to dense over small and 64-bit ids, long chains in any
    order, stars centred on the smallest and largest id, and repeated,
    reversed and self-loop edges."""
    rng = random.Random(7)
    cases = [[]]
    for _ in range(300):
        n = rng.randrange(2, 200)
        span = rng.choice([n, 2**40, 2**62])
        ids = list({rng.randrange(-span, span) for _ in range(n)})
        edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(rng.randrange(1, 3 * n))]
        edges += [(b, a) for a, b in rng.sample(edges, len(edges) // 4)]
        edges += rng.sample(edges, len(edges) // 4)
        cases.append(edges)
    for n in (2, 1000, 5000):
        chain = [(i, i + 1) for i in range(n)]
        cases += [chain, chain[::-1], [(b, a) for a, b in chain], rng.sample(chain, len(chain))]
    cases += [[(0, i) for i in range(1, 500)], [(500, i) for i in range(500)]]
    for i, edges in enumerate(cases):
        assert _kernel(edges) == _oracle(edges), f"case {i}"


def _clusters(spark, monkeypatch, pairs, budget):
    """``dedup_clusters`` rows and the number of star-path runs, with
    the one-task path's edge budget set to ``budget``."""
    star_runs = []
    star_rounds = G._star_rounds

    def spy(e, max_iter):
        star_runs.append(max_iter)
        return star_rounds(e, max_iter)

    monkeypatch.setattr(G, "UNION_FIND_MAX_EDGES", budget)
    monkeypatch.setattr(G, "_star_rounds", spy)
    df = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    out = G.dedup_clusters(df)
    assert out.dtypes == [("doc_id", "bigint"), ("cluster_id", "bigint"), ("cluster_size", "bigint")]
    return sorted(tuple(r) for r in out.collect()), len(star_runs)


def test_both_paths_give_identical_clusters(spark, monkeypatch):
    """Union-find task and star rounds return the same (doc_id,
    cluster_id, cluster_size), on a graph with repeated, reversed,
    self-loop and null edges, at the gate boundary (budget = canonical
    edge count takes the one task, one less takes the star rounds), and
    on empty input."""
    rng = random.Random(3)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    pairs += [(b, a) for a, b in pairs[:5]] + pairs[:5] + [(9, 9), (4, None), (None, None)]
    canon = {(max(a, b), min(a, b)) for a, b in pairs if a is not None and b is not None and a != b}
    want = sorted(
        (n, r, k) for n, (r, k) in _oracle([(a, b) for a, b in canon]).items()
    )
    assert _clusters(spark, monkeypatch, pairs, len(canon)) == (want, 0)
    assert _clusters(spark, monkeypatch, pairs, len(canon) - 1) == (want, 1)
    assert _clusters(spark, monkeypatch, [], 0) == ([], 0)
    assert _clusters(spark, monkeypatch, [], -1) == ([], 1)


@pytest.mark.parametrize(
    "pairs",
    [[(10 * i, 10 * i + 3) for i in range(190)], [(i, i + 1) for i in range(2000)]],
    ids=["190_disjoint_pairs", "2000_edge_chain"],
)
def test_dedup_clusters_runs_constant_jobs(spark, jobs_in, pairs):
    """Under the edge budget the clustering is a fixed number of jobs
    (checkpoint + the one task), not one or two per star round: the
    star rounds ran 27 jobs on the disjoint pairs and 128 on the chain."""
    df = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    rows = []
    n_jobs = jobs_in("graph-jobs", lambda: rows.extend(G.dedup_clusters(df).collect()))
    assert n_jobs <= 6
    assert sorted(tuple(r) for r in rows) == sorted(
        (n, r, k) for n, (r, k) in _oracle(pairs).items()
    )
