"""Connected-components correctness vs a brute-force union-find oracle."""

from __future__ import annotations

import random

from word_sense_disambiguation_spark.operators.clustering import (
    cluster_mentions,
    connected_components,
)


def _uf_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min member
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _check(spark, edges: list[tuple[int, int]]):
    df = spark.createDataFrame(edges, schema="src long, dst long")
    got = {
        r.node: r.component for r in connected_components(df).collect()
    }
    want = _uf_oracle(edges)
    assert got == want


def test_cc_path_graph(spark):
    _check(spark, [(i, i + 1) for i in range(1, 10)])


def test_cc_star_and_disjoint(spark):
    _check(spark, [(100, i) for i in range(101, 110)] + [(1, 2), (2, 3), (50, 50)])


def test_cc_cycle(spark):
    _check(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])


def test_cc_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(1, 200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(250)]
    _check(spark, edges)


def test_cc_empty_and_selfloops(spark):
    df = spark.createDataFrame([(5, 5), (7, 7)], schema="src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {5: 5, 7: 7}


def test_cc_iterative_and_local_paths_identical(spark):
    """The adaptive strategy must be invisible: the single-task NumPy path
    (small graphs) and the iterative star rounds (forced via threshold=0)
    agree exactly, on longs and on string ids."""
    rng = random.Random(7)
    nodes = list(range(1, 300))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(400)]
    df = spark.createDataFrame(edges, schema="src long, dst long")
    local = {r.node: r.component for r in connected_components(df).collect()}
    iterative = {
        r.node: r.component
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    assert local == iterative == _uf_oracle(edges)

    sdf = spark.createDataFrame(
        [(f"m{a:03d}", f"m{b:03d}") for a, b in edges], schema="src string, dst string"
    )
    slocal = {r.node: r.component for r in connected_components(sdf).collect()}
    siter = {
        r.node: r.component
        for r in connected_components(sdf, small_graph_threshold=0).collect()
    }
    assert slocal == siter
    assert slocal == {f"m{k:03d}": f"m{v:03d}" for k, v in local.items()}


def test_cc_contraction_solve_path_identical(spark):
    """Third physical strategy: big-graph entry -> parallel contraction
    pass -> (contracted fits) single-task solve. Forced by a threshold
    between the contracted size and the raw edge count; must agree with
    the default path and the union-find oracle, self-loops included."""
    rng = random.Random(11)
    # clustered graph (contracts strongly) + an isolated self-loop
    edges = []
    for c in range(12):
        members = [c * 100 + i for i in range(15)]
        edges += [
            (rng.choice(members), rng.choice(members)) for _ in range(40)
        ]
    edges.append((9999, 9999))
    df = spark.createDataFrame(edges, schema="src long, dst long")
    default = {r.node: r.component for r in connected_components(df).collect()}
    # raw edge count > threshold > contracted star count (~#nodes)
    forced = {
        r.node: r.component
        for r in connected_components(
            df, small_graph_threshold=len(edges) - 1
        ).collect()
    }
    assert forced == default == _uf_oracle(edges)


def test_cc_known_count_and_materialized_identity(spark):
    """The r4 driver-round fusion params must not change results: passing
    edge_count (skip strategy-count job) and input_materialized (skip the
    defensive checkpoint) yields identical components on every path."""
    rng = random.Random(5)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(120)]
    df = spark.createDataFrame(edges, schema="src long, dst long").persist()
    n = df.count()
    default = {r.node: r.component for r in connected_components(df).collect()}
    fused = {
        r.node: r.component
        for r in connected_components(
            df, edge_count=n, input_materialized=True
        ).collect()
    }
    # force the big-graph path with the fused params too
    forced = {
        r.node: r.component
        for r in connected_components(
            df, edge_count=n, input_materialized=True, small_graph_threshold=0
        ).collect()
    }
    assert default == fused == forced == _uf_oracle(edges)
    df.unpersist()


def test_cc_fusion_saves_two_driver_rounds(spark):
    """Scaling regression (r4): with edge_count + input_materialized the
    CC entry must submit exactly the downstream jobs — the defensive
    checkpoint job and the strategy-count job are skipped. Measured
    DIFFERENTIALLY (absolute job counts include AQE per-stage jobs,
    which are not the serial tail this guards)."""
    from word_sense_disambiguation_spark.operators.clustering import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], schema="src string, dst string"
    ).persist()
    n = edges.count()
    sc = spark.sparkContext

    def jobs_for(group, fn):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    fused = jobs_for(
        "cc_fused",
        lambda: connected_components(
            edges, edge_count=n, input_materialized=True
        ).count(),
    )
    legacy = jobs_for("cc_legacy", lambda: connected_components(edges).count())
    assert legacy - fused >= 2, (fused, legacy)
    edges.unpersist()


def test_cluster_mentions_releases_edge_cache(spark):
    """Cache-ownership contract (r4 ADVICE): cluster_mentions must not
    leak its internal edge cache — after the call, the ONLY new persistent
    RDD is the returned (caller-owned, materialized) result, and
    unpersisting that returns storage to baseline WITHOUT any manual gc."""
    sc = spark.sparkContext

    def n_persistent():
        return sc._jsc.getPersistentRDDs().size()

    base = n_persistent()
    edges = spark.createDataFrame(
        [
            ("a", "b", True),
            ("b", "c", True),
            ("c", "d", False),
            ("x", "y", False),
        ],
        schema="id_a string, id_b string, is_match boolean",
    )
    out = cluster_mentions(edges)
    got = {r.mention_id: r.entity_id for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "x": "x", "y": "y"}
    assert n_persistent() == base + 1, "edge cache must be released"
    out.unpersist(blocking=True)
    assert n_persistent() == base

