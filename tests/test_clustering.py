"""Connected-components correctness vs a brute-force union-find oracle."""

from __future__ import annotations

import random

import pyspark.sql.functions as F

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


def test_cluster_cohesion_hand_example(spark):
    """Chain cluster A = {1,2,3,4} with 3 edges -> cohesion 3/6; perfect
    pair B = {5,6} -> 1.0; singleton C = {7} -> NULL; a cross-cluster
    edge and a non-match edge count for nothing; reversed/duplicate
    edges count ONCE."""
    from word_sense_disambiguation_spark.operators.clustering import (
        cluster_cohesion,
    )

    members = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "A"), (5, "B"), (6, "B"), (7, "C")],
        "mention_id long, entity_id string",
    )
    edges = spark.createDataFrame(
        [
            (1, 2, True), (2, 3, True), (3, 4, True),   # the chain
            (2, 1, True),                                # reversed dup
            (1, 4, False),                               # scored non-match
            (5, 6, True), (6, 5, True),                  # dup pair
            (4, 5, True),                                # cross-cluster
            (6, 6, True),                                # self loop
        ],
        "id_a long, id_b long, is_match boolean",
    )
    rows = {r.entity_id: r for r in cluster_cohesion(members, edges).collect()}
    a, b, c = rows["A"], rows["B"], rows["C"]
    assert (a.n_members, a.n_pairs_possible, a.n_match_edges) == (4, 6, 3)
    assert a.cohesion == 0.5
    assert (b.n_members, b.n_pairs_possible, b.n_match_edges) == (2, 1, 1)
    assert b.cohesion == 1.0
    assert (c.n_members, c.n_pairs_possible, c.n_match_edges) == (1, 0, 0)
    assert c.cohesion is None


def test_cluster_cohesion_closes_the_cc_loop(spark):
    """Feed cluster_mentions' own output back through the audit: a
    planted 5-chain clusters into one entity whose cohesion is exactly
    4/10, while a planted triangle scores 1.0 — the over-merge signal
    the operator exists for. Also partitioning-invariant."""
    from word_sense_disambiguation_spark.operators.clustering import (
        cluster_cohesion,
        cluster_mentions,
    )

    edges = spark.createDataFrame(
        [("c%d" % i, "c%d" % (i + 1), True) for i in range(4)]
        + [("t1", "t2", True), ("t2", "t3", True), ("t1", "t3", True)],
        "id_a string, id_b string, is_match boolean",
    )
    cc = cluster_mentions(edges)
    out = {
        r.entity_id: r
        for r in cluster_cohesion(cc, edges.repartition(5)).collect()
    }
    cc.unpersist(blocking=False)
    chain = out[min(k for k in out if k.startswith("c"))]
    tri = out[min(k for k in out if k.startswith("t"))]
    assert (chain.n_members, chain.n_match_edges) == (5, 4)
    assert chain.cohesion == 0.4
    assert tri.cohesion == 1.0


def test_cluster_cohesion_plan_shape(spark):
    """Aggregate/join shaped: no Window, no CartesianProduct in the
    physical plan."""
    from word_sense_disambiguation_spark.operators.clustering import (
        cluster_cohesion,
    )

    members = spark.createDataFrame([(1, "A")], "mention_id long, entity_id string")
    edges = spark.createDataFrame([(1, 1, True)], "id_a long, id_b long, is_match boolean")
    plan = (
        cluster_cohesion(members, edges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_prune_high_degree_edges_hand_example(spark):
    """Star hub h touches 5 edges (degree 5 > cap 3) -> all its edges
    drop and h lands in the hub table; the disjoint pair survives;
    self-loops never survive."""
    from word_sense_disambiguation_spark.operators.clustering import (
        prune_high_degree_edges,
    )

    edges = spark.createDataFrame(
        [("h", "a%d" % i) for i in range(5)]
        + [("x", "y"), ("z", "z")],
        "id_a string, id_b string",
    )
    kept, hubs = prune_high_degree_edges(edges, max_degree=3)
    assert sorted(map(tuple, kept.collect())) == [("x", "y")]
    hub_rows = {(r.node, r.degree) for r in hubs.collect()}
    assert hub_rows == {("h", 5)}


def test_prune_high_degree_bounds_cc_megacluster(spark):
    """The pathology the operator exists for: a hub welding two genuine
    clusters into one. With the cap, CC recovers the two real clusters
    and the hub is quarantined; without it, everything is one entity."""
    from word_sense_disambiguation_spark.operators.clustering import (
        cluster_mentions,
        prune_high_degree_edges,
    )
    import pyspark.sql.functions as F

    real = [("a1", "a2"), ("a2", "a3"), ("b1", "b2"), ("b2", "b3")]
    hub = [("HUB", n) for n in ("a1", "a2", "a3", "b1", "b2", "b3")]
    edges = spark.createDataFrame(
        real + hub, "id_a string, id_b string"
    ).withColumn("is_match", F.lit(True))
    cc_all = cluster_mentions(edges)
    n_all = cc_all.select("entity_id").distinct().count()
    cc_all.unpersist(blocking=False)
    assert n_all == 1  # the weld
    kept, hubs = prune_high_degree_edges(edges, max_degree=4)
    cc = cluster_mentions(kept.withColumn("is_match", F.lit(True)))
    n_pruned = cc.select("entity_id").distinct().count()
    cc.unpersist(blocking=False)
    assert n_pruned == 2
    assert [r.node for r in hubs.collect()] == ["HUB"]


def test_prune_high_degree_plan_no_window(spark):
    """Degree is a partial-combined aggregate over exploded endpoints,
    exclusion is two anti-joins: no Window in the plan."""
    from word_sense_disambiguation_spark.operators.clustering import (
        prune_high_degree_edges,
    )

    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    kept, _hubs = prune_high_degree_edges(edges, max_degree=2)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_cluster_size_stats_hand_example(spark):
    """Clusters {3, 2, 1, 1}: exact counts and the three ratios."""
    from word_sense_disambiguation_spark.operators.clustering import (
        cluster_size_stats,
    )

    members = spark.createDataFrame(
        [(i, c) for i, c in enumerate("AAABBCD")],
        "mention_id long, entity_id string",
    )
    r = cluster_size_stats(members).collect()[0]
    assert (r.n_records, r.n_entities, r.max_cluster_size, r.n_singletons) == (
        7, 4, 3, 2)
    assert r.singleton_share == 2.0 / 4.0
    assert r.mean_cluster_size == 7.0 / 4.0
    assert r.dedup_ratio == 1.0 - 4.0 / 7.0
    empty = spark.createDataFrame([], "mention_id long, entity_id string")
    e = cluster_size_stats(empty).collect()[0]
    assert (e.n_records, e.n_entities, e.n_singletons) == (0, 0, 0)
    assert e.singleton_share is None and e.dedup_ratio is None


def test_sparsify_topk_hand_example(spark):
    """Triangle with k=1: ab(10) survives via both ends, bc(9) via c,
    ca(8) is in neither endpoint's top-1 -> dropped."""
    from word_sense_disambiguation_spark.operators.clustering import (
        sparsify_topk_edges,
    )

    edges = spark.createDataFrame(
        [("a", "b", 10), ("b", "c", 9), ("c", "a", 8), ("d", "d", 99)],
        "id_a string, id_b string, score long",
    )
    got = sorted(map(tuple, sparsify_topk_edges(edges, k=1).collect()))
    assert got == [("a", "b", 10), ("b", "c", 9)]


def test_sparsify_topk_salt_invariance_and_hub(spark):
    """The salted two-level construction equals the unsalted per-node
    top-k at any salts value; a star hub keeps its k strongest edges
    while every leaf edge survives via the leaf endpoint (the kNN-union
    semantics that makes this the keep-evidence hub policy)."""
    from word_sense_disambiguation_spark.operators.clustering import (
        sparsify_topk_edges,
    )

    edges = spark.createDataFrame(
        [("h", "a%02d" % i, i) for i in range(10)]
        + [("a%02d" % i, "a%02d" % (i + 1), 100 + i) for i in range(9)],
        "id_a string, id_b string, score long",
    )
    r1 = sorted(map(tuple, sparsify_topk_edges(edges, k=2, salts=1).collect()))
    r64 = sorted(map(tuple, sparsify_topk_edges(edges, k=2, salts=64).collect()))
    assert r1 == r64
    # every hub edge survives: each leaf a_i ranks (h, a_i) within its
    # own top-2 (leaves have degree <= 3) or the hub keeps its best 2 —
    # what CANNOT happen is the chain edges being displaced by the hub
    chain = {("a%02d" % i, "a%02d" % (i + 1)) for i in range(9)}
    kept_pairs = {(a, b) for a, b, _ in r64}
    assert chain <= kept_pairs


def test_sparsify_topk_plan_salted_window(spark):
    """The level-1 window must partition by (node, salt) — the salt
    column appears in a window spec — and no cartesian anywhere."""
    from word_sense_disambiguation_spark.operators.clustering import (
        sparsify_topk_edges,
    )

    edges = spark.createDataFrame(
        [("a", "b", 1)], "id_a string, id_b string, score long"
    )
    plan = (
        sparsify_topk_edges(edges, k=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_salt" in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_threshold_cluster_curve_hand_example(spark):
    """Chain x-y(10)-z(5) plus p-q(3): at t=3 two entities {x,y,z}+{p,q};
    at t=5 one ({p,q} gone); at t=10 the chain splits to a pair; at
    t=99 nothing links (0-row point, NULL mean)."""
    from word_sense_disambiguation_spark.operators.clustering import (
        threshold_cluster_curve,
    )

    pairs = spark.createDataFrame(
        [("x", "y", 10), ("y", "z", 5), ("p", "q", 3)],
        "id_a string, id_b string, score long",
    )
    out = {
        r.threshold: r
        for r in threshold_cluster_curve(
            pairs, thresholds=(3, 5, 10, 99)
        ).collect()
    }
    assert (out[3].n_linked_records, out[3].n_entities, out[3].max_cluster_size) == (5, 2, 3)
    assert out[3].mean_cluster_size == 2.5
    assert (out[5].n_linked_records, out[5].n_entities, out[5].max_cluster_size) == (3, 1, 3)
    assert (out[10].n_linked_records, out[10].n_entities, out[10].max_cluster_size) == (2, 1, 2)
    assert (out[99].n_linked_records, out[99].n_entities) == (0, 0)
    assert out[99].mean_cluster_size is None
    # single-link monotonicity: stricter threshold never grows the max
    ts = sorted(out)
    for lo, hi in zip(ts, ts[1:]):
        assert out[hi].max_cluster_size <= out[lo].max_cluster_size
        assert out[hi].n_linked_records <= out[lo].n_linked_records


def test_threshold_cluster_curve_invariance(spark):
    """Partitioning invariance (the curve rides the identity-tested
    adaptive CC, so one smoke here suffices)."""
    from word_sense_disambiguation_spark.operators.clustering import (
        threshold_cluster_curve,
    )
    import pyspark.sql.functions as F

    pairs = spark.range(0, 400).select(
        (F.col("id") % 97).cast("string").alias("id_a"),
        ((F.col("id") * 13) % 97).cast("string").alias("id_b"),
        (F.col("id") % 20).alias("score"),
    ).filter(F.col("id_a") != F.col("id_b"))
    a = sorted(threshold_cluster_curve(pairs.coalesce(1), thresholds=(5, 15)).collect())
    b = sorted(threshold_cluster_curve(pairs.repartition(7), thresholds=(5, 15)).collect())
    assert a == b


# ---------------------------------------------------------------------------
# constrained_components: cannot-link repair
# ---------------------------------------------------------------------------


def test_constrained_components_semantics(spark):
    from word_sense_disambiguation_spark.operators.clustering import (
        constrained_components,
    )

    # triangle {1,2,3} with (1,2) forbidden -> still one component via 3,
    # flagged violated; chain 10-11 with (10,11) forbidden -> both become
    # clean singletons; chain 20-21 unconstrained -> clean pair.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (20, 21)], "src long, dst long"
    )
    cl = spark.createDataFrame(
        [(2, 1), (11, 10), (99, 98)], "src long, dst long"
    )
    got = {
        r.node: (r.component, r.violated)
        for r in constrained_components(edges, cl).collect()
    }
    assert got == {
        1: (1, True),
        2: (1, True),
        3: (1, True),
        10: (10, False),
        11: (11, False),
        20: (20, False),
        21: (20, False),
    }


def test_constrained_components_no_constraints_is_plain_cc(spark):
    from word_sense_disambiguation_spark.operators.clustering import (
        connected_components,
        constrained_components,
    )

    random.seed(7)
    edges = spark.createDataFrame(
        [(random.randrange(40), random.randrange(40)) for _ in range(60)],
        "src long, dst long",
    )
    empty = spark.createDataFrame([], "src long, dst long")
    base = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }
    cons = constrained_components(edges, empty).collect()
    assert {(r.node, r.component) for r in cons} == base
    assert not any(r.violated for r in cons)
