"""Stage-3 transitive clustering: match edges -> canonical entity ids.

Iterative **large-star / small-star** connected components (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed as
DataFrame groupBy/join passes:

* large-star: every node attaches its *strictly larger* neighbors to the
  minimum of its closed neighborhood;
* small-star: every node attaches its smaller-or-equal neighbors (and
  itself) to that minimum.

Alternating the two converges in O(log^2 n) rounds to a star forest whose
roots are the component minima — canonical ``entity_id = min(member)``, the
convention FIXTURES.md §5 fixes. Each round ends in ``localCheckpoint()``
to cut lineage (the iterative-algorithm analogue of the reference's
skip-list resume discipline, ``training/data/generate.py:148-160``), and
convergence is detected by an order-insensitive checksum aggregate instead
of a full sort/compare.

ADAPTIVE STRATEGY: iterative rounds are pure driver-serial overhead when
the edge list is small — ~6 tiny jobs whose cost doesn't shrink with more
executors (measured: the dominant serial fraction of the 3-stage ER job's
scaling). So, exactly like Spark's own broadcast-join threshold, the
materialized edge count picks the physical plan: below
``small_graph_threshold`` the whole graph runs as ONE single-task job —
vectorized NumPy min-label propagation with pointer jumping inside
``mapInPandas`` — and the iterative path is reserved for graphs that
genuinely exceed one executor's memory. Big graphs first get ONE
executor-parallel contraction pass (:func:`_contract_once`: hash-
partition by node, solve each partition's subgraph with the same NumPy
kernel, emit local star edges) — on clustered data this collapses the
edge set near O(nodes), so the adaptive solve usually runs single-task
after all and the O(log^2 n) global star rounds only fire for graphs
that stay huge even contracted. All paths produce identical
(node, min-member) output (tested against each other and a union-find
oracle).

The ER job itself needs none of that machinery: its edges never cross a
``(norm_surface, pos)`` block, so ``blocking.er_scored_edges`` labels each
block's components with :func:`_min_labels` in the same pass that scores
the edges, and ``blocking.er_clusters`` projects the labels.
``connected_components`` serves graphs whose edges may cross blocks
(``cluster_mentions``, ``dedup``).

No reference analogue exists (the reference never clusters across
requests); semantics are anchored in the paper, tests in a brute-force
union-find oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.union(rev).filter(F.col("src") != F.col("dst")).distinct()


def _large_star(sym: DataFrame) -> DataFrame:
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("mn", F.col("src")).alias("m"))
    return (
        sym.join(mins, on="src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    e = _symmetrize(edges).filter(F.col("dst") < F.col("src"))
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    attached = (
        e.join(mins, on="src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(mins.select(F.col("src"), F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return attached


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        # bit_xor is overflow-free under ANSI mode (Spark 4 default) and
        # order-insensitive — exactly what a set checksum needs.
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _min_labels(n: int, a, b):
    """Component label of each of ``n`` nodes under the edges (a[k], b[k]):
    the smallest node index reachable — min-label propagation with pointer
    jumping until nothing changes."""
    import numpy as np

    lab = np.arange(n, dtype=np.int64)
    while True:
        old = lab.copy()
        np.minimum.at(lab, a, lab[b])
        np.minimum.at(lab, b, lab[a])
        np.minimum(lab, lab[lab], out=lab)  # pointer jumping
        if np.array_equal(lab, old):
            return lab


def _cc_kernel_run(batches):
    """NumPy min-label CC over whatever edge batches this task receives:
    sorted factorization + :func:`_min_labels`. Emits one
    (node, component=min reachable member) row per distinct id seen."""
    import pandas as pd

    srcs, dsts = [], []
    for pdf in batches:
        if len(pdf):
            srcs.append(pdf["src"])
            dsts.append(pdf["dst"])
    if not srcs:
        return
    s = pd.concat(srcs, ignore_index=True)
    d = pd.concat(dsts, ignore_index=True)
    codes, uniques = pd.factorize(pd.concat([s, d], ignore_index=True), sort=True)
    n = len(s)
    lab = _min_labels(len(uniques), codes[:n], codes[n:])
    yield pd.DataFrame({"node": uniques, "component": uniques[lab]})


def _local_cc(e0: DataFrame) -> DataFrame:
    """Single-task CC for small graphs: the NumPy kernel over ALL edges in
    one job — zero iterative driver rounds. ``component = min member``
    falls out of sorted factorization (label order == value order).

    ``repartition(1)``, NOT ``coalesce(1)``: coalesce folds the WHOLE
    upstream DAG into the single solve task — when the caller passes
    ``matches = scored_pairs.filter(is_match)`` over a persisted pair
    table, that one thread re-scans every cached pair row (measured
    ~20s of the full ER job's parallelism-independent tail at 960k
    pages, vs ~1.3M actual match edges). The narrow repartition keeps
    the filter/projection parallel upstream and ships only the match
    edges through one compact shuffle into the solve task."""
    node_t = e0.schema["src"].dataType.simpleString()
    return e0.repartition(1).mapInPandas(
        _cc_kernel_run, schema=f"node {node_t}, component {node_t}"
    )


def _contract_once(e: DataFrame) -> DataFrame:
    """One PARALLEL contraction pass for big graphs: symmetrize, hash-
    partition by src (co-locating every node's full edge list), run the
    same NumPy CC kernel independently inside each partition, and emit the
    per-partition (node -> local min label) star edges.

    Connectivity-preserving by construction — each task's output stars
    span exactly the components of its own edge subset, and the union of
    subsets is the input — so downstream solving on the contracted edge
    set yields the same components over the same node set. On clustered
    data (the ER/dedup case) a single pass collapses most intra-cluster
    edges to O(nodes) stars, shrinking what the adaptive solve must
    handle; worst case (every cluster splits across all partitions) it is
    bounded by one star row per edge endpoint. This is the executor-
    parallel shrink that keeps the driver-serial round count low at
    10^12-row scale: contraction scales with executors, while star rounds
    cost O(log^2 n) global shuffles no matter how many executors exist."""
    node_t = e.schema["src"].dataType.simpleString()
    sym = _symmetrize(e)
    stars = sym.repartition(F.col("src")).mapInPandas(
        _cc_kernel_run, schema=f"node {node_t}, component {node_t}"
    )
    return stars.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )


# one executor core comfortably holds this many edges (~hundreds of MB with
# string ids); above it, the iterative star rounds take over
SMALL_GRAPH_EDGES = 2_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    small_graph_threshold: int = SMALL_GRAPH_EDGES,
    edge_count: int | None = None,
    input_materialized: bool = False,
) -> DataFrame:
    """Edge list -> (node, component) with component = min member id.

    Nodes appearing only as isolated self-loops (src == dst) are their own
    component. Raises if not converged within ``max_iter`` (log^2 bound —
    25 covers any realistic graph).

    Driver-round fusion (the scaling tail is SERIAL JOB COUNT, not task
    work): ``edge_count`` passes an exact input-row count the caller
    already holds — skipping the strategy-count job — and
    ``input_materialized=True`` certifies the edge DAG is cache-backed
    (persisted/checkpointed upstream) so the defensive localCheckpoint
    job is skipped too. Callers that materialize-and-count in ONE action
    (``edges.persist(); n = edges.count()``) enter the single-task solve
    with ZERO extra driver rounds (was: checkpoint job + count job).
    Passing ``input_materialized=True`` with an expensive *unmaterialized*
    DAG is a contract violation: the big-graph path would re-evaluate it
    once per consumer.
    """
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not input_materialized:
        # materialize the input once: everything below (strategy count,
        # isolated split, round 1) would otherwise re-evaluate the caller's
        # DAG — which may contain expensive UDF scoring — several times.
        e0 = e0.localCheckpoint(eager=True)
    n_edges = edge_count if edge_count is not None else e0.count()
    if n_edges <= small_graph_threshold:
        return _local_cc(e0)
    isolated = (
        e0.filter(F.col("src") == F.col("dst")).select("src").distinct()
    )
    e = e0.filter(F.col("src") != F.col("dst"))
    if e.isEmpty():
        return isolated.select(
            F.col("src").alias("node"), F.col("src").alias("component")
        )

    # parallel shrink BEFORE any global star round: one per-partition
    # NumPy contraction pass (executor-parallel, one shuffle) typically
    # collapses clustered edge sets near O(nodes); if the contracted graph
    # now fits the single-task solve, the driver-serial iterative rounds
    # are skipped entirely — otherwise the rounds run on the smaller graph.
    contracted = _contract_once(e).localCheckpoint(eager=True)
    if contracted.count() <= small_graph_threshold:
        sol = _local_cc(contracted)
        iso = isolated.join(
            sol.select("node"), isolated["src"] == F.col("node"), "left_anti"
        ).select(F.col("src").alias("node"), F.col("src").alias("component"))
        return sol.union(iso)

    prev = None
    cur = contracted
    for _ in range(max_iter):
        # non-eager checkpoint: the checksum action below materializes it,
        # so each round costs ONE driver job (materialize + converge test
        # fused), not two — lineage is still truncated once computed.
        cur = _small_star(_large_star(_symmetrize(cur))).localCheckpoint(eager=False)
        ck = _checksum(cur)
        if prev is not None and ck == prev:
            break
        prev = ck
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")

    # cur is a star forest: (member -> root). Add the roots themselves and
    # any isolated nodes.
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = cur.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    iso = isolated.join(
        members.select(F.col("node")), isolated["src"] == members["node"], "left_anti"
    ).select(F.col("src").alias("node"), F.col("src").alias("component"))
    return members.union(roots).union(iso).distinct()


def cluster_mentions(match_edges: DataFrame) -> DataFrame:
    """Match edges (id_a, id_b, is_match) -> (mention_id, entity_id).

    The general form, for edges that may cross blocks; the ER job's edges
    never do, and ``blocking.er_scored_edges`` labels them in its own pass.

    Non-matching pair members still get singleton clusters so every mention
    that entered pairing receives a canonical id — but singletons NEVER
    enter the CC input: on a realistic corpus the overwhelming majority of
    scored pairs are non-matches (measured ~83% of the old self-loop edge
    table at 240k pages), and feeding them through CC inflated the
    materialize/count/solve path — the parallelism-independent tail of the
    3-stage job's scaling — with rows whose answer is their own id.
    Instead: CC over real match edges only, then one left join assigns
    ``coalesce(component, own_id)``.

    CACHE OWNERSHIP (r4 ADVICE): the operator persists the scored edge
    table internally (the fused materialize+count below); that block must
    not outlive the call — lingering blocks are exactly the block-manager
    pressure the r4 bench measured (149s wall vs 80s phase-sum until the
    harness gc'd between windows), and a library must not rely on harness
    hygiene. So the RESULT is materialized into its own cache (one extra
    driver round that the first consumer action would have spent computing
    the join anyway) and the edge cache is released before returning. The
    returned DataFrame is persisted and fully materialized; the caller owns
    it and may ``.unpersist()`` it when done — after that the only
    remaining blocks are connected_components' internal localCheckpoints
    on the big-graph path (lineage cuts, freed by ContextCleaner).
    """
    # ONE action materializes the (possibly UDF-heavy) edge-scoring DAG
    # into the cache AND returns the match count the CC strategy pick
    # needs — fused, where checkpoint-then-count cost two serial driver
    # rounds (r3 verdict nit: the parallelism-independent tail).
    me = match_edges.select("id_a", "id_b", "is_match").persist()
    n_match = me.filter(F.col("is_match")).count()
    matches = me.filter(F.col("is_match")).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    all_ids = (
        me.select(F.col("id_a").alias("node"))
        .union(me.select(F.col("id_b")))
        .distinct()
    )
    comp = connected_components(
        matches, edge_count=n_match, input_materialized=True
    )
    out = all_ids.join(comp, on="node", how="left").select(
        F.col("node").alias("mention_id"),
        F.coalesce(F.col("component"), F.col("node")).alias("entity_id"),
    )
    out = out.persist()
    out.count()  # materialize the result, then release the edge cache
    me.unpersist(blocking=False)
    return out
