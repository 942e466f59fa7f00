"""Incremental ER: frozen-base attach-or-mint semantics.

Mirrors the reference's resolve-against-a-fixed-snapshot lifecycle
(/root/reference/wsd/word_sense_disambiguation.py:375-403) at set-at-a-time
granularity: base entities are immutable, batch mentions attach to the best
base entity or mint new ids via residual clustering.
"""

from __future__ import annotations

import pytest

from word_sense_disambiguation_spark.operators.incremental_er import (
    attach_mentions_to_clusters,
)

ASG_SCHEMA = (
    "mention_id string, lemma string, pos string, norm_surface string, "
    "surface string, context_words array<string>, pred_sense_id string, "
    "decision string"
)


def _asg(spark, rows):
    return spark.createDataFrame(
        [
            (mid, lemma, "n", lemma, lemma, ["ctx"], sense, dec)
            for (mid, lemma, sense, dec) in rows
        ],
        schema=ASG_SCHEMA,
    )


@pytest.fixture(scope="module")
def resolved(spark):
    base = _asg(
        spark,
        [
            ("b1", "apple", "apple-s1", "assigned"),
            ("b2", "apple", "apple-s1", "assigned"),
            ("b3", "apple", "apple-s2", "assigned"),
            ("b4", "pear", "pear-s1", "assigned"),
        ],
    )
    base_clusters = spark.createDataFrame(
        [("b1", "b1"), ("b2", "b1"), ("b3", "b3"), ("b4", "b4")],
        schema="mention_id string, entity_id string",
    )
    batch = _asg(
        spark,
        [
            ("n1", "apple", "apple-s1", "assigned"),  # -> attaches to b1
            ("n2", "apple", "apple-s2", "assigned"),  # -> attaches to b3
            ("n3", "apple", None, "nota"),            # -> minted singleton
            ("n4", "plum", "plum-s1", "assigned"),    # -> no base key:
            ("n5", "plum", "plum-s1", "assigned"),    #    mint SHARED id n4
        ],
    )
    out, oversized = attach_mentions_to_clusters(
        batch, base, base_clusters, w_jw=0.0, w_cos=0.0, w_sense=1.0
    )
    return {r["mention_id"]: r for r in out.collect()}, oversized.count(), out


def test_attach_to_best_entity(resolved):
    rows, _, _ = resolved
    assert rows["n1"]["entity_id"] == "b1"
    assert rows["n1"]["attach_source"] == "attached"
    assert rows["n1"]["best_score"] == pytest.approx(1.0)
    assert rows["n2"]["entity_id"] == "b3"


def test_unmatched_mints_and_residual_clusters(resolved):
    rows, _, _ = resolved
    # nota mention matches nothing (sense-only weights): singleton mint
    assert rows["n3"]["entity_id"] == "n3"
    assert rows["n3"]["attach_source"] == "minted"
    assert rows["n3"]["best_score"] is None
    # two duplicate residual mentions share ONE minted id (min member)
    assert rows["n4"]["entity_id"] == "n4"
    assert rows["n5"]["entity_id"] == "n4"
    assert rows["n5"]["attach_source"] == "minted"


def test_every_batch_mention_resolved_once(resolved):
    rows, _, _ = resolved
    assert sorted(rows) == ["n1", "n2", "n3", "n4", "n5"]


def test_no_window_in_attach_plan(resolved):
    # reps are an AGGREGATE (map-side combinable) and the best entity is
    # picked inside the keyed pass; a window here would buffer a hot key's
    # full membership in one task
    _, _, out = resolved
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_frozen_base_no_merge(spark):
    # two base entities share (key, sense): a bridge mention must attach to
    # exactly ONE (largest entity_id on ties), never merge them
    base = _asg(
        spark,
        [
            ("b1", "apple", "apple-s1", "assigned"),
            ("b2", "apple", "apple-s1", "assigned"),
        ],
    )
    base_clusters = spark.createDataFrame(
        [("b1", "e_a"), ("b2", "e_b")],
        schema="mention_id string, entity_id string",
    )
    batch = _asg(spark, [("n1", "apple", "apple-s1", "assigned")])
    out, _ = attach_mentions_to_clusters(
        batch, base, base_clusters, w_jw=0.0, w_cos=0.0, w_sense=1.0
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["entity_id"] == "e_b"  # tie -> largest entity_id


def test_oversized_key_degrades_to_mint(spark):
    base = _asg(
        spark,
        [
            ("b1", "apple", "apple-s1", "assigned"),
            ("b2", "apple", "apple-s2", "assigned"),
            ("b3", "apple", "apple-s3", "assigned"),
        ],
    )
    base_clusters = spark.createDataFrame(
        [("b1", "b1"), ("b2", "b2"), ("b3", "b3")],
        schema="mention_id string, entity_id string",
    )
    batch = _asg(spark, [("n1", "apple", "apple-s1", "assigned")])
    out, oversized = attach_mentions_to_clusters(
        batch,
        base,
        base_clusters,
        w_jw=0.0,
        w_cos=0.0,
        w_sense=1.0,
        max_reps_per_key=2,
    )
    ov = oversized.collect()
    assert [(r["norm_surface"], r["n_entities"]) for r in ov] == [("apple", 3)]
    rows = out.collect()
    # the hot key was excluded from attach: the mention minted instead
    assert rows[0]["attach_source"] == "minted"
    assert rows[0]["entity_id"] == "n1"


def test_residual_blocks_under_the_er_job_cap(spark):
    """The residual clusters under the ER job's block cap (ER_MAX_BLOCK),
    exactly like the snapshot build: one 100-mention surface block is
    all-pairs there, so two NOTA duplicates whose context differs from the
    block hub's still find each other (a 64 cap would star the block over
    its hub and strand them as singletons)."""
    from word_sense_disambiguation_spark.operators.blocking import (
        er_clusters,
        er_scored_edges,
    )

    twins = {"m050", "m051"}
    rows = []
    for i in range(100):
        mid = f"m{i:03d}"
        # three tokens per bag: single-token bags collide in the 64-dim
        # hashed embedding often enough to score cosine 1.0
        ctx = ["twin", "words"] if mid in twins else [
            f"alpha{i}", f"beta{i}", f"gamma{i}"
        ]
        rows.append((mid, "acme", "n", "acme", "Acme", ctx, None, "nota"))
    batch = spark.createDataFrame(rows, schema=ASG_SCHEMA)
    empty_base = spark.createDataFrame([], schema=ASG_SCHEMA)
    empty_clusters = spark.createDataFrame(
        [], schema="mention_id string, entity_id string"
    )

    out, _ = attach_mentions_to_clusters(batch, empty_base, empty_clusters)
    got = {r.mention_id: r.entity_id for r in out.collect()}
    cc = {
        r.mention_id: r.entity_id
        for r in er_clusters(er_scored_edges(batch)).collect()
    }
    assert got == {m: cc.get(m, m) for m in got}
    assert got["m050"] == got["m051"] == "m050"
    assert sum(1 for m, e in got.items() if m != e) == 1


def test_attach_rejects_scorer_configs_the_pruning_misses(spark):
    """The residual is clustered over the ER job's scorer-aware pairs: a
    config under which a dropped pair could match raises ValueError before
    any Spark job runs; the defaults and the sense-only config are
    accepted."""
    a = _asg(spark, [("b1", "apple", "apple-s1", "assigned")])
    c = spark.createDataFrame([("b1", "b1")], "mention_id string, entity_id string")
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "attach_rejects")
    try:
        for kw in ({"w_cos": 0.5}, {"w_jw": 0.6, "w_cos": 0.0}, {"w_jw": -0.1}):
            with pytest.raises(ValueError, match="pruning"):
                attach_mentions_to_clusters(a, a, c, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("attach_rejects")
    for kw in ({}, {"w_jw": 0.0, "w_cos": 0.0, "w_sense": 1.0}):
        resolved, _ = attach_mentions_to_clusters(a, a, c, **kw)
        assert resolved.count() == 1


@pytest.fixture(scope="module")
def world_split(spark, sworld):
    """The conftest world as a frozen base (first 90 pages, clustered by the
    ER job's composition) and a batch (the other 30 pages) that carries one
    extra row with a NULL ``norm_surface``."""
    from pyspark.sql import functions as F

    from word_sense_disambiguation_spark.operators.blocking import (
        er_clusters,
        er_scored_edges,
    )
    from word_sense_disambiguation_spark.plans.pipeline import sense_assignments

    cut = sorted(r.url for r in sworld["pages"].select("url").collect())[90]
    pages = sworld["pages"]
    base = sense_assignments(pages.filter(F.col("url") < cut), sworld["senses"])
    base = base.localCheckpoint(eager=True)
    base_clusters = er_clusters(er_scored_edges(base)).localCheckpoint(eager=True)
    batch = sense_assignments(pages.filter(F.col("url") >= cut), sworld["senses"])
    null_row = batch.limit(1).select(
        *[
            F.concat(F.col(c), F.lit(":null")).alias(c) if c == "mention_id"
            else F.lit(None).cast("string").alias(c) if c == "norm_surface"
            else F.col(c)
            for c in batch.columns
        ]
    )
    batch = batch.unionByName(null_row).localCheckpoint(eager=True)
    return batch, base, base_clusters


def _reference_attach(batch, base, base_clusters, kw, max_reps_per_key, max_block_size):
    """The attach as a composition of the public scorer and ER functions:
    representatives per (key, entity), ``score_mention_pairs`` on batch x
    representative pairs, best entity by ``max_by``, then
    ``cluster_mentions`` over ``er_scored_edges`` on the residual (the
    general connected components, not the attach's block labelling)."""
    from pyspark.sql import functions as F

    from word_sense_disambiguation_spark.operators.blocking import er_scored_edges
    from word_sense_disambiguation_spark.operators.clustering import cluster_mentions
    from word_sense_disambiguation_spark.operators.pairs import score_mention_pairs

    keys = ["norm_surface", "pos"]
    attrs = ["mention_id", "surface", "norm_surface", "context_words",
             "pred_sense_id", "decision"]
    pruned = base.join(
        F.broadcast(batch.select(*keys).distinct()), on=keys, how="left_semi"
    ).join(base_clusters, on="mention_id")
    reps = pruned.groupBy(*keys, "entity_id").agg(
        F.min_by(F.struct(*attrs), F.col("mention_id")).alias("rep")
    )
    counts = reps.groupBy(*keys).agg(F.count("*").alias("n_entities"))
    oversized = counts.filter(F.col("n_entities") > max_reps_per_key)
    ok = reps.join(oversized.select(*keys), on=keys, how="left_anti")
    cand = batch.select(F.col("mention_id").alias("id_a"), *keys).join(
        ok.select(*keys, F.col("rep.mention_id").alias("id_b"), "entity_id"), on=keys
    )
    side = batch.select(*attrs).unionByName(
        ok.select(*[F.col(f"rep.{c}").alias(c) for c in attrs])
    )
    edges = score_mention_pairs(cand.select("id_a", "id_b"), side, **kw)
    best = (
        edges.filter("is_match")
        .join(cand, on=["id_a", "id_b"])
        .groupBy(F.col("id_a").alias("mention_id"))
        .agg(
            F.max_by("entity_id", F.struct("score", "entity_id")).alias("entity_id"),
            F.max("score").alias("best_score"),
        )
    )
    residual = batch.join(best, on="mention_id", how="left_anti")
    clusters = cluster_mentions(er_scored_edges(residual, max_block_size, **kw))
    minted = residual.select("mention_id").join(clusters, on="mention_id", how="left")
    resolved = [
        (r.mention_id, r.entity_id, "attached", r.best_score) for r in best.collect()
    ] + [
        (r.mention_id, r.entity_id or r.mention_id, "minted", None)
        for r in minted.collect()
    ]
    clusters.unpersist()
    n_big = residual.groupBy(*keys).count().filter(f"count > {max_block_size}").count()
    return sorted(resolved), sorted(map(tuple, oversized.collect())), n_big


@pytest.mark.parametrize(
    "kw", [{}, {"w_jw": 0.0, "w_cos": 0.0, "w_sense": 1.0}], ids=["default", "sense"]
)
def test_attach_equals_the_public_function_composition(world_split, kw):
    """The one keyed pass gives the rows of the composition it replaces, with
    a key cap and a block cap small enough that both the oversized-key path
    and the residual's oversized-block stars run."""
    batch, base, base_clusters = world_split
    caps = {"max_reps_per_key": 2, "max_block_size": 16}
    want, want_oversized, n_big = _reference_attach(
        batch, base, base_clusters, kw, **caps
    )
    out, oversized = attach_mentions_to_clusters(
        batch, base, base_clusters, **kw, **caps
    )
    got = sorted(map(tuple, out.collect()))
    assert want_oversized and n_big, (want_oversized, n_big)
    assert {s for _, _, s, _ in got} == {"attached", "minted"}
    assert got == want
    assert sorted(map(tuple, oversized.collect())) == want_oversized
    lone = [r for r in got if r[0].endswith(":null")]
    assert lone == [(lone[0][0], lone[0][0], "minted", None)]


def test_attach_runs_at_most_eight_spark_jobs(spark, world_split):
    """One attach, from its input to the collected rows, runs 8 Spark jobs
    or fewer: the batch checkpoint plus the stages of one keyed pass (the
    composition of separate scorer, best-match and residual stacks ran
    24-27)."""
    batch, base, base_clusters = world_split
    n_batch = batch.count()
    sc = spark.sparkContext
    group = "attach_job_count"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out, _ = attach_mentions_to_clusters(batch, base, base_clusters)
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(rows) == n_batch
    assert 1 <= n_jobs <= 8, n_jobs
