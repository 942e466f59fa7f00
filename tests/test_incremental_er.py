"""Incremental ER: frozen-base attach-or-mint semantics.

Mirrors the reference's resolve-against-a-fixed-snapshot lifecycle
(/root/reference/wsd/word_sense_disambiguation.py:375-403) at set-at-a-time
granularity: base entities are immutable, batch mentions attach to the best
base entity or mint new ids via residual clustering.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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
    # reps + best-entity are AGGREGATES (map-side combinable); a window
    # here would buffer a hot key's full membership in one task
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
        er_candidate_pairs,
    )
    from word_sense_disambiguation_spark.operators.clustering import (
        cluster_mentions,
    )
    from word_sense_disambiguation_spark.operators.pairs import (
        score_mention_pairs,
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
        for r in cluster_mentions(
            score_mention_pairs(er_candidate_pairs(batch, batch), batch)
        ).collect()
    }
    assert got == {m: cc.get(m, m) for m in got}
    assert got["m050"] == got["m051"] == "m050"
    assert sum(1 for m, e in got.items() if m != e) == 1
