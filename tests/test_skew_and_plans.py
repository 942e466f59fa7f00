"""Physical-plan regression checks (broadcast where expected, pruned
scans, bounded exchanges)."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_flagship_plan_shape(spark, sworld, tmp_path):
    """Plan regressions the 100 TB design forbids: the inventory join must
    broadcast (no sort-merge), the pages scan must prune unused columns,
    and the whole flagship must contain exactly one shuffle exchange."""
    from word_sense_disambiguation_spark.plans.pipeline import sense_assignments

    # write pages to parquet so pushdown/pruning is observable
    p = str(tmp_path / "pages")
    sworld["pages"].write.parquet(p)
    pages = spark.read.parquet(p)
    plan = sense_assignments(pages, sworld["senses"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, plan[:2000]
    # column pruning: the parquet scan must not read the html payload
    scan_lines = [ln for ln in plan.splitlines() if "Scan parquet" in ln or "ReadSchema" in ln]
    joined = "\n".join(scan_lines) or plan
    assert "html" not in joined, joined


def test_candidate_filter_pushdown(spark, sworld, tmp_path):
    """A lang filter over parquet pages must reach the scan as a pushed
    filter (Catalyst predicate pushdown survives our operators)."""
    p = str(tmp_path / "pages2")
    sworld["pages"].write.parquet(p)
    pages = spark.read.parquet(p).filter(F.col("lang") == "en")
    plan = pages.select("url")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan


def test_capped_candidate_join_plan_shapes(spark):
    """The skew-cap contract in physical plans, for BOTH capped dedup
    joins: the oversized-block exclusion is a broadcast anti-join (never a
    shuffled one — the oversized table is tiny by construction), and the
    signature kernel runs ZERO times in the pair plan (it was
    checkpointed once; an uncheckpointed plan would show one MapInPandas
    per consumer subtree)."""
    from word_sense_disambiguation_spark.operators.dedup import (
        embedding_near_duplicates,
        simhash_candidates,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i % 7} delta") for i in range(60)],
        schema="doc_id long, text string",
    )
    pairs, _ = simhash_candidates(docs, "doc_id", "text", max_hamming=3)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]

    import numpy as np

    rng = np.random.RandomState(5)
    vecs = [
        (i, [float(x) for x in rng.normal(size=16)]) for i in range(40)
    ]
    emb = spark.createDataFrame(vecs, schema="vec_id long, embedding array<float>")
    matches, _ = embedding_near_duplicates(emb, "vec_id", "embedding", bits=6)
    eplan = matches._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in eplan, eplan[:1500]
    assert "BroadcastHashJoin" in eplan and "LeftAnti" in eplan, eplan[:1500]


def test_sense_only_pair_weights_are_pure_jvm(spark):
    """w_jw=0 / w_cos=0 must short-circuit the python UDFs PHYSICALLY
    (no ArrowEvalPython node at all) — the config the er_clusters_derived
    hash oracle depends on for exactness; default weights keep both."""
    import pyspark.sql.functions as F

    from word_sense_disambiguation_spark.operators.pairs import (
        score_mention_pairs,
    )

    asg = spark.createDataFrame(
        [
            ("m1", "cat", "cat", ["a"], "s1", "assigned"),
            ("m2", "cat", "cat", ["a"], "s1", "assigned"),
            ("m3", "dog", "dog", ["b"], None, "nota"),
        ],
        schema=(
            "mention_id string, surface string, norm_surface string, "
            "context_words array<string>, pred_sense_id string, "
            "decision string"
        ),
    )
    pairs = spark.createDataFrame(
        [("m1", "m2"), ("m1", "m3")], schema="id_a string, id_b string"
    )
    jvm_only = score_mention_pairs(pairs, asg, w_jw=0.0, w_cos=0.0, w_sense=1.0)
    plan = jvm_only._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "pythonUDF" not in plan
    got = {(r.id_a, r.id_b): r.is_match for r in jvm_only.collect()}
    assert got == {("m1", "m2"): True, ("m1", "m3"): False}

    default = score_mention_pairs(pairs, asg)
    dplan = default._jdf.queryExecution().executedPlan().toString()
    assert dplan.count("ArrowEvalPython") >= 1  # jw + cosine present
