"""End-to-end pipeline DAG: pages -> mentions -> candidates -> assignments.

The Spark re-expression of the reference's request lifecycle
(``/root/reference/wsd/word_sense_disambiguation.py:375-403``, SURVEY §3.1):
one linear DataFrame DAG whose only shuffle is the per-mention aggregate
in :func:`assign_senses` (``max_by`` with a map-side partial combine, one
row per mention through the exchange) — the inventory join is broadcast,
tokenization/context is a single scan. At cluster scale the plan
is embarrassingly page-parallel until the tiny candidate-set aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from word_sense_disambiguation_spark.operators.candidates import candidates_for_mentions
from word_sense_disambiguation_spark.operators.scoring import (
    assign_senses,
    score_candidates,
)
from word_sense_disambiguation_spark.operators.tokenize import (
    mentions_from_pages,
    mentions_from_pages_sql,
)


def sense_assignments(
    pages: DataFrame, senses: DataFrame, use_html: bool = False
) -> DataFrame:
    """pages + inventory -> per-mention sense assignments (the flagship query).

    Uses the JVM-only mention extractor (whole-stage codegen, scales with
    cores) unless ``use_html`` demands python-side byte extraction; the two
    extractors are row-identical (tested), so the choice is purely physical.

    The empty-candidate short-circuit stays LOGICAL here (single
    left-join pipeline, one Exchange, no materialization), and the cosine
    UDF runs unsplit and unwrapped on every candidate row. Both ways of
    moving the inventory-miss rows off the Arrow boundary were measured
    and rejected (see ``score_candidates``): a physical checkpoint+split
    (the prompt path's shape; 3.01 s -> 5.33 s on the bench row — the
    prompt path wins from the split only because it also deletes a
    per-branch collect_list aggregate), and nulling the UDF's context
    input for those rows (+0.2-0.9 s — the boundary cost is per-batch
    round-trip latency, not payload bytes).
    """
    if use_html:
        mentions = mentions_from_pages(pages, use_html=True)
    else:
        mentions = mentions_from_pages_sql(pages)
    cands = candidates_for_mentions(mentions, senses)
    scored = score_candidates(cands)
    return assign_senses(scored)


def sense_assignments_prompted(
    pages: DataFrame, senses: DataFrame
) -> DataFrame:
    """The prompt-path flagship: the reference's actual inference flow
    (SURVEY §3.1 steps 5-6) — build a multiple-choice prompt per mention,
    score it with the batched 128-way scorer, decode the probability
    vector. Exists alongside the columnar path to prove the engine carries
    the full prompt/letter/scorer contract end-to-end; results agree with
    the columnar path on the gold fixtures (tested).

    PHYSICAL SHORT-CIRCUIT (the engine-wide python-boundary rule): on a
    crawl-heavy corpus ~90% of mentions have an EMPTY candidate set — their
    decision is ``no_definitions`` with confidence 0.0 regardless of any
    scoring — yet the naive plan ships them through the mapInPandas scorer
    as null prompts, paying the Arrow round-trip of the fat passthrough
    columns (definitions/sense_ids arrays, marked sentence) for rows the
    python side only zero-fills. r6 moves the split BEFORE the grouped
    aggregate: a mention has an empty candidate set iff its ``(lemma,
    pos)`` misses the broadcast inventory dim, so the ``no_definitions``
    branch is a broadcast LEFT-ANTI join over the mention table (zero
    shuffle, zero aggregate) and the collect_list aggregate — previously
    the plan's dominant cost, shipping every mention through its Exchange
    and evaluating the final ObjectHashAggregate once PER BRANCH — now
    runs only over the ~6% of mentions that actually match the inventory
    (measured 5.23s -> ~3.1s on the bench row). The mention table is
    eagerly localCheckpointed before the two-consumer fan-out (the
    attach_mentions_to_clusters rule: an unmaterialized extraction DAG
    re-executes per consumer). Mentions with n_defs > 127 (prompt NULL by
    the letter-window rule) stay on the scorer branch so their degenerate
    decode is byte-identical to the unsplit plan. The scorer's Arrow
    boundary carries neither ``definitions`` nor ``marked_sentence``
    (guide §4.1: only the columns the python side needs cross).
    """
    from pyspark.sql import functions as F

    from word_sense_disambiguation_spark.operators.candidates import prepare_senses
    from word_sense_disambiguation_spark.operators.mlm_scorer import (
        decode_probabilities,
        score_prompts,
    )
    from word_sense_disambiguation_spark.operators.prompts import build_prompts

    # checkpoint only the columns the two branches read (norm_surface /
    # sentence_id / n_context never are) — smaller blocks, same rows
    mentions = (
        mentions_from_pages_sql(pages)
        .select(
            "url", "mention_id", "position", "surface", "lemma", "pos",
            "context_words",
        )
        .localCheckpoint(eager=True)
    )
    dim = prepare_senses(senses)
    key = (mentions["lemma"] == dim["s_lemma"]) & (
        mentions["pos"] == dim["join_pos"]
    )
    # scorer branch: INNER broadcast join == the old left join restricted to
    # rows with sense_id NOT NULL — a mention either matches >= 1 inventory
    # rows (all non-null) or exactly one all-null row, so the per-mention
    # collect_list groups are identical to the old null-guarded form.
    matched = mentions.join(F.broadcast(dim), key, "inner").drop(
        "s_lemma", "join_pos"
    )
    grouped = (
        matched.groupBy(
            "url", "mention_id", "position", "surface", "lemma", "pos",
            "context_words",
        )
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("sense_rank", "sense_id", "sense_definition")
                )
            ).alias("cands")
        )
        .withColumn("definitions", F.transform("cands", lambda c: c["sense_definition"]))
        .withColumn("sense_ids", F.transform("cands", lambda c: c["sense_id"]))
        .withColumn("n_defs", F.size("definitions"))
        .withColumn(
            "marked_sentence",
            F.concat(
                F.lit("*"), F.col("surface"), F.lit("* "),
                F.concat_ws(" ", "context_words"),
            ),
        )
        .drop("cands")
    )
    prompted = build_prompts(grouped, word_col="surface")
    # definitions/marked_sentence are consumed by build_prompts and never
    # read again — don't pay their Arrow round-trip through the scorer.
    scored = score_prompts(
        prompted.drop("context_words", "definitions", "marked_sentence")
    )
    decoded = decode_probabilities(scored, n_defs_col="n_defs")
    from_scorer = decoded.select(
        "url",
        "mention_id",
        "position",
        "surface",
        "lemma",
        "pos",
        F.when(F.col("is_nota_pred"), F.lit("nota"))
        .otherwise(F.lit("assigned"))
        .alias("decision"),
        F.when(
            ~F.col("is_nota_pred"),
            F.element_at(F.col("sense_ids"), F.col("choice_index") + 1),
        ).alias("pred_sense_id"),
        "confidence",
    )
    # n_defs == 0 rows decode deterministically (zero vector -> is_nota
    # forced, total 0 -> confidence 0.0) — emit the literals directly from
    # the anti-joined mention rows (one row per missing mention, exactly
    # the groups the old aggregate collected an empty list for).
    no_defs = mentions.join(
        F.broadcast(dim.select("s_lemma", "join_pos")), key, "left_anti"
    ).select(
        "url",
        "mention_id",
        "position",
        "surface",
        "lemma",
        "pos",
        F.lit("no_definitions").alias("decision"),
        F.lit(None).cast("string").alias("pred_sense_id"),
        F.lit(0.0).alias("confidence"),
    )
    return from_scorer.unionByName(no_defs)
