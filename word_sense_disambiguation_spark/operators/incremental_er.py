"""Incremental entity resolution: attach a new mention batch to a frozen
cluster snapshot; mint ids for the residual.

The production shape of the north rule's clustering stage: the corpus is
clustered ONCE (``run_er_pipeline``'s block-local clustering), then each
crawl increment is resolved against the frozen snapshot without re-running
corpus-wide connected components. Semantics ("frozen base, attach-or-mint"):

* base entities are IMMUTABLE — a batch mention can join an entity but can
  never merge two base entities (work per increment is bounded by the batch,
  never by the corpus; a bridge mention that matches two entities attaches
  to exactly one, deterministically);
* each batch mention attaches to the best-scoring base entity with a match
  edge at or above ``threshold`` (ties: largest entity_id — one ``max_by``
  over an ordering struct, the same aggregate-not-window discipline as
  ``assign_senses``);
* mentions that attach to nothing are clustered among THEMSELVES (the same
  keyed blocking + pair scoring pass and block-local clustering as the
  snapshot build, on the residual only) and receive minted ids, so duplicate new mentions
  share one new entity instead of minting twice.

Scale plan, in order:

1. the batch's blocking keys are broadcast-semi-joined against the base —
   only key-overlapping base rows are read (at real scale this is
   partition/file pruning on the key column at the scan; the snapshot
   join on mention_id is bucket-co-located when the snapshot table is
   bucketed by mention_id, which a 10^12-row deployment would do);
2. the base side collapses to ONE representative row per
   ``(key, entity_id)`` via a ``min_by`` AGGREGATE — map-side partial
   combine, so a 10^8-mention hot entity contributes one row per map
   partition, never a buffered window group;
3. keys with more than ``max_reps_per_key`` distinct base entities are
   excluded and RETURNED (no silent caps — the caller sees exactly which
   keys degraded); their batch mentions fall through to the residual path
   and mint, so no mention is ever dropped;
4. candidate scoring reuses the stage-2 vectorized pair scorer
   (``pairs.score_mention_pairs``) verbatim, so attach decisions are
   consistent with the decisions that built the snapshot.

ID contract: mention ids must be globally unique across base and batch
(both corpora feed one attribute table for the scorer). Minted ids are
batch mention ids (the residual CC min-id convention), so they can never
collide with base entity ids, which are base mention ids.

Reference parity anchor: the reference resolves each benchmark example
against a FIXED inventory snapshot, one example at a time
(/root/reference/wsd/word_sense_disambiguation.py:375-403); this is the
set-at-a-time analogue over a frozen entity table, with the same
prediction-equality match rule (/root/reference/wsd/benchmark.py:126)
supplying the sense term of the edge score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from word_sense_disambiguation_spark.operators.blocking import (
    ER_MAX_BLOCK,
    er_scored_edges,
)
from word_sense_disambiguation_spark.operators.clustering import block_clusters
from word_sense_disambiguation_spark.operators.pairs import (
    MATCH_THRESHOLD,
    W_COS,
    W_JW,
    W_SENSE,
    score_mention_pairs,
)

# the scorer-side attribute projection (pairs._side) plus the blocking keys
_ATTR_COLS = (
    "mention_id",
    "surface",
    "norm_surface",
    "context_words",
    "pred_sense_id",
    "decision",
)

# the surface blocking key er_scored_edges blocks the snapshot on
_KEY_COLS = ("norm_surface", "pos")

DEFAULT_MAX_REPS_PER_KEY = 64


def attach_mentions_to_clusters(
    batch_assignments: DataFrame,
    base_assignments: DataFrame,
    base_clusters: DataFrame,
    threshold: float = MATCH_THRESHOLD,
    w_jw: float = W_JW,
    w_cos: float = W_COS,
    w_sense: float = W_SENSE,
    max_reps_per_key: int = DEFAULT_MAX_REPS_PER_KEY,
    max_block_size: int = ER_MAX_BLOCK,
) -> tuple[DataFrame, DataFrame]:
    """Resolve a batch of new mentions against frozen base clusters.

    ``batch_assignments`` / ``base_assignments``: the standard assignment
    projection (``mention_id, lemma, pos, norm_surface, surface,
    context_words, pred_sense_id, decision``). ``base_clusters``:
    ``(mention_id, entity_id)`` from a previous ER run over the base
    corpus (``run_er_pipeline``'s clusters).

    Returns ``(resolved, oversized_keys)``:

    * ``resolved`` — one row per batch mention:
      ``(mention_id, entity_id, attach_source, best_score)`` where
      ``attach_source`` is ``'attached'`` (joined a base entity;
      ``best_score`` is the winning edge score) or ``'minted'``
      (``best_score`` null; ``entity_id`` is the residual-cluster min id).
    * ``oversized_keys`` — blocking keys whose base side held more than
      ``max_reps_per_key`` distinct entities, excluded from attach.

    The residual is blocked, scored and clustered like the snapshot
    build (``er_scored_edges`` + ``block_clusters``), whose pruning is
    exact only for the scorer configs ``pairs.pruning_covers`` accepts;
    any other config raises ``ValueError``.
    """
    keys = list(_KEY_COLS)
    attrs = list(_ATTR_COLS)

    # 0. materialize the batch ONCE. The operator fans this input out to
    #    many consumers (keys, candidate side, scorer attribute union,
    #    residual anti-join -> blocking + scoring -> clustering), and
    #    some of them sit under a separate internal action (the `matched`
    #    checkpoint below) — an unmaterialized expensive upstream
    #    DAG (e.g. the full pages->assignments pipeline) would re-execute
    #    per consumer (measured 312s -> ~30s on a 12-page increment).
    #    localCheckpoint, NEVER persist: persisted plans get CacheManager-
    #    substituted into later logically-identical queries (the r4 bench
    #    artifact); the RDD-level checkpoint is invisible to CacheManager
    #    and its blocks free when the result is garbage-collected. The
    #    batch is small by operator contract, so the extra job is cheap.
    batch_assignments = batch_assignments.localCheckpoint(eager=True)

    # 1. prune the base to the batch's keys (broadcast semi-join: the batch
    #    is small by contract; at real scale this is scan-level pruning).
    batch_keys = batch_assignments.select(*keys).distinct()
    pruned = base_assignments.select(*attrs, *[k for k in keys if k not in attrs])
    pruned = pruned.join(F.broadcast(batch_keys), on=keys, how="left_semi")
    pruned = pruned.join(base_clusters, on="mention_id")

    # 2. one representative per (key, entity): min-mention-id's attributes,
    #    via a min_by aggregate (map-side combine; never a window).
    payload = F.struct(*[F.col(c) for c in attrs])
    reps = pruned.groupBy(*keys, "entity_id").agg(
        F.min_by(payload, F.col("mention_id")).alias("rep")
    )

    # 3. cap distinct entities per key; excluded keys are RETURNED.
    rep_counts = reps.groupBy(*keys).agg(F.count("*").alias("n_entities"))
    oversized = rep_counts.filter(F.col("n_entities") > max_reps_per_key)
    ok_reps = reps.join(
        F.broadcast(oversized.select(*keys)), on=keys, how="left_anti"
    )

    # 4. candidate pairs (batch mention, entity representative) + the
    #    shared attribute table the stage-2 scorer reads both sides from.
    cand = (
        batch_assignments.select(F.col("mention_id").alias("id_a"), *keys)
        .join(
            ok_reps.select(
                *keys, F.col("rep.mention_id").alias("id_b"), "entity_id"
            ),
            on=keys,
        )
        .select("id_a", "id_b", "entity_id")
    )
    side_attrs = batch_assignments.select(*attrs).unionByName(
        ok_reps.select(*[F.col(f"rep.{c}").alias(c) for c in attrs])
    )
    edges = score_mention_pairs(
        cand.select("id_a", "id_b"),
        side_attrs,
        threshold=threshold,
        w_jw=w_jw,
        w_cos=w_cos,
        w_sense=w_sense,
    )

    # 5. best base entity per batch mention: ONE max_by over an ordering
    #    struct (score desc, then entity_id desc — deterministic ties).
    best = (
        edges.filter(F.col("is_match"))
        .join(cand, on=["id_a", "id_b"])
        .groupBy("id_a")
        .agg(
            F.max_by(
                "entity_id",
                F.struct(F.col("score").alias("s"), F.col("entity_id").alias("e")),
            ).alias("entity_id"),
            F.max("score").alias("best_score"),
        )
    )
    # Same fan-out rule for the attach result: the attached rows and the
    # residual anti-join (and the residual's blocking, scoring and
    # clustering behind it) would otherwise re-run the scorer DAG behind
    # `best` once apiece.
    matched = best.select(
        F.col("id_a").alias("mention_id"), "entity_id", "best_score"
    ).localCheckpoint(eager=True)

    # 6. residual: batch mentions with no base attachment cluster among
    #    themselves with the SAME functions that built the snapshot.
    residual = batch_assignments.join(
        matched.select("mention_id"), on="mention_id", how="left_anti"
    )
    r_clusters = block_clusters(
        er_scored_edges(residual, max_block_size, threshold, w_jw, w_cos, w_sense)
    )
    minted = (
        residual.select("mention_id")
        .join(r_clusters, on="mention_id", how="left")
        .select(
            "mention_id",
            F.coalesce(F.col("entity_id"), F.col("mention_id")).alias("entity_id"),
        )
    )

    resolved = matched.select(
        "mention_id",
        "entity_id",
        F.lit("attached").alias("attach_source"),
        F.col("best_score"),
    ).unionByName(
        minted.select(
            "mention_id",
            "entity_id",
            F.lit("minted").alias("attach_source"),
            F.lit(None).cast("double").alias("best_score"),
        )
    )
    return resolved, oversized
