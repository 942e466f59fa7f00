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
  edge at or above ``threshold`` (ties: largest entity_id);
* mentions that attach to nothing are clustered among THEMSELVES (the same
  scorer-aware block pairs, pair scores and min-label components as the
  snapshot build, on the residual only) and receive minted ids, so
  duplicate new mentions share one new entity instead of minting twice.

Scale plan, in order:

1. the batch's blocking keys are broadcast-semi-joined against the base —
   only key-overlapping base rows are read (at real scale this is
   partition/file pruning on the key column at the scan; the snapshot
   join on mention_id is bucket-co-located when the snapshot table is
   bucketed by mention_id, which a 10^12-row deployment would do);
2. the base side collapses to ONE representative row per
   ``(key, entity_id)`` via a ``min_by`` AGGREGATE — map-side partial
   combine, so a 10^8-mention hot entity contributes one row per map
   partition, never a buffered window group, and a key's rows are bounded
   by its entities, not its mentions;
3. keys with more than ``max_reps_per_key`` distinct base entities are
   excluded and RETURNED (no silent caps — the caller sees exactly which
   keys degraded); their batch mentions fall through to the residual path
   and mint, so no mention is ever dropped;
4. the batch rows and the representatives meet in ONE shuffle on the key
   and ONE ``mapInPandas`` pass: entities never cross a key and every
   attach decision is local to one, so each partition resolves its keys
   whole with the ER job's own block kernels, and attach decisions agree
   with the decisions that built the snapshot.

ID contract: mention ids must be globally unique across base and batch.
Minted ids are batch mention ids (the residual min-id convention), so they
can never collide with base entity ids, which are base mention ids.

Reference parity anchor: the reference resolves each benchmark example
against a FIXED inventory snapshot, one example at a time
(/root/reference/wsd/word_sense_disambiguation.py:375-403); this is the
set-at-a-time analogue over a frozen entity table, with the same
prediction-equality match rule (/root/reference/wsd/benchmark.py:126)
supplying the sense term of the edge score.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from word_sense_disambiguation_spark.functions.hashing import signed_count_matrix
from word_sense_disambiguation_spark.operators.blocking import (
    ER_MAX_BLOCK,
    _block_entities,
    _check_pruning_covers,
    _score_pairs,
)
from word_sense_disambiguation_spark.operators.pairs import (
    MATCH_THRESHOLD,
    W_COS,
    W_JW,
    W_SENSE,
)

# the attributes the pair scorer reads (blocking._score_pairs)
_SCORED_COLS = ("surface", "context_words", "pred_sense_id", "decision")

# the surface blocking key er_scored_edges blocks the snapshot on
_KEY_COLS = ("norm_surface", "pos")

DEFAULT_MAX_REPS_PER_KEY = 64


def _attach_run(
    batches: Iterator[pd.DataFrame],
    max_reps_per_key: int,
    max_block_size: int,
    scorer: tuple[float, float, float, float],
) -> Iterator[pd.DataFrame]:
    """Per-partition pass of :func:`attach_mentions_to_clusters` over whole
    keys: the partition holds every batch row and every representative of
    each of its keys."""
    parts = [b for b in batches if len(b)]
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True)
    ids, is_rep = pdf["mention_id"].to_numpy(), pdf["is_rep"].to_numpy(dtype=bool)
    block = pdf.groupby(list(_KEY_COLS), sort=False, dropna=False).ngroup().to_numpy()
    # a row with a NULL key never pairs: alone in its block, it mints its own id
    null_key = pdf[list(_KEY_COLS)].isna().any(axis=1).to_numpy()
    block = np.where(null_key, len(pdf) + np.arange(len(pdf)), block)

    # every batch row x every representative of its key, unless the key
    # holds more than max_reps_per_key entities (one rep per entity)
    open_key = (np.bincount(block, weights=is_rep) <= max_reps_per_key)[block]
    rows = pd.DataFrame({"block": block, "row": np.arange(len(pdf))})
    cand = rows[~is_rep & open_key].merge(rows[is_rep & open_key], on="block")
    i, j = cand["row_x"].to_numpy(), cand["row_y"].to_numpy()
    counts = signed_count_matrix(pdf["context_words"])  # hashed once per row
    score, is_match = _score_pairs(pdf, counts, i, j, *scorer)
    hit = pd.Series(is_match).eq(True).to_numpy()  # a NULL is_match never attaches
    # best entity per batch row: highest score, then largest entity_id
    entity = pdf["entity_id"].to_numpy()[j[hit]]
    best = (
        pd.DataFrame({"row": i[hit], "score": score[hit], "entity_id": entity})
        .sort_values(["row", "score", "entity_id"])
        .drop_duplicates("row", keep="last")
    )
    won = best["row"].to_numpy()

    # the rest of the batch clusters among itself through the ER job's own
    # block sequence (er_scored_edges' pass); an unmatched row mints its id
    residual = ~is_rep
    residual[won] = False
    res = pdf[residual].reset_index(drop=True)
    rank, uniq = pd.factorize(res["mention_id"], sort=True)  # rank order == id order
    label = _block_entities(
        res, counts[residual], block[residual], rank, max_block_size, *scorer
    )[4]
    minted = np.asarray(uniq)[label[rank]]
    yield pd.DataFrame({
        "mention_id": np.concatenate([ids[won], ids[residual]]),
        "entity_id": np.concatenate([best["entity_id"].to_numpy(), minted]),
        "attach_source": ["attached"] * len(won) + ["minted"] * len(res),
        "best_score": np.r_[best["score"].to_numpy(), np.full(len(res), np.nan)],
    })


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
    build (``er_scored_edges`` + ``er_clusters``, under
    ``max_block_size``), whose pruning is exact only for the scorer
    configs ``pairs.pruning_covers`` accepts; any other config raises
    ``ValueError`` before any Spark job runs.
    """
    _check_pruning_covers(w_jw, w_cos, threshold)
    keys = list(_KEY_COLS)
    scored = list(_SCORED_COLS)

    # 0. materialize the batch ONCE: it feeds both the key broadcast and
    #    the keyed pass, and an unmaterialized expensive upstream DAG (e.g.
    #    the full pages->assignments pipeline) would re-execute per
    #    consumer (measured 312s -> ~30s on a 12-page increment).
    #    localCheckpoint, NEVER persist: persisted plans get CacheManager-
    #    substituted into later logically-identical queries (the r4 bench
    #    artifact); the RDD-level checkpoint is invisible to CacheManager
    #    and its blocks free when the result is garbage-collected. The
    #    batch is small by operator contract, so the extra job is cheap.
    batch_assignments = batch_assignments.localCheckpoint(eager=True)

    # 1. prune the base to the batch's keys (broadcast semi-join: the batch
    #    is small by contract, so its keys broadcast as they are, without a
    #    distinct's shuffle; at real scale this is scan-level pruning).
    batch_keys = F.broadcast(batch_assignments.select(*keys))
    pruned = base_assignments.select("mention_id", *keys, *scored)
    pruned = pruned.join(batch_keys, on=keys, how="left_semi")
    pruned = pruned.join(base_clusters, on="mention_id")

    # 2. one representative per (key, entity): min-mention-id's attributes,
    #    via a min_by aggregate (map-side combine; never a window).
    payload = F.struct("mention_id", *scored)
    reps = pruned.groupBy(*keys, "entity_id").agg(
        F.min_by(payload, F.col("mention_id")).alias("rep")
    )

    # 3. keys over the entity cap are RETURNED (the pass excludes them too).
    oversized = (
        reps.groupBy(*keys)
        .agg(F.count("*").alias("n_entities"))
        .filter(F.col("n_entities") > max_reps_per_key)
    )

    # 4. batch rows + representatives, ONE shuffle on the key, one pass.
    id_type = dict(batch_assignments.dtypes)["mention_id"]
    entity_type = dict(base_clusters.dtypes)["entity_id"]
    rows = batch_assignments.select(
        "mention_id", *keys, "lemma", *scored,
        # its own id, not NULL: a NULL would turn integer ids into floats
        F.col("mention_id").cast(entity_type).alias("entity_id"),
        F.lit(False).alias("is_rep"),
    ).unionByName(
        reps.select(
            "rep.mention_id", *keys, F.lit(None).cast("string").alias("lemma"),
            *[f"rep.{c}" for c in scored], "entity_id", F.lit(True).alias("is_rep"),
        )
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _attach_run(
            batches, max_reps_per_key, max_block_size,
            (threshold, w_jw, w_cos, w_sense),
        )

    schema = f"mention_id {id_type}, entity_id {entity_type}, attach_source string"
    resolved = rows.repartition(*keys).mapInPandas(run, f"{schema}, best_score double")
    return resolved, oversized
