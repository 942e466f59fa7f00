"""Stage-2 scoring: candidate (mention, sense) pairs -> sense assignments.

The reference scores each candidate set with a 128-way MLM head and picks
the argmax with confidence renormalized over valid choices plus a fixed
none-of-the-above slot (``/root/reference/wsd/word_sense_disambiguation.py:181-217``,
``wsd/masked_language_model.py:166-175``). This engine keeps exactly those
decision semantics but swaps the scorer for two distribution-friendly
signals:

* **Lesk gloss overlap** — ``size(array_intersect(context, profile))``,
  pure JVM/whole-stage-codegen, zero Python;
* **hashed context-embedding cosine** — an Arrow-batched pandas UDF
  (the analogue of the reference's batched vectorized scorer, T10).

Decision rules preserved 1:1:
  - empty candidate set  -> sentinel ``NO_DEFINITIONS_FOUND``, confidence 0,
    scorer never invoked (``...py:250-257``);
  - a fixed reject slot participates in every argmax (our ``TAU`` plays the
    NOTA letter's role); winning reject -> null sense id, definition
    ``none of the above`` (``...py:206-211``);
  - confidence = winner's score / sum of all slot scores
    (renormalization, ``...py:201-204``);
  - ties broken by ``sense_rank`` (inventory frequency order — the
    reference's earlier-letter prior, ``...py:131-139``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from word_sense_disambiguation_spark.functions.hashing import embed_token_bags_dedup
from word_sense_disambiguation_spark.functions.similarity import cosine_batch

NO_DEFINITIONS_FOUND = "No definitions found"
NONE_OF_THE_ABOVE = "none of the above"

# Reject-slot score: a candidate must beat TAU to be assigned. Plays the
# role of the reference's fixed NOTA letter probability.
TAU = 0.35
COSINE_WEIGHT = 0.25


@F.pandas_udf(T.DoubleType())
def context_gloss_cosine(
    context_words: pd.Series, profile_words: pd.Series
) -> pd.Series:
    """Cosine between hashed-bag embeddings of context and gloss profile.

    Arrow-batched: embeds the whole batch into two (n, 64) matrices and does
    one vectorized row-wise cosine — the Spark analogue of the reference's
    batched forward pass (``wsd/masked_language_model.py:88-147``).
    Both sides embed via the DISTINCT-bag path (bit-identical, see
    ``embed_token_bags_dedup``): a candidate batch repeats each mention's
    context once per candidate sense and each sense's profile once per
    mention — measured ~2.4x fewer embedded rows on the flagship batch.
    """
    n = len(context_words)
    if n == 0:
        return pd.Series([], dtype="float64")
    A = embed_token_bags_dedup(list(context_words))
    B = embed_token_bags_dedup(list(profile_words))
    return pd.Series(cosine_batch(A, B))


def score_candidates(candidates: DataFrame, use_cosine: bool = True) -> DataFrame:
    """Attach ``score`` to each candidate row (null for empty-candidate rows).

    score = overlap/(overlap+1) + COSINE_WEIGHT * max(cosine, 0): gloss
    overlap dominates, the embedding breaks near-ties.

    ``use_cosine=False`` is the Lesk-only config: the cosine UDF never
    enters the plan (no python worker anywhere) and the score is a single
    IEEE division of integer counts — exact enough for a SQL hash oracle
    to replay the whole assignment stage (``er_clusters_derived``).

    The empty-candidate short-circuit (reference: no model call,
    ``...py:250-257``) is *logical* here: inventory-miss rows get a null
    score via ``when()``. The cosine UDF deliberately runs UNSPLIT on every
    row — Catalyst extracts python UDFs into an unconditional
    ArrowEvalPython node either way, and for this operator the measured
    cost of shipping a null-profile row (one short Arrow array) is lower
    than the double scan + union a physical filter/split would add. This
    is one of the two documented exceptions to the engine's physical
    UDF-short-circuit rule (the other is the pair scorer's JW, whose
    equality fast path lives inside the python loop) — see CLAUDE.md.
    """
    overlap = F.size(F.array_intersect("context_words", "profile_words"))
    lesk = overlap.cast("double") / (overlap + F.lit(1)).cast("double")
    if not use_cosine:
        return candidates.withColumn(
            "score", F.when(F.col("sense_id").isNotNull(), lesk)
        )
    # Arrow-batched cosine: one md5 per *unique* token (executor-lifetime
    # memo) + one NumPy GEMM-style batch — measured 30x faster end-to-end
    # than an all-JVM higher-order-function form (40k pages: 2.7 s vs
    # 81.5 s), whose md5 work lambda scoping multiplies by the 64 slots
    # because CSE does not cross a lambda.
    # The UDF runs unsplit on every row (ArrowEvalPython is
    # unconditional). r6 measured and REJECTED two "optimizations" here,
    # in windowed A/Bs — do not reintroduce either without re-measuring:
    # (a) a physical checkpoint+split of the flagship around this UDF
    # (3.0 -> 5.3 s: materializing the mention table costs more than the
    # null rows' Arrow round-trip); (b) nulling the ctx input for
    # inventory-miss rows via when(sense_id notnull, ctx) (bench rows
    # drifted +0.2-0.9 s: the boundary cost is per-batch round-trip
    # latency, not payload bytes, and the CASE adds a projection).
    cos = F.greatest(
        context_gloss_cosine("context_words", "profile_words"), F.lit(0.0)
    )
    return candidates.withColumn(
        "score",
        F.when(F.col("sense_id").isNotNull(), lesk + F.lit(COSINE_WEIGHT) * cos),
    )


def assign_senses(scored: DataFrame, tau: float = TAU) -> DataFrame:
    """Per-mention argmax + NOTA + renormalized confidence -> assignments.

    Physical shape: an AGGREGATE (``max_by`` over an ordering struct +
    ``sum``), NOT a sort window. Catalyst compiles the struct-payload
    ``max_by`` to SortAggregate (struct agg buffers are not
    hash-mutable), but the property that matters at 100 TB holds either
    way: PARTIAL aggregation collapses each candidate set map-side (the
    plan shows partial+final aggregates around the single exchange), so
    the pipeline's one shuffle carries one row per mention — a Window
    would ship every candidate row through the shuffle and buffer whole
    groups. The per-partition sort feeding SortAggregate is over rows the
    broadcast join emits already mention-adjacent — near-sorted input,
    cheap. Tie-break is
    (score desc, sense_rank asc): sense_rank is the inventory frequency
    order — the reference's earlier-letter prior. ``greatest(score, 0)``
    guards the denominator like the reference's ``total_prob > 0`` check
    (``...py:203-204``).
    """
    order_key = F.struct(
        F.coalesce(F.col("score"), F.lit(-1.0)).alias("s"),
        (-F.coalesce(F.col("sense_rank"), F.lit(1 << 30))).alias("r"),
    )
    payload = F.struct(
        "url", "position", "surface", "norm_surface", "lemma", "pos",
        "sentence_id", "context_words", "sense_id", "sense_definition",
        "score",
    )
    ranked = (
        scored.groupBy("mention_id")
        .agg(
            F.max_by(payload, order_key).alias("b"),
            (
                F.sum(F.greatest(F.coalesce(F.col("score"), F.lit(0.0)), F.lit(0.0)))
                + F.lit(tau)
            ).alias("total_score"),
        )
        .select("mention_id", "total_score", F.col("b.*"))
    )
    no_defs = F.col("sense_id").isNull()
    rejected = F.col("score") < F.lit(tau)
    return ranked.select(
        "url",
        "mention_id",
        "position",
        "surface",
        "norm_surface",
        "lemma",
        "pos",
        "sentence_id",
        "context_words",
        F.when(no_defs, F.lit("no_definitions"))
        .when(rejected, F.lit("nota"))
        .otherwise(F.lit("assigned"))
        .alias("decision"),
        F.when(~no_defs & ~rejected, F.col("sense_id")).alias("pred_sense_id"),
        F.when(no_defs, F.lit(""))
        .when(rejected, F.lit(NONE_OF_THE_ABOVE))
        .otherwise(F.col("sense_definition"))
        .alias("pred_definition"),
        F.when(no_defs, F.lit(0.0))
        .when(rejected, F.lit(tau) / F.col("total_score"))
        .otherwise(F.col("score") / F.col("total_score"))
        .alias("confidence"),
    )
