"""Stage-2 pairwise scoring: candidate id pairs -> scored match edges.

The vectorized pair scorer the north star mandates: Jaro-Winkler on mention
surfaces (Arrow pandas UDF — Spark has no native JW) and batched cosine
over hashed context embeddings (pandas UDF over the whole Arrow batch at
once). Combination + threshold semantics mirror the reference's
candidate-set scoring: a weighted score, argmax/threshold decision, and the
short-circuit that pairs sharing a predicted sense are strong matches (the
reference's prediction-equality correctness rule,
``/root/reference/wsd/benchmark.py:126``).

Scale note: the inputs are *blocked* pairs (never a cross join); the join
back to mention attributes is two hash joins on mention_id. The pandas UDFs
are per-row-pair O(|s1||s2|) string work on short surfaces — bounded,
Arrow-batched, and embarrassingly parallel.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from word_sense_disambiguation_spark.functions.hashing import (
    embed_token_bags_dedup,
)
from word_sense_disambiguation_spark.functions.similarity import (
    cosine_batch,
    jaro_winkler_batch,
)

MATCH_THRESHOLD = 0.60
W_JW = 0.2
W_COS = 0.4
W_SENSE = 0.4


def pruning_covers(w_jw: float, w_cos: float, threshold: float) -> bool:
    """True iff ``blocking.er_scored_edges``' scorer-aware pruning keeps
    every pair this scorer config can match. A pair the pruning drops is
    not same-sense and has a float32 cosine ``c <= 1 - 2^-24``, so (with
    ``jw <= 1`` and rounding monotone) it scores at most
    ``w_jw + w_cos*(1 - 2^-24)``, evaluated here in the scorer's own
    double arithmetic. The defaults qualify by ``w_cos*2^-24`` ≈ 2.4e-8 —
    while the float sum ``0.2 + 0.4`` is 0.6000000000000001, above 0.6, so
    a plain ``w_jw + w_cos <= threshold`` test would wrongly reject them.
    Negative weights void the argument."""
    if w_jw < 0 or w_cos < 0:
        return False
    return (0.0 + w_jw) + w_cos * (1.0 - 2.0**-24) < threshold


@F.pandas_udf(T.DoubleType())
def _jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    # equality fast path + symmetric unique-pair memo per Arrow batch —
    # the O(|s1||s2|) kernel runs once per DISTINCT unequal pair, not per
    # row (blocked pairs repeat few distinct surfaces); see
    # functions.similarity.jaro_winkler_batch for the measured numbers.
    return pd.Series(jaro_winkler_batch(s1, s2), dtype="float64")


@F.pandas_udf(T.DoubleType())
def _context_cosine_udf(c1: pd.Series, c2: pd.Series) -> pd.Series:
    # distinct-bag embedding (bit-identical): star-blocked pair batches
    # repeat the hub's context in every row, and surface-key blocks repeat
    # few distinct contexts — embed each once, gather.
    n = len(c1)
    if n == 0:
        return pd.Series([], dtype="float64")
    A = embed_token_bags_dedup(list(c1))
    B = embed_token_bags_dedup(list(c2))
    return pd.Series(cosine_batch(A, B))


def _side(assignments: DataFrame, suffix: str) -> DataFrame:
    return assignments.select(
        F.col("mention_id").alias(f"id_{suffix}"),
        F.col("surface").alias(f"surface_{suffix}"),
        F.col("context_words").alias(f"ctx_{suffix}"),
        F.col("pred_sense_id").alias(f"sense_{suffix}"),
        F.col("decision").alias(f"decision_{suffix}"),
    )


def score_mention_pairs(
    pairs: DataFrame,
    assignments: DataFrame,
    threshold: float = MATCH_THRESHOLD,
    w_jw: float = W_JW,
    w_cos: float = W_COS,
    w_sense: float = W_SENSE,
) -> DataFrame:
    """(id_a, id_b) + per-mention attributes -> scored edges.

    score = w_jw*jaro_winkler(surface_a, surface_b)
          + w_cos*max(cosine(ctx_a, ctx_b), 0)
          + w_sense*[both assigned the same sense]
    ``is_match = score >= threshold``.

    A weight of exactly 0 short-circuits its term PHYSICALLY: the python
    UDF never enters the plan (no ArrowEvalPython node at all), so e.g. a
    sense-only config (``w_jw=0, w_cos=0, w_sense=1``) is pure JVM and —
    because 1.0*{0,1} is exact — SQL-oracle-replayable end-to-end (the
    ``er_clusters_derived`` driver oracle runs exactly that config).
    With the default weights the plan is bit-identical to the historical
    fixed-weight form (the leading 0.0 + x folds away for x >= 0).
    """
    e = (
        pairs.join(_side(assignments, "a"), on="id_a")
        .join(_side(assignments, "b"), on="id_b")
    )

    score = F.lit(0.0)
    if w_jw != 0.0:
        # JW runs unsplit: surface-equal pairs (the overwhelming majority
        # under surface-key blocking) short-circuit inside the python loop
        # itself (jaro() checks equality first), so a physical filter/union
        # split — which would double the upstream join — buys nothing.
        e = e.withColumn("jw", _jaro_winkler_udf("surface_a", "surface_b"))
        score = score + F.lit(w_jw) * F.col("jw")
    if w_cos != 0.0:
        score = score + F.lit(w_cos) * F.greatest(
            _context_cosine_udf("ctx_a", "ctx_b"), F.lit(0.0)
        )
    same_sense = (
        (F.col("decision_a") == "assigned")
        & (F.col("decision_b") == "assigned")
        & (F.col("sense_a") == F.col("sense_b"))
    ).cast("double")
    score = score + F.lit(w_sense) * same_sense
    return e.select(
        "id_a",
        "id_b",
        score.alias("score"),
        (score >= F.lit(threshold)).alias("is_match"),
    )
