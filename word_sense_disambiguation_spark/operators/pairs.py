"""Stage-2 pairwise scoring: candidate id pairs -> scored match edges.

The vectorized pair scorer the north star mandates: Jaro-Winkler on mention
surfaces (Arrow pandas UDF — Spark has no native JW), Levenshtein on
normalized surfaces (native ``F.levenshtein``, JVM-side), and batched
cosine over hashed context embeddings (pandas UDF over the whole Arrow
batch at once). Combination + threshold semantics mirror the reference's
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
        F.col("norm_surface").alias(f"norm_{suffix}"),
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
    ``is_match = score >= threshold``. Levenshtein on normalized surfaces is
    carried as a feature column (native, free) for downstream consumers.

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
        F.levenshtein("norm_a", "norm_b").alias("lev_norm"),
        score.alias("score"),
        (score >= F.lit(threshold)).alias("is_match"),
    )


def fellegi_sunter_scores(
    pairs: DataFrame,
    comparisons: list[dict],
    id_a: str = "id_a",
    id_b: str = "id_b",
    match_milli: int = 3000,
    review_milli: int = 0,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter 1969;
    the Splink/recordlinkage decision model) over a blocked pair table.

    Each comparison spec is ``{"name", "left", "right", "close", "w"}``:
    the pair's ``left``/``right`` columns are compared by Levenshtein
    distance into THREE agreement levels — exact (0), close
    (<= ``close``), different — and the level indexes the field's
    ``w = (w_exact, w_close, w_diff)`` log-likelihood weight, expressed
    in INTEGER MILLI-units of log2(m/u) exactly like the quality
    classifier's logits: the total is an exact BIGINT sum (association-
    free, hash-oracle-able), and the classic three-zone decision —
    ``match`` / ``possible`` (clerical review) / ``non_match`` — is an
    integer compare against ``match_milli`` / ``review_milli``. Output:
    ``(id_a, id_b, lvl_<field>..., total_milli, decision)``.

    The m/u weights are the injectable learned slot (Splink estimates
    them by EM); the defaults callers pass are engine-shaped priors, not
    estimates — same plumbing-real/model-injectable discipline as
    ``quality_classifier_scores`` and ``scorer_factory``.

    Scale shape: pure per-row codegen over an already-BLOCKED pair table
    (the caller owns blocking — never feed a cross join); zero shuffle,
    zero UDF, NULL-safe (a NULL side compares at the 'different' level
    via coalesce to the empty string... which also makes two NULLs
    'exact' — the standard missing-data caveat, documented rather than
    hidden). Levenshtein is JVM codegen here and built-in in DuckDB with
    identical semantics ON ASCII ONLY — Spark counts Unicode codepoints,
    DuckDB counts UTF-8 BYTES ('café'->'cafe' = 1 vs 2; same trap family
    as \\s vs WS_CLASS) — so any comparison column mirrored into a
    DuckDB oracle must be ASCII by construction; both behaviors are
    pinned by test. Reference parity
    anchor: the weighted multi-signal pair score + threshold decision of
    ``score_mention_pairs`` above, lifted to the canonical FS form.
    """
    out = pairs
    lvl_cols = []
    total = F.lit(0).cast("long")
    for spec in comparisons:
        lvl = _agreement_level(spec)
        name = f"lvl_{spec['name']}"
        out = out.withColumn(name, lvl)
        lvl_cols.append(name)
        w_exact, w_close, w_diff = (int(x) for x in spec["w"])
        total = total + (
            F.when(F.col(name) == 2, F.lit(w_exact))
            .when(F.col(name) == 1, F.lit(w_close))
            .otherwise(F.lit(w_diff))
            .cast("long")
        )
    out = out.withColumn("total_milli", total)
    return out.select(
        id_a,
        id_b,
        *lvl_cols,
        "total_milli",
        F.when(F.col("total_milli") >= match_milli, F.lit("match"))
        .when(F.col("total_milli") >= review_milli, F.lit("possible"))
        .otherwise(F.lit("non_match"))
        .alias("decision"),
    )


def _agreement_level(spec: dict):
    """Three-level Levenshtein agreement column for one comparison spec:
    2 = exact, 1 = close (<= spec['close']), 0 = different. NULL sides
    coalesce to '' (two NULLs compare exact — the documented FS
    missing-data caveat)."""
    lev = F.levenshtein(
        F.coalesce(F.col(spec["left"]), F.lit("")),
        F.coalesce(F.col(spec["right"]), F.lit("")),
    )
    return (
        F.when(lev == 0, F.lit(2))
        .when(lev <= int(spec["close"]), F.lit(1))
        .otherwise(F.lit(0))
    )


def fs_agreement_patterns(pairs: DataFrame, comparisons: list[dict]) -> DataFrame:
    """Contract a blocked pair table to its agreement-PATTERN counts: one
    partial-combined ``groupBy`` over the per-field three-level agreement
    vector -> ``(lvl_<field>..., n_pairs)``, at most ``3^F`` rows however
    many pairs went in. This contraction is the scale move that makes
    unsupervised weight estimation tractable (Splink's EM never touches
    pairs, only the tiny exact-integer pattern table).
    """
    lvls = [
        _agreement_level(s).alias(f"lvl_{s['name']}") for s in comparisons
    ]
    return (
        pairs.select(*lvls)
        .groupBy(*[f"lvl_{s['name']}" for s in comparisons])
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def fs_match_probability(
    pairs: DataFrame,
    comparisons: list[dict],
    lam: float = 0.1,
    threshold: float = 0.5,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Posterior match probability under the Fellegi-Sunter conditional-
    independence model: ``P(match | pattern) = lam*Πm / (lam*Πm +
    (1-lam)*Πu)`` — the probability decode Splink calls ``predict()``,
    over documented priors or ``m``/``u``/``lambda`` estimated elsewhere.

    Each comparison spec carries ``"m": (m_diff, m_close, m_exact)`` and
    ``"u": (u_diff, u_close, u_exact)`` probability literals indexed by
    the agreement level. The whole posterior is ONE fixed per-row IEEE
    expression — a left-associated product chain of CASE-selected
    literals, then a single ratio — so any engine that spells the same
    literals and parenthesization replays it bit-for-bit (the
    ``decode_probabilities`` float discipline, without needing dyadic
    inputs: literal parsing and each * / + / are correctly rounded
    everywhere). Pure codegen over blocked pairs: zero shuffle, zero
    UDF. ``is_match = p_match >= threshold`` (default 0.5, exact
    dyadic).

    Output: ``(id_a, id_b, lvl_<field>..., p_match, is_match)``.
    Reference parity anchor: the softmax->top-1 + threshold decision of
    /root/reference/wsd/word_sense_disambiguation.py:194-217, replayed
    here as the exact Bayes posterior of the linkage model.
    """
    out = pairs
    lvl_cols = []
    pm = f"CAST({lam!r} AS DOUBLE)"
    pu = f"(CAST(1.0 AS DOUBLE) - CAST({lam!r} AS DOUBLE))"
    for spec in comparisons:
        name = f"lvl_{spec['name']}"
        out = out.withColumn(name, _agreement_level(spec))
        lvl_cols.append(name)
        m0, m1, m2 = (float(x) for x in spec["m"])
        u0, u1, u2 = (float(x) for x in spec["u"])
        pm = (
            f"({pm} * CASE {name} WHEN 2 THEN CAST({m2!r} AS DOUBLE)"
            f" WHEN 1 THEN CAST({m1!r} AS DOUBLE)"
            f" ELSE CAST({m0!r} AS DOUBLE) END)"
        )
        pu = (
            f"({pu} * CASE {name} WHEN 2 THEN CAST({u2!r} AS DOUBLE)"
            f" WHEN 1 THEN CAST({u1!r} AS DOUBLE)"
            f" ELSE CAST({u0!r} AS DOUBLE) END)"
        )
    p = f"({pm} / ({pm} + {pu}))"
    return out.select(
        id_a,
        id_b,
        *lvl_cols,
        F.expr(p).alias("p_match"),
        F.expr(f"{p} >= CAST({float(threshold)!r} AS DOUBLE)").alias(
            "is_match"
        ),
    )


def mutual_best_match(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score",
    min_score=None,
) -> DataFrame:
    """One-to-one bipartite record linkage over a scored pair table: keep
    ``(a, b)`` iff b is a's highest-scoring candidate AND a is b's — the
    standard parallel relaxation of greedy one-to-one assignment (each
    survivor is a local optimum for BOTH sides; the truly-sequential
    greedy matching is inherently serial and does not exist at 10^12
    pairs). Classic use: deduplicating one source AGAINST another where
    each left record has at most one true right counterpart (customer
    file vs CRM, page vs canonical page).

    Scale shape: two partial-combined ``max_by`` AGGREGATES (one row out
    per distinct a / per distinct b — a hot record with 10^6 candidates
    contributes one combiner row per map partition), never a
    ``row_number`` window (which would sort-buffer the hot record's full
    candidate list in one task — the CDC ``latest_snapshot`` rule), then
    one equi-join of the two contracted best-tables on the (a, b)
    composite. Argmax tie rule is total and portable: highest score,
    then SMALLEST partner id (``min_by`` over ``(-score, partner)``) —
    callers feed integer scores (e.g. ``fellegi_sunter_scores``'
    ``total_milli``) when the result must hash-replay.

    ``min_score`` pre-filters candidates (an FS match threshold); rows
    where ``score_col`` is NULL never survive it (explicit predicate).
    Output: ``(id_a, id_b, score)`` — the mutual pairs only.

    Reference parity anchor: the per-mention argmax + threshold-reject
    decision of /root/reference/wsd/word_sense_disambiguation.py:194-217,
    applied symmetrically to both sides of a linkage.
    """
    p = pairs.select(
        F.col(id_a).alias("id_a"),
        F.col(id_b).alias("id_b"),
        F.col(score_col).alias("score"),
    )
    if min_score is not None:
        p = p.filter(F.col("score") >= F.lit(min_score))
    best_b = p.groupBy("id_a").agg(
        F.min_by(
            F.struct("id_b", "score"), F.struct(F.negate(F.col("score")), F.col("id_b"))
        ).alias("s")
    )
    best_a = p.groupBy("id_b").agg(
        F.min_by(
            F.struct("id_a", "score"), F.struct(F.negate(F.col("score")), F.col("id_a"))
        ).alias("s")
    )
    return (
        best_b.select("id_a", F.col("s.id_b").alias("id_b"), F.col("s.score").alias("score"))
        .join(
            best_a.select(F.col("s.id_a").alias("id_a"), "id_b"),
            on=["id_a", "id_b"],
        )
        .select("id_a", "id_b", "score")
    )
