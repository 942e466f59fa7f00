"""Evaluation aggregates: accuracy, pairwise F1, disjoint splits.

Re-expresses the reference's benchmark loop
(``/root/reference/wsd/benchmark.py:85-143``): prediction correct iff
predicted sense id equals gold at the same blocking key — as one join +
aggregate. The pairwise-F1 form (the north rule's >=0.99 gate) treats two
labeled mentions at the same blocking key as a *match pair* iff they carry
the same gold sense; predictions match iff both assigned the same sense.

Also the synset-disjoint eval/benchmark split of
``/root/reference/training/wn_data.py:15-39`` as a deterministic
portable-hash partition (no driver-side shuffle of group keys needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _predictions_for_gold(assignments: DataFrame, gold: DataFrame) -> DataFrame:
    """Join gold mentions to pipeline predictions on ``(url, lemma)``.

    The generator plants at most one mention per (url, lemma), so this is a
    1:1 equi-join; the positional bookkeeping the reference needs
    (``...py:343-354``) disappears in the relational form.
    """
    pred = assignments.select(
        "url", "lemma", "pos", "decision", "pred_sense_id", "confidence"
    )
    return gold.join(pred, on=["url", "lemma", "pos"], how="left")


def accuracy(assignments: DataFrame, gold: DataFrame) -> DataFrame:
    """Mention-level accuracy (reference's benchmark metric)."""
    j = _predictions_for_gold(assignments, gold)
    correct = F.when(
        F.col("is_nota"), F.col("decision") == F.lit("nota")
    ).otherwise(F.col("pred_sense_id") == F.col("gold_sense_id"))
    return j.agg(
        F.count("*").alias("n_examples"),
        F.sum(F.coalesce(correct, F.lit(False)).cast("int")).alias("n_correct"),
        F.avg(F.coalesce(correct, F.lit(False)).cast("double")).alias("accuracy"),
    )


def pairwise_f1(assignments: DataFrame, gold: DataFrame) -> DataFrame:
    """Pairwise-match F1 over labeled mention pairs at the same blocking key.

    Pairs = gold mentions sharing ``(lemma, pos)`` with ``pair_id_a <
    pair_id_b``. Gold match = same non-null gold sense; predicted match =
    both assigned the same sense. Returns one row:
    (tp, fp, fn, precision, recall, f1, n_pairs).

    The self-join is keyed on the blocking key, exactly like the production
    pair generation — so the metric measures the same decision surface the
    pipeline actually exposes at scale.
    """
    p = _predictions_for_gold(assignments, gold).select(
        "pair_id", "lemma", "pos", "gold_sense_id", "is_nota",
        "decision", "pred_sense_id",
    )
    a = p.alias("a")
    b = p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lemma") == F.col("b.lemma"))
        & (F.col("a.pos") == F.col("b.pos"))
        & (F.col("a.pair_id") < F.col("b.pair_id")),
    )
    gold_match = (
        ~F.col("a.is_nota")
        & ~F.col("b.is_nota")
        & (F.col("a.gold_sense_id") == F.col("b.gold_sense_id"))
    )
    pred_match = (
        (F.col("a.decision") == "assigned")
        & (F.col("b.decision") == "assigned")
        & (F.col("a.pred_sense_id") == F.col("b.pred_sense_id"))
    )
    agg = pairs.agg(
        F.sum((gold_match & pred_match).cast("long")).alias("tp"),
        F.sum((~gold_match & pred_match).cast("long")).alias("fp"),
        F.sum((gold_match & ~pred_match).cast("long")).alias("fn"),
        F.count("*").alias("n_pairs"),
    )
    return agg.select(
        "tp", "fp", "fn", "n_pairs",
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))).alias("precision"),
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))).alias("recall"),
        (
            2 * F.col("tp")
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1))
        ).alias("f1"),
    )


def pairwise_cluster_metrics(
    labeled: DataFrame,
    pred_col: str = "pred",
    gold_col: str = "gold",
    materialize: bool = True,
) -> DataFrame:
    """Pairwise precision/recall/F1 of a predicted clustering vs gold labels,
    from cluster-size combinatorics — NEVER by materializing pairs.

    ``pairwise_f1`` above self-joins on the blocking key (fine for a labeled
    eval sample); this is the form that survives 10^12 records: one
    partial-combined ``groupBy(pred, gold)`` contracts the input to its
    contingency cells, and every pair count is a sum of C(n,2) terms over
    those cells —

    * pairs predicted together  SP = sum over pred clusters of C(n_p, 2)
    * pairs gold together       SG = sum over gold classes   of C(n_g, 2)
    * true-positive pairs       TP = sum over (pred, gold) cells of C(c, 2)
    * FP = SP - TP, FN = SG - TP

    so the shuffled volume is one row per record (map-side combined) and the
    three follow-up aggregates run on the tiny cell table. All counts are
    BIGINT-exact (the doubled forms ``c*(c-1)`` halve evenly by
    construction); precision/recall/F1 are each ONE IEEE division of exact
    integers (tp2/sp2, tp2/sg2, 2*tp2/(sp2+sg2)) so any engine replays them
    bit-for-bit. Denominator 0 -> NULL (explicit CASE on both engines).

    ``materialize=True`` eagerly localCheckpoints the contracted cell table
    before fanning it out to the three aggregates (the multi-consumer rule:
    without it, one action recomputes the caller's — possibly very
    expensive — upstream once per branch; the cells are tiny, the upstream
    is not). Pass ``False`` to stay fully lazy when composing plans.

    Reference parity anchor: the prediction-equality match rule of
    /root/reference/wsd/benchmark.py:126, lifted from mention-level accuracy
    to the clustering's pair decision surface (Menestrina et al.'s pairwise
    merge distance family).
    """
    cells = labeled.groupBy(
        F.col(pred_col).alias("pred"), F.col(gold_col).alias("gold")
    ).agg(F.count("*").cast("long").alias("c"))
    if materialize:
        cells = cells.localCheckpoint(eager=True)
    tot = cells.agg(
        F.sum("c").cast("long").alias("n_records"),
        F.sum(F.col("c") * (F.col("c") - F.lit(1))).cast("long").alias("tp2"),
    )
    sp = (
        cells.groupBy("pred")
        .agg(F.sum("c").cast("long").alias("np"))
        .agg(F.sum(F.col("np") * (F.col("np") - F.lit(1))).cast("long").alias("sp2"))
    )
    sg = (
        cells.groupBy("gold")
        .agg(F.sum("c").cast("long").alias("ng"))
        .agg(F.sum(F.col("ng") * (F.col("ng") - F.lit(1))).cast("long").alias("sg2"))
    )
    return (
        tot.crossJoin(sp)
        .crossJoin(sg)
        .select(
            "n_records",
            F.expr("tp2 DIV 2").alias("tp_pairs"),
            F.expr("(sp2 - tp2) DIV 2").alias("fp_pairs"),
            F.expr("(sg2 - tp2) DIV 2").alias("fn_pairs"),
            F.expr(
                "CASE WHEN sp2 = 0 THEN CAST(NULL AS DOUBLE)"
                " ELSE CAST(tp2 AS DOUBLE) / CAST(sp2 AS DOUBLE) END"
            ).alias("precision_pw"),
            F.expr(
                "CASE WHEN sg2 = 0 THEN CAST(NULL AS DOUBLE)"
                " ELSE CAST(tp2 AS DOUBLE) / CAST(sg2 AS DOUBLE) END"
            ).alias("recall_pw"),
            F.expr(
                "CASE WHEN sp2 + sg2 = 0 THEN CAST(NULL AS DOUBLE)"
                " ELSE CAST(2 * tp2 AS DOUBLE) / CAST(sp2 + sg2 AS DOUBLE) END"
            ).alias("f1_pw"),
            # Adjusted Rand Index from the same doubled pair counts:
            #   ARI = (TP - SP*SG/T) / ((SP+SG)/2 - SP*SG/T),  T = C(n,2)
            # in doubled form 2*(t2*tp2 - sp2*sg2) / (t2*(sp2+sg2) - 2*sp2*sg2).
            # The products overflow BIGINT near n ~ 10^6 clustered pairs, so
            # every input converts to DOUBLE FIRST and the tree below is a
            # fixed IEEE expression — deterministic and engine-portable as
            # long as the oracle spells the identical parenthesization
            # (floats only diverge across engines under reassociation or
            # aggregation-order changes; there is neither here).
            F.expr(
                "CASE WHEN CAST(n_records AS DOUBLE) * (CAST(n_records AS DOUBLE) - 1.0D)"
                "            * (CAST(sp2 AS DOUBLE) + CAST(sg2 AS DOUBLE))"
                "          - 2.0D * CAST(sp2 AS DOUBLE) * CAST(sg2 AS DOUBLE) = 0.0D"
                " THEN CAST(NULL AS DOUBLE)"
                " ELSE (2.0D * (CAST(n_records AS DOUBLE) * (CAST(n_records AS DOUBLE) - 1.0D)"
                "                 * CAST(tp2 AS DOUBLE)"
                "               - CAST(sp2 AS DOUBLE) * CAST(sg2 AS DOUBLE)))"
                "      / (CAST(n_records AS DOUBLE) * (CAST(n_records AS DOUBLE) - 1.0D)"
                "           * (CAST(sp2 AS DOUBLE) + CAST(sg2 AS DOUBLE))"
                "         - 2.0D * CAST(sp2 AS DOUBLE) * CAST(sg2 AS DOUBLE)) END"
            ).alias("adjusted_rand"),
        )
    )


def b_cubed_metrics(
    labeled: DataFrame,
    pred_col: str = "pred",
    gold_col: str = "gold",
    materialize: bool = True,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) of a predicted
    clustering vs gold labels — the per-MENTION complement to
    ``pairwise_cluster_metrics``' per-PAIR view (B³ weights every record
    equally, so a mega-cluster can't dominate the score the way it
    dominates pair counts; Amigó et al. 2009 showed it is the member of
    this metric family that satisfies all four clustering-metric axioms).

    Per record m in predicted cluster C with gold class L:
    ``precision(m) = |C ∩ L| / |C|``, ``recall(m) = |C ∩ L| / |L|``;
    B³P / B³R are the means over records. Grouped by contingency cell
    that is ``Σ_cells c²/n_p / N`` and ``Σ_cells c²/n_g / N`` — so like
    the pairwise form it needs ONE partial-combined ``groupBy(pred,
    gold)`` over the input and everything downstream runs on the tiny
    cell table (joined to the even tinier per-cluster / per-class size
    tables; no pair materialization, no window).

    Portability discipline (the ``distinctive_terms`` scaled-DIV trick,
    not a float sum): a sum of per-cell IEEE quotients would depend on
    aggregation order, so each cell contributes the INTEGER
    ``c * ((c * scale) DIV n)`` instead — exact, associative, engine-
    portable — summed as DECIMAL(38,0) (overflow designed out; the
    BIGINT per-cell product needs ``c * scale < 2^63``, i.e. cells up to
    ~9.2e9 records at the default milli-micro scale — lower ``scale``
    beyond that). Each output metric is then a single fixed-shape IEEE
    expression over exact integers (one division for P and R; the F1
    harmonic mean spells its parenthesization, mirrored in the oracle).
    Per-record truncation error is < 1/scale (1e-9 default). Empty input
    -> one row of NULL metrics (explicit CASE, never a crash).

    ``materialize`` eagerly localCheckpoints the contracted cells before
    the 3-consumer fan-out (same multi-consumer rule as
    ``pairwise_cluster_metrics``). Reference parity anchor: the
    prediction-equality match rule of /root/reference/wsd/benchmark.py:126
    lifted to the per-mention B³ surface.
    """
    scale = int(scale)
    cells = labeled.groupBy(
        F.col(pred_col).alias("pred"), F.col(gold_col).alias("gold")
    ).agg(F.count("*").cast("long").alias("c"))
    if materialize:
        cells = cells.localCheckpoint(eager=True)
    np_tbl = cells.groupBy("pred").agg(F.sum("c").cast("long").alias("np"))
    ng_tbl = cells.groupBy("gold").agg(F.sum("c").cast("long").alias("ng"))
    j = cells.join(np_tbl, on="pred").join(ng_tbl, on="gold")
    agg = j.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_records"),
        F.sum(
            F.expr(f"CAST((c * {scale}L DIV np) * c AS DECIMAL(38,0))")
        ).alias("p_num"),
        F.sum(
            F.expr(f"CAST((c * {scale}L DIV ng) * c AS DECIMAL(38,0))")
        ).alias("r_num"),
    )
    prec = (
        f"CAST(p_num AS DOUBLE)"
        f" / (CAST(n_records AS DOUBLE) * CAST({scale}L AS DOUBLE))"
    )
    rec = (
        f"CAST(r_num AS DOUBLE)"
        f" / (CAST(n_records AS DOUBLE) * CAST({scale}L AS DOUBLE))"
    )
    return agg.select(
        "n_records",
        F.expr(
            f"CASE WHEN n_records = 0 THEN CAST(NULL AS DOUBLE)"
            f" ELSE {prec} END"
        ).alias("b3_precision"),
        F.expr(
            f"CASE WHEN n_records = 0 THEN CAST(NULL AS DOUBLE)"
            f" ELSE {rec} END"
        ).alias("b3_recall"),
        # harmonic mean of the two quotients above, spelled as ONE fixed
        # IEEE tree (2*P*R/(P+R)) so the oracle replays it bit-for-bit;
        # P+R = 0 (both-empty-overlap is impossible here since every
        # cell has c >= 1, but spelled anyway) and empty input -> NULL.
        F.expr(
            f"CASE WHEN n_records = 0 OR ({prec}) + ({rec}) = 0.0D"
            f" THEN CAST(NULL AS DOUBLE)"
            f" ELSE (2.0D * ({prec}) * ({rec})) / (({prec}) + ({rec})) END"
        ).alias("b3_f1"),
    )


def eval_examples_from_corpus(
    corpus: DataFrame,
    senses: DataFrame,
    gold_col: str = "gold_sense_id",
    max_definitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Labeled corpus (WordNetExample shape) + inventory -> MC eval prompts.

    The Spark form of ``build_eval_examples_from_wn``
    (``/root/reference/training/train.py:258-306``): per example, the
    candidate definitions for ``(lemma, pos)`` arrive in rank order via ONE
    broadcast join (adjective a->{a,s} expansion folded into the dim key,
    like inference); the correct answer sits at the letter matching the
    gold sense's index; offset 0 (eval never spreads letters). The
    reference silently ``continue``s on gold-not-found / over-budget rows —
    this engine returns them as a ``skipped`` side table with a reason
    column instead (no silent caps). Output: ``(kept, skipped)``.
    """
    from word_sense_disambiguation_spark.functions.letters import (
        NOTA_LETTER_INDEX,
        build_letters,
    )
    from word_sense_disambiguation_spark.operators.candidates import prepare_senses
    from word_sense_disambiguation_spark.operators.prompts import build_prompts

    budget = max_definitions if max_definitions is not None else NOTA_LETTER_INDEX
    dim = prepare_senses(senses)
    grouped = (
        dim.groupBy("s_lemma", "join_pos")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sense_rank", "sense_id", "sense_definition"))
            ).alias("cands")
        )
        .withColumn("definitions", F.transform("cands", lambda c: c["sense_definition"]))
        .withColumn("sense_ids", F.transform("cands", lambda c: c["sense_id"]))
        .drop("cands")
    )
    joined = corpus.join(
        F.broadcast(grouped),
        (corpus["lemma"] == grouped["s_lemma"])
        & (corpus["pos"] == grouped["join_pos"]),
        "left",
    ).drop("s_lemma", "join_pos")
    correct_pos = F.array_position(F.col("sense_ids"), F.col(gold_col))  # 1-based
    skip = F.when(
        F.col("sense_ids").isNull() | (F.coalesce(correct_pos, F.lit(0)) == 0),
        F.lit("gold_not_in_inventory"),
    ).when(F.size("sense_ids") > budget, F.lit("over_letter_budget"))
    tagged = joined.withColumn("skip_reason", skip)
    skipped = tagged.filter(F.col("skip_reason").isNotNull()).select(
        *corpus.columns, "skip_reason"
    )

    letters = build_letters()
    letters_col = F.array(*[F.lit(c) for c in letters.letters])
    kept = (
        tagged.filter(F.col("skip_reason").isNull())
        .withColumn("correct_letter_index", (correct_pos - 1).cast("int"))
        .withColumn("correct_letter", F.element_at(letters_col, correct_pos.cast("int")))
        .withColumn("n_defs", F.size("definitions"))
    )
    prompted = build_prompts(
        kept,
        word_col="word_form",
        sentence_col="marked_text",
        defs_col="definitions",
    )
    return (
        prompted.select(
            F.col("word_form").alias("word"),
            "sentence",
            F.col("marked_text").alias("marked_sentence"),
            F.col(gold_col).alias("correct_sense_id"),
            "correct_letter_index",
            "correct_letter",
            "n_defs",
            "sense_ids",
            "prompt",
        ),
        skipped,
    )


def disjoint_split(
    examples: DataFrame, key: str = "gold_sense_id", n_buckets: int = 5, seed: int = 42
) -> DataFrame:
    """Group-disjoint split: every row of a ``key`` group lands in the same
    bucket (semantics of ``training/wn_data.py:15-39``), via a portable
    md5 hash (same value in Spark and DuckDB — used by the oracle check)."""
    h = F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(key))), 1, 8), 16, 10)
    return examples.withColumn("bucket", (h.cast("long") % n_buckets).cast("int"))
