"""Prompt-path scorer (T10-T12): batching equivalence, order preservation,
vector contract, and the full prompt-path pipeline against the gold F1 gate
(mirrors wsd/test_masked_language_model.py's equivalence properties)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from word_sense_disambiguation_spark.functions.letters import (
    NOTA_LETTER_INDEX,
    NUM_LETTERS,
    build_letters,
)
from word_sense_disambiguation_spark.operators.mlm_scorer import (
    load_scorer,
    score_prompts,
)
from word_sense_disambiguation_spark.plans.pipeline import (
    sense_assignments,
    sense_assignments_prompted,
)

PROMPT = """What is the meaning of *bank* in this sentence?

Sentence: I deposited money at the *bank* with a teller

A. bank as a matter of money deposit teller
B. bank as a matter of water shore mud

{nota}. none of the above

Answer: [unused0] [MASK]"""


def _prompt():
    nota = build_letters().letters[NOTA_LETTER_INDEX]
    return PROMPT.format(nota=nota)


def test_scorer_vector_contract():
    score = load_scorer()
    probs = score([_prompt()])[0]
    assert probs.shape == (NUM_LETTERS,)
    assert abs(probs.sum() - 1.0) < 1e-5
    # A overlaps (money, deposit, teller, bank) >> B
    assert probs[0] > probs[1] > 0
    assert probs[0] > probs[NOTA_LETTER_INDEX]


def test_scorer_nota_wins_on_zero_overlap():
    score = load_scorer()
    p = _prompt().replace("money deposit teller", "xq zq wq").replace(
        "water shore mud", "aq bq cq"
    ).replace("Sentence: I deposited money at the *bank* with a teller",
              "Sentence: totally unrelated *bank* gibberish")
    probs = score([p])[0]
    assert probs[NOTA_LETTER_INDEX] == probs.max()


def test_batch_equals_sequential():
    """Chunked/length-bucketed batch scoring == one-at-a-time scoring
    (reference wsd/test_masked_language_model.py:122-160)."""
    score = load_scorer()
    prompts = [
        _prompt().replace("I deposited", ("pad " * i) + "I deposited")
        for i in range(6)
    ]
    batch = score(prompts)
    for i, p in enumerate(prompts):
        single = score([p])[0]
        assert np.allclose(batch[i], single)


def test_score_prompts_order_and_parallelism(spark):
    prompts = [
        (f"m{i}", _prompt().replace("I deposited", ("pad " * (i % 5)) + "I deposited"))
        for i in range(40)
    ] + [("mnull", None)]
    df = spark.createDataFrame(prompts, schema="mention_id string, prompt string")
    one = score_prompts(df.coalesce(1)).select("mention_id", "probabilities").collect()
    many = score_prompts(df.repartition(7)).select("mention_id", "probabilities").collect()
    a = {r.mention_id: tuple(r.probabilities) for r in one}
    b = {r.mention_id: tuple(r.probabilities) for r in many}
    assert a == b
    assert a["mnull"] == tuple([0.0] * NUM_LETTERS)  # null prompt short-circuit


def test_prompt_path_matches_gold_and_columnar(spark, sworld):
    """The full prompt path (build prompts -> batched scorer -> decode)
    passes the same accuracy gate as the columnar Lesk path."""
    prompted = sense_assignments_prompted(sworld["pages"], sworld["senses"]).cache()
    gold = sworld["gold_pairs"]
    j = gold.join(
        prompted.select("url", "lemma", "pos", "decision", "pred_sense_id"),
        on=["url", "lemma", "pos"],
    )
    correct = F.when(F.col("is_nota"), F.col("decision") == "nota").otherwise(
        F.col("pred_sense_id") == F.col("gold_sense_id")
    )
    acc = j.agg(F.avg(F.coalesce(correct, F.lit(False)).cast("double"))).collect()[0][0]
    assert acc >= 0.99, acc

    # agreement with the columnar path on decisions
    columnar = sense_assignments(sworld["pages"], sworld["senses"])
    both = prompted.select(
        "mention_id", F.col("decision").alias("d1"), F.col("pred_sense_id").alias("p1")
    ).join(
        columnar.select(
            "mention_id", F.col("decision").alias("d2"),
            F.col("pred_sense_id").alias("p2"),
        ),
        on="mention_id",
    )
    n = both.count()
    agree = both.filter(
        (F.col("d1") == F.col("d2"))
        & (F.coalesce(F.col("p1"), F.lit("-")) == F.coalesce(F.col("p2"), F.lit("-")))
    ).count()
    assert agree / n >= 0.95, (agree, n)


def test_null_sense_id_row_is_no_definitions_on_both_paths(spark, sworld):
    """An inventory row with a NULL sense_id is not a sense: a mention whose
    only inventory rows carry one gets ``no_definitions`` from the columnar
    AND the prompted path (the prompted path used to collect it as a
    candidate and decode it as nota or as assigned with a null id)."""
    pages = sworld["pages"].orderBy("url").limit(10)
    lemma = (
        sense_assignments(pages, sworld["senses"])
        .filter(F.col("decision") == "assigned")
        .orderBy("mention_id")
        .first()["lemma"]
    )
    senses = sworld["senses"]
    hit = senses.filter(F.col("lemma") == lemma)
    senses = senses.filter(F.col("lemma") != lemma).unionByName(
        hit.withColumn("sense_id", F.lit(None).cast("string"))
    )

    for path in (sense_assignments, sense_assignments_prompted):
        rows = (
            path(pages, senses)
            .filter(F.col("lemma") == lemma)
            .select("decision", "pred_sense_id")
            .collect()
        )
        assert rows, path.__name__
        assert {(r.decision, r.pred_sense_id) for r in rows} == {
            ("no_definitions", None)
        }, path.__name__


def test_scorer_factory_swap_in(spark):
    """The model swap-in contract: a different scorer_factory (the
    ModernBERT slot) changes ONLY the probability content — batching,
    width, null-prompt short-circuit and decode semantics are untouched."""
    import pyspark.sql.functions as F

    from word_sense_disambiguation_spark.operators.mlm_scorer import (
        decode_probabilities,
        score_prompts,
    )

    def uniform_choice_scorer():
        # a structurally-different stand-in model: fixed mass on the
        # first two letters, nothing on NOTA — the shape a real
        # ModernBERT loader returns. A CLOSURE on purpose: cloudpickle
        # ships closures by value, exactly how a user-defined loader
        # travels to executors.
        import numpy as np

        from word_sense_disambiguation_spark.functions.letters import (
            NUM_LETTERS,
        )

        def score(prompts):
            m = np.zeros((len(prompts), NUM_LETTERS), dtype=np.float32)
            m[:, 0] = 0.75
            m[:, 1] = 0.25
            return m

        return score

    rows = [(f"m{i}", f"What is the meaning of *w*?\n\nSentence: s {i}") for i in range(7)]
    rows.append(("mnull", None))
    df = spark.createDataFrame(rows, schema="mention_id string, prompt string")
    scored = score_prompts(df, scorer_factory=uniform_choice_scorer).withColumn(
        "n_defs", F.lit(2)
    )
    out = {r.mention_id: r for r in decode_probabilities(scored).collect()}
    for i in range(7):
        r = out[f"m{i}"]
        assert len(r.probabilities) == 128
        assert r.choice_index == 0 and not r.is_nota_pred
        assert abs(r.confidence - 0.75) < 1e-6
    # null prompt short-circuits to the zero vector regardless of model
    assert sum(out["mnull"].probabilities) == 0.0


def test_dyadic_overlap_scorer_is_exact_and_parses_prompt():
    """The hash-gate scorer (r4 verdict #2): every probability is a
    multiple of 2^-6 (exact in float32 AND float64), the NOTA slot gets
    the fixed 1/64 prior, and per-choice mass equals the token-set
    overlap between each choice line and the Sentence line."""
    import numpy as np

    from word_sense_disambiguation_spark.functions.letters import (
        NOTA_LETTER_INDEX,
        build_letters,
    )
    from word_sense_disambiguation_spark.operators.mlm_scorer import (
        dyadic_overlap_scorer,
    )

    letters = build_letters().letters
    prompt = (
        "What is the meaning of *bank* in this sentence?\n\n"
        "Sentence: the *bank* of the river rose\n\n"
        f"{letters[0]}. bank of a river with water\n"
        f"{letters[1]}. bank holding money accounts\n"
        f"{letters[NOTA_LETTER_INDEX]}. none of the above\n\n"
        "Answer: [unused0] [MASK]"
    )
    score = dyadic_overlap_scorer()
    out = score([prompt, prompt])
    assert out.shape[1] == len(letters) and out.dtype == np.float32
    assert np.array_equal(out[0], out[1])  # deterministic
    # dyadic: 64 * p is an integer for every slot
    assert np.array_equal(out * 64, np.round(out * 64))
    # choice 0 tokens ∩ sentence = {bank, of, river} -> 3/64
    assert out[0, 0] == np.float32(3 / 64)
    # choice 1 tokens ∩ sentence = {bank} -> 1/64
    assert out[0, 1] == np.float32(1 / 64)
    assert out[0, NOTA_LETTER_INDEX] == np.float32(1 / 64)
    # all other slots untouched
    mask = np.ones(len(letters), dtype=bool)
    mask[[0, 1, NOTA_LETTER_INDEX]] = False
    assert not out[0, mask].any()
