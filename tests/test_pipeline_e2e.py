"""End-to-end correctness: the F1 >= 0.99 gate + extraction invariant +
decision-semantics fixtures (reference test layers 3-5, SURVEY §5)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from word_sense_disambiguation_spark.operators.evaluation import (
    accuracy,
    disjoint_split,
    pairwise_cluster_metrics,
    pairwise_f1,
)
from word_sense_disambiguation_spark.operators.tokenize import (
    mentions_from_pages,
    tokens_from_pages,
)
from word_sense_disambiguation_spark.plans.pipeline import sense_assignments


@pytest.fixture(scope="module")
def assignments(sworld):
    df = sense_assignments(sworld["pages"], sworld["senses"], use_html=True)
    df = df.cache()
    df.count()
    return df


def test_extraction_byte_identical(spark, sworld):
    """html -> text must equal the stored text column for every url."""
    from word_sense_disambiguation_spark.functions.text import extract_text

    rows = sworld["pages"].select("url", "html", "text").collect()
    assert rows
    for r in rows:
        assert extract_text(bytes(r["html"])) == r["text"], r["url"]


def test_tokens_match_reference_row_shape(sworld):
    toks = tokens_from_pages(sworld["pages"]).limit(50).collect()
    assert toks
    for t in toks:
        assert t.end_char - t.start_char == len(t.word)
        assert t.lemma == t.word.lower()


def test_mentions_have_contexts(sworld):
    m = mentions_from_pages(sworld["pages"])
    assert m.filter(F.col("n_context") > 0).count() > 0
    # deterministic mention ids
    assert m.select("mention_id").distinct().count() == m.count()


def test_sql_and_pandas_extractors_identical(spark, sworld):
    """The JVM fast-path extractor must be row-identical to the canonical
    pandas one — on the synthetic world AND on the driver documents."""
    from word_sense_disambiguation_spark.operators.tokenize import (
        mentions_from_pages_sql,
    )
    from word_sense_disambiguation_spark.sources.pages import pages_from_documents

    for pages in (
        sworld["pages"],
        pages_from_documents(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        ),
    ):
        a = mentions_from_pages(pages)
        b = mentions_from_pages_sql(pages)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_sql_and_pandas_extractors_identical_non_ascii(spark):
    """Row identity must survive non-ASCII letters and exotic whitespace —
    testdata is pure ASCII so only a synthetic case can catch drift between
    python's Unicode-aware classes and Java's ASCII ones."""
    from word_sense_disambiguation_spark.operators.tokenize import (
        mentions_from_pages_sql,
    )

    texts = [
        "the café é served espresso to loyal visitors daily.",
        "café menu listed sñack and straße options. plain words too.",
        "emoji \U0001f600 and cjk 中文 mixed with normal mention words.",
        "hard space and em space still tokenize identically.",
        # Java-\v trap codepoints: NEL / LINE SEPARATOR / PARA SEPARATOR are
        # vertical whitespace to Java's \v but single PUNCT tokens to Python
        # re and RE2 — TOKEN_PATTERN must spell \x0B, not \v, so all engines
        # classify them identically.
        "nelseparated words stay mentions. more text follows here.",
        "line sep and para sep both tokenize as punct marks.",
        "vtab\x0bchar is real whitespace in every engine. final words.",
    ]
    pages = spark.createDataFrame(
        [(f"u{i}", None, None, t, "en") for i, t in enumerate(texts)],
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    a = mentions_from_pages(pages)
    b = mentions_from_pages_sql(pages)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # non-ASCII-leading tokens are PUNCT in both paths: never mentions
    assert a.filter(F.col("surface") == "é").count() == 0


def test_long_document_sentence_ids_linear(spark):
    """A 100k-token outlier page must process in near-linear time: the
    sentence-id construction is run-length expansion over dot positions
    (O(T)), not the per-token slice/filter count (O(T^2) — ~10^10 lambda
    evals at this size, minutes of wall). The bound is generous (60s vs
    ~1.5s measured) so host noise can't flake it, but quadratic cannot
    pass. Also asserts the ids themselves are right on the same page."""
    import time

    from word_sense_disambiguation_spark.operators.tokenize import (
        mentions_from_pages_sql,
    )

    n_sents = 20_000  # 5 tokens/sentence -> 100k tokens
    body = " ".join(f"word{i} and token here." for i in range(n_sents))
    big = spark.createDataFrame(
        [("big", None, None, body, "en")],
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    t0 = time.monotonic()
    m = mentions_from_pages_sql(big)
    rows = m.groupBy("sentence_id").count().count()
    assert time.monotonic() - t0 < 60
    assert rows == n_sents  # every sentence contributes >=1 mention
    last = m.agg(F.max("sentence_id")).collect()[0][0]
    assert last == n_sents - 1


def test_accuracy_and_f1_gate(assignments, sworld):
    acc = accuracy(assignments, sworld["gold_pairs"]).collect()[0]
    assert acc.n_examples > 50
    assert acc.accuracy >= 0.99, acc

    f1 = pairwise_f1(assignments, sworld["gold_pairs"]).collect()[0]
    assert f1.n_pairs > 100
    assert f1.f1 >= 0.99, f1


def test_decision_semantics(assignments, sworld):
    """NOTA and empty-candidate sentinel semantics match the reference
    (wsd/word_sense_disambiguation.py:194-217, 250-257)."""
    rows = assignments.collect()
    by_decision = {}
    for r in rows:
        by_decision.setdefault(r.decision, []).append(r)
    # all three paths exercised by the fixture
    assert set(by_decision) == {"assigned", "nota", "no_definitions"}
    for r in by_decision["assigned"]:
        assert r.pred_sense_id is not None
        assert 0.0 < r.confidence <= 1.0
    for r in by_decision["nota"]:
        assert r.pred_sense_id is None
        assert r.pred_definition == "none of the above"
        assert 0.0 < r.confidence <= 1.0
    for r in by_decision["no_definitions"]:
        assert r.pred_sense_id is None
        assert r.confidence == 0.0


def test_confidence_renormalized(assignments):
    """Confidence is winner/total over (candidates + reject slot) — always
    in (0, 1] and <1 when other candidates scored > 0."""
    bad = assignments.filter(
        (F.col("confidence") < 0) | (F.col("confidence") > 1)
    ).count()
    assert bad == 0


def test_disjoint_split_group_integrity(sworld):
    gold = sworld["gold_pairs"].filter(F.col("gold_sense_id").isNotNull())
    split = disjoint_split(gold, key="gold_sense_id", n_buckets=3, seed=42)
    leaks = (
        split.groupBy("gold_sense_id")
        .agg(F.countDistinct("bucket").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert leaks == 0


def test_parallelism_invariance(spark, world):
    """local[1]-style vs default-parallelism results are identical — the
    Spark analogue of the reference's batch==sequential property
    (wsd/test_masked_language_model.py:122-160)."""
    from word_sense_disambiguation_spark.datagen import world_to_spark

    sw = world_to_spark(spark, world)
    one = sense_assignments(
        sw["pages"].coalesce(1), sw["senses"]
    )
    many = sense_assignments(
        sw["pages"].repartition(7), sw["senses"]
    )
    cols = ["mention_id", "decision", "pred_sense_id"]
    assert one.select(cols).exceptAll(many.select(cols)).count() == 0
    assert many.select(cols).exceptAll(one.select(cols)).count() == 0


def test_pairwise_cluster_metrics_hand_example(spark):
    """Hand-computable contingency: pred A={1,2,3} B={4,5} C={6} vs gold
    X={1,2,4} Y={3,5,6} -> SP=4, SG=6, TP=1 (the (A,X) cell), so
    FP=3, FN=5, P=1/4, R=1/6, F1=2/10."""
    rows = [("A", "X"), ("A", "X"), ("A", "Y"),
            ("B", "X"), ("B", "Y"), ("C", "Y")]
    df = spark.createDataFrame(rows, "pred string, gold string")
    out = pairwise_cluster_metrics(df, materialize=False).collect()[0]
    assert (out.n_records, out.tp_pairs, out.fp_pairs, out.fn_pairs) == (
        6, 1, 3, 5)
    assert out.precision_pw == 0.25
    assert out.recall_pw == 2.0 / 12.0
    assert out.f1_pw == 0.2
    # ARI from the doubled counts (t2=30, tp2=2, sp2=8, sg2=12), same
    # IEEE expression tree the engine evaluates
    td = 6.0 * (6.0 - 1.0)
    assert out.adjusted_rand == (
        2.0 * (td * 2.0 - 8.0 * 12.0)
    ) / (td * (8.0 + 12.0) - 2.0 * 8.0 * 12.0)


def test_pairwise_cluster_metrics_perfect_and_invariance(spark):
    """A prediction identical to gold scores exactly 1.0 on all three,
    and the metric is partitioning-invariant (materialized or lazy)."""
    rows = [("A", "X")] * 2 + [("B", "Y")] * 3 + [("C", "Z")]
    df = spark.createDataFrame(rows, "pred string, gold string")
    out = pairwise_cluster_metrics(df, materialize=False).collect()[0]
    assert (out.tp_pairs, out.fp_pairs, out.fn_pairs) == (4, 0, 0)
    assert out.precision_pw == 1.0 == out.recall_pw == out.f1_pw
    assert out.adjusted_rand == 1.0
    lazy = pairwise_cluster_metrics(
        df.repartition(7), materialize=False
    ).collect()[0]
    mat = pairwise_cluster_metrics(df.coalesce(1), materialize=True).collect()[0]
    assert lazy == out == mat


def test_b_cubed_hand_example(spark):
    """Same contingency as the pairwise hand example. Exact fractions:
    B3P = (4/3 + 1/3 + 1/2 + 1/2 + 1)/6 = 11/18, B3R = (4/3 + 4*1/3)/6
    = 4/9. The operator's scaled-DIV integer arithmetic is mirrored here
    exactly, and bounded against the true fractions by 1/scale per
    record."""
    from word_sense_disambiguation_spark.operators.evaluation import (
        b_cubed_metrics,
    )

    rows = [("A", "X"), ("A", "X"), ("A", "Y"),
            ("B", "X"), ("B", "Y"), ("C", "Y")]
    df = spark.createDataFrame(rows, "pred string, gold string")
    out = b_cubed_metrics(df, materialize=False).collect()[0]
    S = 1_000_000_000
    # cells (c, np, ng): (A,X):(2,3,3) (A,Y):(1,3,3) (B,X):(1,2,3)
    # (B,Y):(1,2,3) (C,Y):(1,1,3)
    cells = [(2, 3, 3), (1, 3, 3), (1, 2, 3), (1, 2, 3), (1, 1, 3)]
    p_num = sum((c * S // n_p) * c for c, n_p, _ in cells)
    r_num = sum((c * S // n_g) * c for c, _, n_g in cells)
    exp_p = p_num / (6.0 * S)
    exp_r = r_num / (6.0 * S)
    assert out.n_records == 6
    assert out.b3_precision == exp_p
    assert out.b3_recall == exp_r
    assert out.b3_f1 == (2.0 * exp_p * exp_r) / (exp_p + exp_r)
    assert abs(out.b3_precision - 11.0 / 18.0) < 1.0 / S
    assert abs(out.b3_recall - 4.0 / 9.0) < 1.0 / S


def test_b_cubed_perfect_and_invariance(spark):
    """Perfect clustering is EXACTLY 1.0 on all three (c == n makes the
    scaled quotient exactly `scale` — no truncation), and the integer
    sums make the metric bit-identical across partitionings and the
    materialize flag."""
    from word_sense_disambiguation_spark.operators.evaluation import (
        b_cubed_metrics,
    )

    rows = [("A", "X")] * 2 + [("B", "Y")] * 3 + [("C", "Z")]
    df = spark.createDataFrame(rows, "pred string, gold string")
    out = b_cubed_metrics(df, materialize=False).collect()[0]
    assert out.b3_precision == 1.0 == out.b3_recall == out.b3_f1
    lazy = b_cubed_metrics(df.repartition(7), materialize=False).collect()[0]
    mat = b_cubed_metrics(df.coalesce(1), materialize=True).collect()[0]
    assert lazy == out == mat
    # mega-cluster sanity: everything merged into one predicted cluster
    # keeps R = 1 but P = mean class share — (2*2 + 3*3 + 1)/6/6 = 14/36
    one = df.select(F.lit("ALL").alias("pred"), "gold")
    m = b_cubed_metrics(one, materialize=False).collect()[0]
    assert m.b3_recall == 1.0
    assert abs(m.b3_precision - 14.0 / 36.0) < 1e-9


def test_b_cubed_no_window_no_cartesian(spark):
    """The metric is aggregate+contracted-join shaped: no Window, no
    cartesian product anywhere in the physical plan."""
    from word_sense_disambiguation_spark.operators.evaluation import (
        b_cubed_metrics,
    )

    rows = [("A", "X")] * 4 + [("B", "Y")] * 4
    df = spark.createDataFrame(rows, "pred string, gold string")
    plan = (
        b_cubed_metrics(df, materialize=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_pairwise_cluster_metrics_no_pair_join(spark):
    """The metric must come from cluster-size combinatorics, never a pair
    self-join: the only joins in the plan are the 1-row scalar combines
    (BroadcastNestedLoop over single-row aggregates) — no SortMergeJoin,
    no shuffled hash join, no cartesian over the input."""
    rows = [("A", "X")] * 4 + [("B", "Y")] * 4
    df = spark.createDataFrame(rows, "pred string, gold string")
    plan = (
        pairwise_cluster_metrics(df, materialize=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
