"""Blocking recall/determinism + pairwise scorer + full ER stage chain."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from word_sense_disambiguation_spark.functions.hashing import (
    char_shingles,
    minhash_signature,
)
from word_sense_disambiguation_spark.functions.similarity import (
    jaro_winkler,
    levenshtein,
)
from word_sense_disambiguation_spark.operators.blocking import (
    minhash_lsh_pairs,
    surface_key_pairs,
)
from word_sense_disambiguation_spark.operators.clustering import cluster_mentions
from word_sense_disambiguation_spark.operators.pairs import score_mention_pairs
from word_sense_disambiguation_spark.operators.tokenize import mentions_from_pages
from word_sense_disambiguation_spark.plans.checkpoint import run_er_pipeline
from word_sense_disambiguation_spark.plans.pipeline import sense_assignments


def test_similarity_functions_match_duckdb():
    """Our JW/levenshtein must agree with the DuckDB oracle's definitions."""
    import duckdb

    cases = [("martha", "marhta"), ("bank", "bonk"), ("", "abc"), ("same", "same")]
    for a, b in cases:
        d_jw, d_lev = duckdb.sql(
            "select jaro_winkler_similarity(?, ?), levenshtein(?, ?)",
            params=[a, b, a, b],
        ).fetchone()
        assert abs(jaro_winkler(a, b) - d_jw) < 1e-9, (a, b)
        assert levenshtein(a, b) == d_lev, (a, b)


def test_minhash_signature_deterministic_and_similarity_preserving():
    s1 = minhash_signature(char_shingles("the quick brown fox jumps"), 128)
    s2 = minhash_signature(char_shingles("the quick brown fox jumps"), 128)
    assert (s1 == s2).all()
    near = minhash_signature(char_shingles("the quick brown fox jumped"), 128)
    far = minhash_signature(char_shingles("completely different words here"), 128)
    sim_near = (s1 == near).mean()
    sim_far = (s1 == far).mean()
    assert sim_near > 0.6 > sim_far


def test_lsh_recall_on_planted_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    # 10 planted near-dup pairs + 30 distinct docs
    for i in range(10):
        rows.append((2 * i, base + f" variant {i}"))
        rows.append((2 * i + 1, base + f" variatn {i}"))
    for i in range(30):
        rows.append((100 + i, f"document number {i} " + " ".join(f"tok{i}_{j}" for j in range(12))))
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    pairs, oversized = minhash_lsh_pairs(df, "doc_id", "text")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(10)}
    recall = len(got & planted) / len(planted)
    assert recall == 1.0
    # distinct docs should produce (almost) no candidates among themselves
    false_pairs = [p for p in got if p[0] >= 100 and p[1] >= 100]
    assert len(false_pairs) == 0


def test_surface_blocking_skew_cap(spark, sworld):
    mentions = mentions_from_pages(sworld["pages"])
    pairs, oversized = surface_key_pairs(mentions, max_block_size=10)
    # the hot template words must land in the oversized side, not the pairs
    over_keys = {r.norm_surface for r in oversized.collect()}
    assert len(over_keys) > 0
    ok = pairs.join(
        spark.createDataFrame([(k,) for k in over_keys], "norm_surface string"),
        on="norm_surface",
        how="inner",
    ).count()
    assert ok == 0
    # pairs are canonical and unique
    assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0


@pytest.fixture(scope="module")
def er_outputs(spark, sworld, tmp_path_factory):
    out = run_er_pipeline(
        spark,
        sworld["pages"],
        sworld["senses"],
        str(tmp_path_factory.mktemp("er_gate")),
    )
    return out["assignments"], out["edges"], out["clusters"]


def test_er_pairwise_f1_gate(spark, sworld, er_outputs):
    """The north-rule gate on the ER job's *clustered* output: pairs of
    labeled mentions are predicted-matched iff they share a canonical
    entity_id. A mention with no cluster row (it touched no edge) is its
    own entity, the attach path's convention."""
    assignments, _edges, clusters = er_outputs
    gold = sworld["gold_pairs"]
    mid = assignments.select("url", "lemma", "pos", "mention_id")
    g = (
        gold.join(mid, on=["url", "lemma", "pos"])
        .join(clusters, on="mention_id", how="left")
        .select(
            "pair_id", "lemma", "pos", "gold_sense_id", "is_nota",
            F.coalesce("entity_id", "mention_id").alias("entity_id"),
        )
    )
    a, b = g.alias("a"), g.alias("b")
    p = a.join(
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
    pred_match = F.col("a.entity_id") == F.col("b.entity_id")
    r = p.agg(
        F.sum((gold_match & pred_match).cast("long")).alias("tp"),
        F.sum((~gold_match & pred_match).cast("long")).alias("fp"),
        F.sum((gold_match & ~pred_match).cast("long")).alias("fn"),
        F.sum((~gold_match & ~pred_match).cast("long")).alias("tn"),
        F.count("*").alias("n"),
    ).collect()[0]
    # every labeled pair lands in exactly one cell: a NULL on either side
    # would drop it from all four without a trace
    assert r.tp + r.fp + r.fn + r.tn == r.n, r
    f1 = 2 * r.tp / max(2 * r.tp + r.fp + r.fn, 1)
    assert r.n > 100
    assert f1 >= 0.99, r


def test_oversized_block_star_recovery(spark):
    """A block exceeding max_block_size must still recover its clusters via
    linear star edges — no mention may lose all its ER edges. The canopy
    split also means a mixed hot block (two senses sharing one surface)
    cannot be merged or stranded by an unlucky hub."""
    from word_sense_disambiguation_spark.operators.blocking import (
        oversized_star_pairs,
        surface_key_pairs,
    )

    n = 40
    rows = []
    for i in range(n):
        sense = "s1" if i % 2 == 0 else "s2"
        rows.append(
            (f"m{i:03d}", "acme corp", "Acme Corp", "NOUN", "acme",
             "assigned", sense, [f"ctx_{sense}", "shared", "words"])
        )
    rows.append(("m100", "acme corp", "Acme Corp", "NOUN", "acme", "nota", None, ["x"]))
    rows.append(("m101", "acme corp", "Acme Corp", "NOUN", "acme", "nota", None, ["y"]))
    asg = spark.createDataFrame(
        rows,
        "mention_id string, norm_surface string, surface string, pos string, "
        "lemma string, decision string, pred_sense_id string, "
        "context_words array<string>",
    )
    mentions = asg.select("mention_id", "norm_surface", "pos")
    pairs, oversized = surface_key_pairs(mentions, max_block_size=16)
    assert pairs.count() == 0 and oversized.count() == 1

    recovered = oversized_star_pairs(mentions, oversized, asg)
    assert recovered.filter(F.col("id_a") >= F.col("id_b")).count() == 0
    touched = (
        recovered.select(F.col("id_a").alias("v"))
        .union(recovered.select("id_b"))
        .distinct()
        .count()
    )
    assert touched == n + 2  # nobody in the hot block is stranded

    edges = score_mention_pairs(recovered, asg)
    clusters = cluster_mentions(edges)
    got = {r.mention_id: r.entity_id for r in clusters.collect()}
    s1 = {f"m{i:03d}" for i in range(0, n, 2)}
    s2 = {f"m{i:03d}" for i in range(1, n, 2)}
    assert {got[m] for m in s1} == {"m000"}
    assert {got[m] for m in s2} == {"m001"}
    # unassigned fallback edges get scored but not matched -> singletons
    assert got["m100"] == "m100" and got["m101"] == "m101"


def test_cluster_canonical_id_is_min_member(er_outputs):
    _a, _e, clusters = er_outputs
    bad = clusters.groupBy("entity_id").agg(F.min("mention_id").alias("mn")).filter(
        F.col("mn") != F.col("entity_id")
    )
    assert bad.count() == 0


_ASG_COLS = (
    "mention_id", "lemma", "pos", "norm_surface", "surface",
    "context_words", "pred_sense_id", "decision",
)
_SCORER_CONFIGS = ({}, {"w_jw": 0.0, "w_cos": 0.0, "w_sense": 1.0})


def _token_slot(tok):
    from word_sense_disambiguation_spark.functions.hashing import EMBED_DIM, emb_hash

    h = emb_hash(tok)
    return h % EMBED_DIM, 1 if (h >> 32) & 1 else -1


def _hand_blocks(spark):
    """Hand-built blocks for the pruning's edge cases: case-variant
    surfaces, a bag parallel to another (``a b a b`` vs ``a b``), two
    distinct bags that hash to the same vector, a bag hashing to the
    negated vector, empty and NULL contexts, near-identical contexts,
    assigned / nota / no_definitions mixes, and contexts too long for the
    cosine margin."""
    toks = [f"w{i}" for i in range(4000)]
    slots = {t: _token_slot(t) for t in toks}
    base = toks[0]
    twin = next(t for t in toks[1:] if slots[t] == slots[base])
    anti = next(
        t for t in toks[1:]
        if slots[t][0] == slots[base][0] and slots[t][1] != slots[base][1]
    )
    ctx = ["red", "fox", "ran", "far", "away", "fast"]
    rows = [
        # block apple/n: case variants + parallel + empty/NULL contexts
        ("h01", "Apple", ["a", "b"], "s1", "assigned"),
        ("h02", "apple", ["a", "b"], "s1", "assigned"),
        ("h03", "apple", ["a", "b", "a", "b"], None, "nota"),
        ("h04", "apple", ["a", "b", "a", "b"], None, "no_definitions"),
        ("h05", "apple", [], None, "no_definitions"),
        ("h06", "apple", [], None, "no_definitions"),
        ("h07", "apple", None, None, "nota"),
        ("h08", "apple", ["b", "a"], "s2", "assigned"),
        ("h09", "APPLE", ctx, "s2", "assigned"),
        ("h10", "apple", ctx + ["x"], None, "nota"),
        ("h11", "apple", ctx, None, "nota"),
        # block cell/n: hash-colliding and anti-parallel bags
        ("h20", "cell", [base], None, "no_definitions"),
        ("h21", "cell", [twin], None, "no_definitions"),
        ("h22", "cell", [anti], None, "no_definitions"),
        ("h23", "cell", [base, base], "s9", "assigned"),
        ("h24", "cell", [twin, anti], "s9", "assigned"),
        ("h25", "cell", [base, twin, anti], None, "nota"),
        # a singleton block never pairs
        ("h30", "lone", ["a"], None, "nota"),
        # contexts past the float margin: non-parallel, yet the float32
        # cosine rounds to 1 — the block keeps all its pairs
        ("h40", "wide", ["a"] * 200 + ["b"], None, "nota"),
        ("h41", "wide", ["a"] * 201 + ["b"], None, "nota"),
        ("h42", "wide", ["c"], None, "nota"),
    ]
    return spark.createDataFrame(
        [
            (mid, surf.lower(), "n", surf.lower(), surf, c, sense, dec)
            for mid, surf, c, sense, dec in rows
        ],
        "mention_id string, lemma string, pos string, norm_surface string, "
        "surface string, context_words array<string>, pred_sense_id string, "
        "decision string",
    ).select(*_ASG_COLS)


def test_er_scored_edges_is_exact_for_the_scorer(spark, sworld):
    """er_scored_edges' scorer-aware pruning and in-pass scoring are exact:
    every pair it emits is in the historical candidate set (capped
    small-block all-pairs ∪ canopy-aware oversized-star recovery), unique
    and oriented id_a < id_b; every edge row ``(id_a, id_b, score,
    is_match)`` equals ``score_mention_pairs`` on the same pairs; and under
    the default and the sense-only scorer configs the matched edges
    ``(id_a, id_b, score)`` and the ``block_clusters`` rows equal those of
    the historical set through ``cluster_mentions`` — on the test world at
    cap 256 and 16 (oversized blocks present) and on hand-built edge-case
    blocks."""
    from word_sense_disambiguation_spark.operators.blocking import (
        er_scored_edges,
        oversized_star_pairs,
    )
    from word_sense_disambiguation_spark.operators.clustering import block_clusters

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    world = (
        sense_assignments(sworld["pages"], sworld["senses"])
        .select(*_ASG_COLS)
        .localCheckpoint(eager=True)
    )
    hand = _hand_blocks(spark).localCheckpoint(eager=True)
    for a, cap in ((world, 256), (world, 16), (hand, 256), (hand, 4)):
        small, oversized = surface_key_pairs(a, max_block_size=cap)
        old = (
            small.select("id_a", "id_b")
            .unionByName(oversized_star_pairs(a, oversized, a))
            .distinct()
            .localCheckpoint(eager=True)
        )
        reference = set(rows(old, "id_a", "id_b"))
        for kw in _SCORER_CONFIGS:
            new = er_scored_edges(a, cap, **kw).localCheckpoint(eager=True)
            got = [(r.id_a, r.id_b) for r in new.collect()]
            assert len(got) == len(set(got))
            assert all(x < y for x, y in got)
            assert set(got) <= reference
            assert new.filter("lev_norm != 0").count() == 0
            cols = ("id_a", "id_b", "score", "is_match")
            rescored = score_mention_pairs(new.select("id_a", "id_b"), a, **kw)
            assert rows(new, *cols) == rows(rescored, *cols), (cap, kw)

            e_old = score_mention_pairs(old, a, **kw)
            matched = ("id_a", "id_b", "score")
            assert rows(new.filter("is_match"), *matched) == rows(
                e_old.filter("is_match"), *matched
            ), (cap, kw)
            c_old = sorted(tuple(r) for r in cluster_mentions(e_old).collect())
            c_new = sorted(tuple(r) for r in block_clusters(new).collect())
            assert c_new == c_old, (cap, kw)
    # the hand blocks exercise what they claim: the parallel pair, the
    # hash-colliding pair, the case-variant same-sense pair and the
    # long-context pair all match
    hand_matches = {
        (r.id_a, r.id_b) for r in er_scored_edges(hand).filter("is_match").collect()
    }
    assert {("h03", "h04"), ("h20", "h21"), ("h01", "h02"), ("h40", "h41")} <= hand_matches
    assert ("h20", "h22") not in hand_matches


def test_default_scorer_is_covered_by_the_pruning():
    """The default weights and the sense-only oracle config are configs the
    scorer-aware pruning is exact for; heavier string/context weights are
    not. W_JW + W_COS <= MATCH_THRESHOLD holds in exact decimal
    arithmetic (the float sum 0.2 + 0.4 rounds above 0.6)."""
    from fractions import Fraction

    from word_sense_disambiguation_spark.operators.pairs import (
        MATCH_THRESHOLD,
        W_COS,
        W_JW,
        pruning_covers,
    )

    def dec(x):
        return Fraction(repr(x))

    assert dec(W_JW) + dec(W_COS) <= dec(MATCH_THRESHOLD)
    assert pruning_covers(W_JW, W_COS, MATCH_THRESHOLD)
    assert pruning_covers(0.0, 0.0, MATCH_THRESHOLD)
    assert pruning_covers(0.3, 0.3, 0.6)
    assert not pruning_covers(0.3, 0.4, 0.6)
    assert not pruning_covers(0.6, 0.0, 0.6)  # same surface alone would match
    assert not pruning_covers(-0.1, 0.4, 0.6)


def test_cosine_float32_error_within_blocking_margin():
    """The margin er_scored_edges' exactness proof relies on: for
    non-parallel integer count vectors of at most 24 tokens, the float32
    ``cosine_batch`` of their normalized embeddings stays below 1.0 and
    within the proof's error bound E of the exact cosine. Exhaustive over
    2-D vectors (the closest-to-parallel integer pairs), random beyond."""
    import itertools

    import numpy as np

    from word_sense_disambiguation_spark.functions.similarity import cosine_batch

    eps = 2.0**-24
    dim = 64
    rng = np.random.default_rng(5)
    us, vs = [], []
    two_d = [
        (a, b) for a in range(-24, 25) for b in range(0, 25)
        if (a, b) != (0, 0) and abs(a) + b <= 24
    ]
    for (a, b), (c, d) in itertools.product(two_d, repeat=2):
        if a * d != b * c:  # not parallel
            u = np.zeros(dim); u[[3, 40]] = (a, b)
            v = np.zeros(dim); v[[3, 40]] = (c, d)
            us.append(u); vs.append(v)
    for _ in range(20_000):
        u = np.zeros(dim); v = np.zeros(dim)
        for vec in (u, v):
            n_tok = rng.integers(1, 25)
            np.add.at(vec, rng.integers(0, rng.integers(1, dim + 1), n_tok),
                      rng.choice([-1.0, 1.0], n_tok))
        if u.any() and v.any() and np.linalg.matrix_rank(np.stack([u, v])) == 2:
            us.append(u); vs.append(v)
    U, V = np.stack(us), np.stack(vs)

    def embed(M):
        return (M / np.linalg.norm(M, axis=1, keepdims=True)).astype(np.float32)

    got = cosine_batch(embed(U), embed(V)).astype(np.float64)
    exact = (U * V).sum(1) / np.sqrt((U * U).sum(1) * (V * V).sum(1))
    p, q = (U != 0).sum(1), (V != 0).sum(1)
    k = ((U != 0) & (V != 0)).sum(1)
    bound = (k + (p + q) / 2 + 6) * eps * 1.001
    assert (got - exact <= bound).all()
    assert (got < 1.0).all()
    # and the proof's margin dominates the bound for every such pair
    sq_u, sq_v = (U * U).sum(1), (V * V).sum(1)
    assert (1.0 / (2 * sq_u * sq_v) > bound).all()


def test_fellegi_sunter_three_zones(spark):
    """Planted pairs land in the right zone: exact record -> match,
    lightly corrupted -> match/possible, unrelated -> non_match; totals
    are exact integer sums of the level weights."""
    from word_sense_disambiguation_spark.operators.pairs import (
        fellegi_sunter_scores,
    )

    rows = [
        # (id_a, id_b, name_a, name_b, code_a, code_b)
        (1, 1, "Alice Johnson", "Alice Johnson", "abc123", "abc123"),
        (2, 2, "Bob Smith", "Bob Smyth", "def456", "def456"),
        (3, 3, "Carol White", "Karol Wite", "ghi789", "zhi789"),
        (4, 5, "Dan Brown", "Eve Stone", "jkl012", "mno345"),
        (6, 6, None, None, "pqr678", "pqr678"),
    ]
    df = spark.createDataFrame(
        rows, "id_a long, id_b long, name_a string, name_b string, code_a string, code_b string"
    )
    comps = [
        {"name": "name", "left": "name_a", "right": "name_b", "close": 3, "w": (1500, 600, -1200)},
        {"name": "code", "left": "code_a", "right": "code_b", "close": 2, "w": (2500, 1000, -2000)},
    ]
    out = {
        (r["id_a"], r["id_b"]): r
        for r in fellegi_sunter_scores(df, comps, match_milli=3000, review_milli=0).collect()
    }
    assert out[(1, 1)]["total_milli"] == 4000 and out[(1, 1)]["decision"] == "match"
    # Smyth: lev 1 -> close name (600) + exact code (2500) = 3100 -> match
    assert out[(2, 2)]["lvl_name"] == 1
    assert out[(2, 2)]["total_milli"] == 3100 and out[(2, 2)]["decision"] == "match"
    # Karol Wite: lev 3 -> close (600); zhi789: lev 1 -> close (1000) -> possible
    assert out[(3, 3)]["total_milli"] == 1600 and out[(3, 3)]["decision"] == "possible"
    assert out[(4, 5)]["total_milli"] == -3200 and out[(4, 5)]["decision"] == "non_match"
    # NULL-coalesce contract: two NULLs compare exact ('' == '')
    assert out[(6, 6)]["lvl_name"] == 2 and out[(6, 6)]["decision"] == "match"


def test_fellegi_sunter_levenshtein_duckdb_parity(spark):
    """The oracle claim: Spark F.levenshtein == DuckDB levenshtein on
    ASCII input — and the KNOWN DIVERGENCE off ASCII is pinned here:
    Spark counts Unicode codepoints, DuckDB counts UTF-8 BYTES
    ('café'->'cafe' is 1 vs 2). Same trap family as \\s vs WS_CLASS;
    any levenshtein expression mirrored into a DuckDB oracle must only
    ever see ASCII fields (the fellegi_sunter oracle's customer fields
    are ASCII by construction)."""
    import duckdb

    import pyspark.sql.functions as F

    ascii_cases = [
        ("Customer#000000001", "Custmr#000000001"),
        ("Customer#000000001", "ustomer#000000001"),
        ("Customer#000000001", "Customer#000000001x"),
        ("ABc", "abc"),
        ("kitten", "sitting"),
        ("", "abc"),
        ("same", "same"),
    ]
    df = spark.createDataFrame(ascii_cases, "a string, b string")
    got = [r[0] for r in df.select(F.levenshtein("a", "b")).collect()]
    want = [
        duckdb.sql("SELECT levenshtein(?, ?)", params=[a, b]).fetchone()[0]
        for a, b in ascii_cases
    ]
    assert got == want
    # the divergence, pinned so a future engine upgrade that changes it
    # is caught rather than silently shifting oracle semantics
    sp = (
        spark.createDataFrame([("café", "cafe")], "a string, b string")
        .select(F.levenshtein("a", "b"))
        .collect()[0][0]
    )
    du = duckdb.sql("SELECT levenshtein('café', 'cafe')").fetchone()[0]
    assert sp == 1 and du == 2


def test_fellegi_sunter_plan_no_shuffle(spark):
    """Scoring an already-blocked pair table is pure per-row codegen:
    no Exchange, no UDF eval node."""
    from word_sense_disambiguation_spark.operators.pairs import (
        fellegi_sunter_scores,
    )

    df = spark.createDataFrame(
        [(1, 2, "a", "b")], "id_a long, id_b long, name_a string, name_b string"
    )
    comps = [{"name": "name", "left": "name_a", "right": "name_b", "close": 2, "w": (1, 0, -1)}]
    plan = (
        fellegi_sunter_scores(df, comps)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:1500]
    assert "Python" not in plan, plan[:1500]


def test_blocking_quality_planted(spark):
    """Known candidate/gold sets produce exact metric arithmetic;
    orientation flips, duplicate pairs, and self-pairs are normalized
    away before counting."""
    from word_sense_disambiguation_spark.operators.blocking import (
        blocking_quality,
    )

    records = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # raw candidates: (1,2) twice in both orientations, a self-pair, (3,4)
    cand = spark.createDataFrame(
        [(1, 2), (2, 1), (5, 5), (3, 4)], "id_a long, id_b long"
    )
    gold = spark.createDataFrame(
        [(2, 1), (7, 8)], "id_a long, id_b long"
    )
    r = blocking_quality(cand, gold, records).collect()[0]
    assert r["n_records"] == 10
    assert r["total_pairs"] == 45
    assert r["n_candidates"] == 2          # {1,2}, {3,4}
    assert r["n_gold"] == 2                # {1,2}, {7,8}
    assert r["n_hit"] == 1                 # {1,2}
    assert r["pair_completeness"] == 0.5
    assert r["reduction_ratio"] == 1.0 - 2 / 45


def test_blocking_quality_empty_gold_is_vacuously_complete(spark):
    from word_sense_disambiguation_spark.operators.blocking import (
        blocking_quality,
    )

    records = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    gold = spark.createDataFrame([], "id_a long, id_b long")
    r = blocking_quality(cand, gold, records).collect()[0]
    assert r["n_gold"] == 0 and r["n_hit"] == 0
    assert r["pair_completeness"] == 1.0


def test_mutual_best_match_hand_example(spark):
    """Argmax both ways with the pinned tie rule (score DESC, smallest
    partner id): a1 ties b1/b2 -> picks b1, but b1 prefers a2 (7 > 5),
    so only (a2, b1) is mutual; b2's best a1 is not reciprocated."""
    from word_sense_disambiguation_spark.operators.pairs import (
        mutual_best_match,
    )

    rows = [("a1", "b1", 5), ("a1", "b2", 5), ("a2", "b1", 7)]
    df = spark.createDataFrame(rows, "id_a string, id_b string, score long")
    got = sorted(
        (r.id_a, r.id_b, r.score) for r in mutual_best_match(df).collect()
    )
    assert got == [("a2", "b1", 7)]
    # remove the competitor: the tie pair (a1, b1) becomes mutual
    got2 = sorted(
        (r.id_a, r.id_b, r.score)
        for r in mutual_best_match(
            df.filter(F.col("id_a") != "a2")
        ).collect()
    )
    assert got2 == [("a1", "b1", 5)]


def test_mutual_best_match_one_to_one_and_invariance(spark):
    """Output is one-to-one by construction (each id appears at most
    once per side), min_score drops sub-threshold candidates BEFORE the
    argmax, and integer scores make the result partitioning-invariant."""
    from word_sense_disambiguation_spark.operators.pairs import (
        mutual_best_match,
    )

    rows = [
        (a, b, (a * 7 + b * 3) % 11)
        for a in range(1, 9)
        for b in range(1, 9)
        if (a + b) % 3 != 0
    ]
    df = spark.createDataFrame(rows, "id_a long, id_b long, score long")
    out = mutual_best_match(df).collect()
    assert len({r.id_a for r in out}) == len(out)
    assert len({r.id_b for r in out}) == len(out)
    lo = mutual_best_match(df, min_score=9).collect()
    assert lo and all(r.score >= 9 for r in lo)
    # every surviving pair is still each side's global best
    best = {}
    for a, b, s in rows:
        if s >= 9:
            if a not in best or (-s, b) < best[a][0]:
                best[a] = ((-s, b), b)
    assert all(best[r.id_a][1] == r.id_b for r in lo)
    one = sorted(map(tuple, mutual_best_match(df.coalesce(1)).collect()))
    many = sorted(map(tuple, mutual_best_match(df.repartition(7)).collect()))
    assert one == many == sorted(map(tuple, out))


def test_mutual_best_match_aggregate_not_window(spark):
    """The argmax must be the partial-combined max_by AGGREGATE, never a
    row_number window (a hot record's candidate list would sort-buffer
    in one task): no Window node in the physical plan."""
    from word_sense_disambiguation_spark.operators.pairs import (
        mutual_best_match,
    )

    df = spark.createDataFrame(
        [(1, 2, 3)], "id_a long, id_b long, score long"
    )
    plan = (
        mutual_best_match(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan[:1500]


def test_fs_agreement_patterns_hand_counts(spark):
    """Pattern contraction counts exactly: 2 exact-exact pairs, 1
    close-exact, 1 diff-diff."""
    from word_sense_disambiguation_spark.operators.pairs import (
        fs_agreement_patterns,
    )

    rows = [
        ("alice", "alice", "k1", "k1"),
        ("bob", "bob", "k2", "k2"),
        ("carol", "caro", "k3", "k3"),
        ("dave", "zzzzzzzz", "k4", "qqqq"),
    ]
    df = spark.createDataFrame(
        rows, "name_a string, name_b string, code_a string, code_b string"
    )
    comps = [
        {"name": "name", "left": "name_a", "right": "name_b", "close": 1, "w": (0, 0, 0)},
        {"name": "code", "left": "code_a", "right": "code_b", "close": 0, "w": (0, 0, 0)},
    ]
    got = {
        (r.lvl_name, r.lvl_code): r.n_pairs
        for r in fs_agreement_patterns(df, comps).collect()
    }
    assert got == {(2, 2): 2, (1, 2): 1, (0, 0): 1}


def _planted_em_world(spark):
    """600 latent matches + 3000 latent non-matches over two fields with
    planted agreement rates (matches: name exact 80% / close 15% / diff
    5%, code exact 90% / diff 10%; non-matches: name exact 2% / close 8%
    / diff 90%, code exact 5% / diff 95%) — all by index modulo, fully
    deterministic."""
    rows = []
    for i in range(600):
        nm = "match%05d" % i
        name_b = nm if i % 20 < 16 else (nm[:-1] + "x" if i % 20 < 19 else "zz%05dyy" % i)
        code_b = ("c%04d" % i) if i % 10 < 9 else ("x%04d" % (i + 7000))
        rows.append((nm, name_b, "c%04d" % i, code_b))
    for i in range(3000):
        nm = "rand%06d" % i
        name_b = nm if i % 50 < 1 else (nm[:-1] + "q" if i % 50 < 5 else "ww%06dvv" % i)
        code_b = ("d%05d" % i) if i % 20 < 1 else ("y%05d" % (i + 90000))
        rows.append((nm, name_b, "d%05d" % i, code_b))
    df = spark.createDataFrame(
        rows, "name_a string, name_b string, code_a string, code_b string"
    )
    comps = [
        {"name": "name", "left": "name_a", "right": "name_b", "close": 1, "w": (0, 0, 0)},
        {"name": "code", "left": "code_a", "right": "code_b", "close": 0, "w": (0, 0, 0)},
    ]
    return df, comps


def test_estimate_fs_weights_recovers_planted_rates(spark):
    """EM on the planted two-class world recovers lambda and the m/u
    agreement rates within loose-but-meaningful tolerance, and the
    learned milli weights separate the classes: exact-exact patterns
    score strongly positive, diff-diff strongly negative."""
    from word_sense_disambiguation_spark.operators.pairs import (
        estimate_fs_weights,
    )

    df, comps = _planted_em_world(spark)
    est = estimate_fs_weights(df, comps, iters=50)
    assert abs(est["lambda"] - 600 / 3600) < 0.05
    assert abs(est["m"]["name"][2] - 0.80) < 0.08
    assert abs(est["m"]["code"][2] - 0.90) < 0.08
    assert abs(est["u"]["name"][2] - 0.02) < 0.03
    assert abs(est["u"]["code"][2] - 0.05) < 0.05
    w_name, w_code = est["w"]["name"], est["w"]["code"]
    assert w_name[0] > 0 > w_name[2]
    assert w_code[0] > 0 > w_code[2]
    # separation: the all-exact pattern beats match_milli=0 by a wide
    # margin, the all-different pattern sits far below it
    assert w_name[0] + w_code[0] > 3000
    assert w_name[2] + w_code[2] < -3000


def test_estimate_fs_weights_deterministic_across_partitionings(spark):
    """The distributed half is exact-integer pattern counts; the
    driver-side EM iterates patterns in sorted order — so the whole
    estimate is bit-identical however the pairs were partitioned."""
    from word_sense_disambiguation_spark.operators.pairs import (
        estimate_fs_weights,
    )

    df, comps = _planted_em_world(spark)
    a = estimate_fs_weights(df.coalesce(1), comps, iters=25)
    b = estimate_fs_weights(df.repartition(13), comps, iters=25)
    assert a == b


def test_fs_match_probability_hand_example(spark):
    """Exact Bayes arithmetic on planted levels, mirrored in python with
    the same left-associated float tree; all-agree pattern clears 0.5,
    all-differ pattern lands near zero."""
    from word_sense_disambiguation_spark.operators.pairs import (
        fs_match_probability,
    )

    rows = [
        (1, 1, "Alice", "Alice", "k111", "k111"),     # exact/exact
        (2, 2, "Bobby", "Bobbz", "k222", "zzzz"),     # close/diff
        (3, 3, "Cara", "Zzzzzzzz", "k333", "qqqq"),   # diff/diff
    ]
    df = spark.createDataFrame(
        rows,
        "id_a long, id_b long, name_a string, name_b string, code_a string, code_b string",
    )
    comps = [
        {"name": "name", "left": "name_a", "right": "name_b", "close": 1,
         "m": (0.05, 0.15, 0.8), "u": (0.9, 0.07, 0.03)},
        {"name": "code", "left": "code_a", "right": "code_b", "close": 1,
         "m": (0.02, 0.08, 0.9), "u": (0.95, 0.04, 0.01)},
    ]
    out = {
        r.id_a: r
        for r in fs_match_probability(df, comps, lam=0.1, threshold=0.5).collect()
    }

    def post(mlvls, ulvls):
        pm = 0.1
        pu = 1.0 - 0.1
        for m, u in zip(mlvls, ulvls):
            pm = pm * m
            pu = pu * u
        return pm / (pm + pu)

    assert out[1].p_match == post([0.8, 0.9], [0.03, 0.01])
    assert out[1].is_match
    assert out[2].p_match == post([0.15, 0.02], [0.07, 0.95])
    assert not out[2].is_match
    assert out[3].p_match == post([0.05, 0.02], [0.9, 0.95])
    assert out[3].p_match < 0.001


def test_fs_match_probability_consumes_em_estimates(spark):
    """The learned-slot handshake: estimate_fs_weights' m/u plug into
    fs_match_probability and the posterior separates the planted classes
    of the EM world (true-pair patterns high, random patterns low)."""
    from word_sense_disambiguation_spark.operators.pairs import (
        estimate_fs_weights,
        fs_match_probability,
    )

    df, comps = _planted_em_world(spark)
    est = estimate_fs_weights(df, comps, iters=40)
    for spec in comps:
        spec["m"] = tuple(est["m"][spec["name"]])
        spec["u"] = tuple(est["u"][spec["name"]])
    scored = fs_match_probability(
        df.withColumn("id_a", F.col("name_a")).withColumn("id_b", F.col("name_b")),
        comps,
        lam=est["lambda"],
    )
    agg = scored.groupBy(
        F.col("id_a").startswith("match").alias("is_true_pair")
    ).agg(F.avg("p_match").alias("mean_p"))
    means = {r.is_true_pair: r.mean_p for r in agg.collect()}
    assert means[True] > 0.8
    assert means[False] < 0.1


def test_fs_match_probability_plan_pure_codegen(spark):
    """Per-row decode over blocked pairs: no Exchange, no Python."""
    from word_sense_disambiguation_spark.operators.pairs import (
        fs_match_probability,
    )

    df = spark.createDataFrame(
        [(1, 2, "a", "b")], "id_a long, id_b long, name_a string, name_b string"
    )
    comps = [{"name": "name", "left": "name_a", "right": "name_b", "close": 1,
              "m": (0.1, 0.2, 0.7), "u": (0.7, 0.2, 0.1)}]
    plan = (
        fs_match_probability(df, comps)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:1200]
    assert "Python" not in plan, plan[:1200]
