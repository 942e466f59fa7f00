"""Blocking recall/determinism + pairwise scorer + full ER stage chain."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from word_sense_disambiguation_spark.functions.hashing import (
    char_shingles,
    minhash_signature,
)
from word_sense_disambiguation_spark.functions.similarity import (
    jaccard_sets,
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
def er_outputs(sworld):
    assignments = sense_assignments(sworld["pages"], sworld["senses"]).cache()
    mentions = mentions_from_pages(sworld["pages"])
    pairs, _ = surface_key_pairs(mentions, max_block_size=256)
    edges = score_mention_pairs(pairs.select("id_a", "id_b"), assignments).cache()
    clusters = cluster_mentions(edges).cache()
    return assignments, edges, clusters


def test_er_pairwise_f1_gate(spark, sworld, er_outputs):
    """The north-rule gate on the *clustered* output: pairs of labeled
    mentions are predicted-matched iff they share a canonical entity_id."""
    assignments, _edges, clusters = er_outputs
    gold = sworld["gold_pairs"]
    mid = assignments.select("url", "lemma", "pos", "mention_id")
    g = (
        gold.join(mid, on=["url", "lemma", "pos"])
        .join(clusters, on="mention_id", how="left")
        .select("pair_id", "lemma", "pos", "gold_sense_id", "is_nota", "entity_id")
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
        F.count("*").alias("n"),
    ).collect()[0]
    f1 = 2 * r.tp / max(2 * r.tp + r.fp + r.fn, 1)
    assert r.n > 100
    assert f1 >= 0.99, r


def test_star_pairs_path_preserves_f1(spark, sworld, er_outputs):
    """The linear-size star-pair blocking (the 10^12-row path) must reach
    the same F1 gate as exhaustive within-block pairing."""
    from word_sense_disambiguation_spark.operators.blocking import (
        sense_block_star_pairs,
    )

    assignments, _e, _c = er_outputs
    star = sense_block_star_pairs(assignments)
    assert star.filter(F.col("id_a") >= F.col("id_b")).count() == 0
    edges = score_mention_pairs(star, assignments)
    clusters = cluster_mentions(edges)

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
    ).collect()[0]
    f1 = 2 * r.tp / max(2 * r.tp + r.fp + r.fn, 1)
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


def test_er_candidate_pairs_is_the_canonical_union(spark, sworld):
    """er_candidate_pairs is the ER job's one blocking stage: capped
    small-block all-pairs ∪ canopy-aware oversized-star recovery, with no
    duplicate row and every pair oriented id_a < id_b."""
    from word_sense_disambiguation_spark.operators.blocking import (
        er_candidate_pairs,
        oversized_star_pairs,
    )

    a = (
        sense_assignments(sworld["pages"], sworld["senses"])
        .select(
            "mention_id", "lemma", "pos", "norm_surface", "surface",
            "context_words", "pred_sense_id", "decision",
        )
        .localCheckpoint(eager=True)
    )
    # a cap small enough that this world has oversized blocks to recover
    cap = 16
    small, oversized = surface_key_pairs(a, max_block_size=cap)
    assert oversized.count() > 0
    union = {
        (r.id_a, r.id_b)
        for r in small.select("id_a", "id_b")
        .unionByName(oversized_star_pairs(a, oversized, a))
        .collect()
    }
    got = [(r.id_a, r.id_b) for r in er_candidate_pairs(a, a, cap).collect()]
    assert len(got) == len(set(got))
    assert set(got) == union
    assert all(x < y for x, y in got)


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


def test_blocking_cost_estimate_hand_example(spark):
    """Blocks {5, 3, 1, 2xNULL-keyed}: exact pair bill 10+3+0+1 = 14,
    NULL keys group as one real block (the monster-block catch), cap 3
    flags one oversized block carrying 20/28 of the doubled bill."""
    from word_sense_disambiguation_spark.operators.blocking import (
        blocking_cost_estimate,
    )

    rows = (
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] + [(None,)] * 2
    )
    df = spark.createDataFrame(rows, "k string")
    r = blocking_cost_estimate(df, ["k"], max_block_size=3).collect()[0]
    assert r.n_records == 11
    assert r.n_blocks == 4
    assert r.candidate_pairs == 14
    assert r.max_block_size_obs == 5
    assert r.n_oversized_blocks == 1
    assert r.oversized_pair_share == 20.0 / 28.0


def test_blocking_cost_estimate_empty_and_invariance(spark):
    from word_sense_disambiguation_spark.operators.blocking import (
        blocking_cost_estimate,
    )

    empty = spark.createDataFrame([], "k string")
    r = blocking_cost_estimate(empty, ["k"]).collect()[0]
    assert (r.n_records, r.n_blocks, r.candidate_pairs) == (0, 0, 0)
    assert r.oversized_pair_share is None
    df = spark.createDataFrame(
        [("k%d" % (i % 7),) for i in range(100)], "k string"
    )
    one = blocking_cost_estimate(df.coalesce(1), ["k"]).collect()
    many = blocking_cost_estimate(df.repartition(9), ["k"]).collect()
    assert one == many


def test_meta_blocking_prune_hand_example(spark):
    """Blocks aa{1,2,3} bb{1,2} + singletons -> weights (1,2)=2,
    (1,3)=1, (2,3)=1; S=4 P=3, WEP keeps cbs*3 >= 4 i.e. only (1,2).
    Repeated tokens inside one doc count ONCE (distinct block
    membership)."""
    from word_sense_disambiguation_spark.operators.blocking import (
        meta_blocking_prune,
    )

    docs = spark.createDataFrame(
        [(1, "aa aa bb cc"), (2, "aa bb dd"), (3, "aa ee ff"), (4, "zz yy")],
        "doc_id long, text string",
    )
    kept, oversized = meta_blocking_prune(docs, "doc_id", "text")
    rows = kept.collect()
    assert [(r.id_a, r.id_b, r.cbs) for r in rows] == [(1, 2, 2)]
    assert oversized.count() == 0


def test_meta_blocking_prune_cap_and_invariance(spark):
    """A hot token over the block cap pairs nobody and lands in
    `oversized`; results are partitioning/materialization invariant;
    NULL/short tokens drop; empty corpus -> empty both."""
    from word_sense_disambiguation_spark.operators.blocking import (
        meta_blocking_prune,
    )
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(i, f"hot uniq{i} uniq{i + 1} x") for i in range(30)],
        "doc_id long, text string",
    )
    kept, oversized = meta_blocking_prune(
        docs, "doc_id", "text", max_block_size=8
    )
    ov = {r.token: r.block_size for r in oversized.collect()}
    assert ov == {"hot": 30}  # 1-char "x" never blocks; "hot" capped out
    got = sorted((r.id_a, r.id_b, r.cbs) for r in kept.collect())
    # consecutive docs share exactly one uniqN token -> uniform weight 1,
    # mean 1, everything kept
    assert got == [(i, i + 1, 1) for i in range(29)]
    k2, _ = meta_blocking_prune(
        docs.repartition(7), "doc_id", "text", max_block_size=8,
        materialize=False,
    )
    assert sorted((r.id_a, r.id_b, r.cbs) for r in k2.collect()) == got
    empty = spark.createDataFrame([], "doc_id long, text string")
    ek, eo = meta_blocking_prune(empty, "doc_id", "text")
    assert ek.count() == 0 and eo.count() == 0
    nulls = spark.createDataFrame([(1, None), (2, "a b c")], "doc_id long, text string")
    nk, _ = meta_blocking_prune(nulls, "doc_id", "text")
    assert nk.count() == 0  # all tokens under min_token_len or NULL text


def test_meta_blocking_prune_plan_shape(spark):
    """Scale contract: the oversized-block exclusion is a broadcast
    anti-join, the within-block self-join is co-partitioned on the
    token, weights contract through a partial-combined HashAggregate,
    and the mean joins back via BroadcastNestedLoopJoin (1-row side) —
    no window, no shuffled cartesian over pairs."""
    from word_sense_disambiguation_spark.operators.blocking import (
        meta_blocking_prune,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 9} w{(i + 1) % 9}") for i in range(60)],
        "doc_id long, text string",
    )
    kept, _ = meta_blocking_prune(docs, "doc_id", "text", materialize=False)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]
    assert "HashAggregate" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
