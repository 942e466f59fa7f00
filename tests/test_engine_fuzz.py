"""Batch-fuzz engine parity: seeded adversarial Unicode corpora run
through the textstats operators on Spark AND through their oracle SQL on
DuckDB in one shot, compared cell-exact. This is the oracle gate's
hardening layer — testdata is ASCII-ish; these corpora are not.

Also pins the ONE case-mapping divergence the fuzz sweep surfaced:
Java lower('İ') = 'i' + U+0307 (Unicode full mapping, 2 codepoints)
vs DuckDB/utf8proc = 'i' (simple mapping) — the same trap family as
Java-\\s vs RE2-\\s and codepoint-vs-byte levenshtein. Any operator whose
oracle-mirrored expression lowercases free text is portable EXCEPT on
U+0130; the corpora here exclude it, the pin below documents it.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entrymod
from word_sense_disambiguation_spark.operators.textstats import (
    build_vocabulary,
    script_profile,
    token_diversity,
)

_POOLS = [
    "abcdefghij ",
    "ABCDEF ",
    "éüßı ",              # é ü ß ı (NOT U+0130, see module doc)
    "бвгд ",              # cyrillic
    "αβγ ",                    # greek
    "ابت ",                    # arabic
    "一二三あア가 ",  # han/kana/hangul
    "\U0001F600\U0001F4A9 ",                  # astral emoji
    "éä ",                        # combining marks
    " \t\n\r\x0b\x0c",                        # whitespace zoo
    "0123!@# ",
]


def _corpus():
    rng = random.Random(42)
    rows = []
    for i in range(250):
        n = rng.randint(0, 60)
        rows.append((i, "".join(rng.choice(rng.choice(_POOLS)) for _ in range(n))))
    rows += [(250, ""), (251, None), (252, "straße STRASSE ssss"),
             (253, "é é e")]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _compare(spark_df, sql, pdf):
    con = duckdb.connect()
    con.register("documents", pdf)
    sp = spark_df.toPandas()
    du = con.sql(sql).df()
    cols = sorted(sp.columns)
    assert cols == sorted(du.columns)
    sp = sp.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    du = du.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    assert len(sp) == len(du)

    def norm(v):
        if v is None or (isinstance(v, float) and v != v):
            return "NULL"
        return repr(v.item() if hasattr(v, "item") else v)

    for c in cols:
        for i in range(len(sp)):
            a, b = norm(sp[c].iloc[i]), norm(du[c].iloc[i])
            assert a == b, (c, i, a, b)


def _sdf(spark, pdf):
    return spark.createDataFrame(
        pdf.astype(object).where(pd.notnull(pdf), None),
        "doc_id long, text string",
    )


def test_fuzz_script_profile_parity(spark):
    pdf = _corpus()
    _compare(
        script_profile(_sdf(spark, pdf), "doc_id", "text"),
        entrymod.oracle_sql()["script_profile"],
        pdf,
    )


def test_fuzz_token_diversity_parity(spark):
    pdf = _corpus()
    _compare(
        token_diversity(_sdf(spark, pdf), "doc_id", "text"),
        entrymod.oracle_sql()["token_diversity"],
        pdf,
    )


def test_fuzz_vocabulary_parity(spark):
    pdf = _corpus()
    _compare(
        build_vocabulary(_sdf(spark, pdf), "doc_id", "text", min_count=5, top_n=500),
        entrymod.oracle_sql()["vocabulary"],
        pdf,
    )


def test_dotted_capital_i_divergence_pinned(spark):
    """Java's lower('İ') is the two-codepoint full mapping
    'i̇'; DuckDB's is the simple 'i'. Pinned so an engine upgrade
    that changes either side is caught instead of silently shifting
    oracle semantics (the levenshtein-divergence pin's sibling)."""
    sp = (
        spark.createDataFrame([("İ",)], "t string")
        .select(F.lower("t"))
        .collect()[0][0]
    )
    du = duckdb.sql("SELECT lower('İ')").fetchone()[0]
    assert sp == "i̇"
    assert du == "i"
    assert sp != du


# --- generic driver-world fuzz: write an adversarial documents.parquet,
# run the REAL _q query functions against it, replay their oracle SQL on
# the same table in DuckDB ---

_DOCQ = [
    "quality_rule_flags",
    "pii_redaction",
    "url_canonicalize",
    "text_profile",
    "repetition_stats",
    "fingerprint_counts",
    "chunk_documents",
    "token_histogram",
    "exact_dedup",
    "dedup_impact",
    "boilerplate_dedup",
    "ngram_jaccard_block",
    "ngram_containment",
    "similarity_join",
    "curation_pipeline",
    "distinctive_terms",
    "substring_span_dedup",
    "quality_classifier",
    "ccnet_buckets",
    "length_outliers",
    "rrf_hybrid",
    "tfidf_cosine",
    "cooccurrence",
    "langid_accuracy",
    # anti-entropy diff: adversarial unicode text rides INSIDE the
    # portable md5 row hash — byte-level engine agreement is the test
    "snapshot_diff",
    "compaction_plan",
    # blocker-audit composite (simhash blocks vs exact-Jaccard gold)
    # on the adversarial corpus — the counts must replay exactly
    "blocking_quality",
    # planted-href extraction vs the formula ground truth on fuzz
    # langs/sources (incl. empty strings inside the derived urls)
    "link_graph",
    # anchor-text inlink profiles vs the formula ground truth — the
    # fuzz langs ride inside the planted anchors
    "anchor_signal",
    # derived urls over the fuzz langs/sources; the empty-text doc and
    # lang/source variety exercise the depth-0/1 prefix edges and the
    # DuckDB array_to_string([])-is-NULL coalesce
    "path_rollup",
]


@pytest.fixture(scope="module")
def fuzz_world(tmp_path_factory):
    rng = random.Random(7)
    rows = []
    for i in range(200):
        n = rng.randint(0, 80)
        txt = "".join(rng.choice(rng.choice(_POOLS)) for _ in range(n))
        # salt in sentences/punct so the sentence- and symbol-based
        # rules actually fire
        if i % 3 == 0:
            txt += ". " + txt[: n // 2] + "... - bullet"
        rows.append(
            (i, txt, rng.choice(["en", "fr", "zh"]),
             rng.choice(["web", "wiki"]), len(txt))
        )
    rows.append((200, "", "en", "web", 0))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = tmp_path_factory.mktemp("fuzzworld")
    pdf.to_parquet(d / "documents.parquet", index=False)
    return str(d), pdf


@pytest.mark.parametrize("qname", _DOCQ)
def test_fuzz_driver_queries_parity(spark, fuzz_world, qname):
    """The driver-gate comparison itself, on an adversarial corpus: the
    real queries()[qname] over a fuzz documents.parquet vs its
    oracle_sql()[qname] on the same rows in DuckDB, cell-exact."""
    sf_dir, pdf = fuzz_world
    qs = entrymod.queries()
    spark_df = qs[qname](spark, sf_dir)
    _compare(spark_df, entrymod.oracle_sql()[qname], pdf)


_CUSTQ = [
    "fellegi_sunter",
    "mutual_best_match",
    "fs_pattern_counts",
    "fs_match_probability",
    "pr_sweep",
    "threshold_curve",
    "cluster_cohesion",
    "degree_pruned_edges",
    "sparsify_topk",
]

_NAME_BITS = [
    "Customer", "Custmr", "#", "000", "x", "", " ", "--", "Q",
    "aaaaaaaaaaaaaaaaaaaaaaaa", "A b C", ".", "!!",
]


@pytest.fixture(scope="module")
def fuzz_customers(tmp_path_factory):
    """Adversarial ASCII customer world (names stay ASCII on purpose —
    the oracle-mirrored-levenshtein pin): empty names, repeats, hot
    nations, duplicate names across keys."""
    rng = random.Random(11)
    rows = []
    for i in range(300):
        name = "".join(rng.choice(_NAME_BITS) for _ in range(rng.randint(0, 5)))
        # hot nation 0 (skew), plus a spread
        nk = 0 if i % 3 == 0 else rng.randint(1, 9)
        rows.append((i, name, nk, rng.choice(["AUTO", "BUILDING", "", "X"])))
    pdf = pd.DataFrame(
        rows, columns=["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    )
    d = tmp_path_factory.mktemp("fuzzcust")
    pdf.to_parquet(d / "customer.parquet", index=False)
    return str(d), pdf


@pytest.mark.parametrize("qname", _CUSTQ)
def test_fuzz_customer_queries_parity(spark, fuzz_customers, qname):
    sf_dir, pdf = fuzz_customers
    spark_df = entrymod.queries()[qname](spark, sf_dir)
    con_sql = entrymod.oracle_sql()[qname]
    con = duckdb.connect()
    con.register("customer", pdf)
    sp = spark_df.toPandas()
    du = con.sql(con_sql).df()
    cols = sorted(sp.columns)
    assert cols == sorted(du.columns)
    sp = sp.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    du = du.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    assert len(sp) == len(du), (len(sp), len(du))

    def norm(v):
        if v is None or (isinstance(v, float) and v != v):
            return "NULL"
        return repr(v.item() if hasattr(v, "item") else v)

    for c in cols:
        for i in range(len(sp)):
            a, b = norm(sp[c].iloc[i]), norm(du[c].iloc[i])
            assert a == b, (qname, c, i, a, b)


_EVQ = [
    "sessionization",
    "running_sum",
    "asof_join",
    "range_join",
    "time_rollup",
    "hopping_window",
    "latest_snapshot",
    "group_quantiles",
    "sampled_quantiles",
    "table_checksum",
    "profile_columns",
    # r5 scale-ops additions: the burst second stresses the SCD2
    # tiebreak, and the tiny id range stresses the constrained-CC
    # fixture arithmetic.
    "scd2_history",
    "constrained_clusters",
    # the burst second makes duplicate (s, e) interval ties and
    # same-instant funnel steps — the total-order tiebreak is what's
    # under test
    "interval_merge",
    "funnel_counts",
    "overlap_join",
    # the burst second produces massive timestamp ties in the lag-built
    # transition graph (the per-user (ts, event_id) total order is
    # what's under test), and the fuzz FK worlds are full of genuine
    # orphans/NULLs
    "markov_transitions",
    "referential_integrity",
    # microsecond-edge timestamps (0, 1, 999999) sit right on period
    # boundaries — the floor(epoch) vs CAST(epoch) rounding divergence
    # is what's under test; the even/odd split of the burst second
    # stresses the drift full-outer category pairing
    "retention_cohorts",
    "distribution_drift",
    # the burst second piles exact-duplicate timestamps into one
    # session and the µs-edge events sit on floored-second boundaries —
    # native session_window vs the lag-island replay must still agree
    "session_rollup",
    # the fuzz orders table points at customer keys 0..299 with hot
    # duplicates — the cascade's contract-then-probe counts must match
    # the plain IN-subquery replay exactly
    "deletion_impact",
    # the streaming path itself (parquet dir -> watermarked tumbling
    # agg -> memory sink, run to completion) vs the batch date_trunc
    # oracle, on burst/out-of-order fuzz events
    "streaming_window_counts",
]


@pytest.fixture(scope="module")
def fuzz_events_world(tmp_path_factory, fuzz_world, fuzz_customers):
    """Adversarial temporal world: EXACT duplicate timestamps (the tie
    case every as-of/latest/sessionize bug hides in), one hot user, a
    burst second, out-of-order event_ids, dyadic values (the engine's
    oracle float discipline: sums must replay). Reuses the fuzz
    documents and customers, adds events + orders."""
    import datetime

    rng = random.Random(23)
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    for i in range(600):
        uid = 0 if i % 4 == 0 else rng.randint(1, 20)   # hot user 0
        if i % 7 == 0:
            ts = base                                    # burst: exact dup ts
        else:
            ts = base + datetime.timedelta(
                seconds=rng.randint(-4000, 4000), microseconds=rng.choice([0, 1, 999999])
            )
        rows.append(
            (1000 - i, ts, uid,
             # keep all five event types: every later draw depends on
             # the pool's size, and the cases were written against
             # this world
             rng.choice(["click", "view", "buy", "signup", ""]),
             rng.randint(0, 64) / 4.0,                    # dyadic doubles
             rng.choice(["{}", "", "x"]))
        )
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    orows = []
    for i in range(150):
        orows.append(
            (i, rng.randint(0, 299), rng.choice(["O", "F", "P"]),
             rng.randint(0, 10_000) / 4.0,
             base + datetime.timedelta(days=rng.randint(-30, 30)),
             rng.choice(["1-URGENT", "5-LOW"]))
        )
    orders = pd.DataFrame(
        orows,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    # testdata uses timestamp[us]; pandas defaults to ns, which Spark's
    # parquet reader rejects (TIMESTAMP(NANOS))
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    prows = []
    for i in range(80):
        prows.append(
            (i, " ".join(rng.choice(["brass", "steel", "tin", "x", ""])
                         for _ in range(3)),
             "Brand#%d" % (i % 5), rng.choice(["A TYPE", "B TYPE", ""]),
             rng.randint(1, 50), rng.randint(0, 40_000) / 4.0)
        )
    part = pd.DataFrame(
        prows, columns=["p_partkey", "p_name", "p_brand", "p_type",
                        "p_size", "p_retailprice"],
    )
    part["p_size"] = part["p_size"].astype("int32")
    lrows = []
    for i in range(400):
        lrows.append(
            (rng.randint(0, 149), rng.randint(0, 79), rng.randint(0, 30),
             i % 7, rng.randint(1, 50) / 1.0,
             rng.randint(0, 40_000) / 4.0, rng.randint(0, 40) / 400.0,
             rng.randint(0, 32) / 400.0,
             rng.choice(["A", "N", "R"]), rng.choice(["O", "F"]),
             base + datetime.timedelta(days=rng.randint(-60, 60)))
        )
    lineitem = pd.DataFrame(
        lrows, columns=["l_orderkey", "l_partkey", "l_suppkey",
                        "l_linenumber", "l_quantity", "l_extendedprice",
                        "l_discount", "l_tax", "l_returnflag",
                        "l_linestatus", "l_shipdate"],
    )
    lineitem["l_linenumber"] = lineitem["l_linenumber"].astype("int32")
    lineitem["l_shipdate"] = lineitem["l_shipdate"].astype("datetime64[us]")
    # deliberately PARTIAL nation dim (keys 0..4 only, customers point
    # 0..9): the FK audit must see genuine orphans in the fuzz world
    nation = pd.DataFrame(
        [(i, f"NATION_{i}", i % 3) for i in range(5)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    nation["n_nationkey"] = nation["n_nationkey"].astype("int32")
    nation["n_regionkey"] = nation["n_regionkey"].astype("int32")
    d = tmp_path_factory.mktemp("fuzzevents")
    ev.to_parquet(d / "events.parquet", index=False)
    orders.to_parquet(d / "orders.parquet", index=False)
    part.to_parquet(d / "part.parquet", index=False)
    lineitem.to_parquet(d / "lineitem.parquet", index=False)
    nation.to_parquet(d / "nation.parquet", index=False)
    import shutil
    shutil.copy(fuzz_world[0] + "/documents.parquet", d / "documents.parquet")
    shutil.copy(fuzz_customers[0] + "/customer.parquet", d / "customer.parquet")
    return str(d), {"events": ev, "orders": orders, "part": part,
                    "lineitem": lineitem, "nation": nation,
                    "documents": fuzz_world[1], "customer": fuzz_customers[1]}


@pytest.mark.parametrize("qname", _EVQ)
def test_fuzz_temporal_queries_parity(spark, fuzz_events_world, qname):
    sf_dir, tables = fuzz_events_world
    spark_df = entrymod.queries()[qname](spark, sf_dir)
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    sp = spark_df.toPandas()
    du = con.sql(entrymod.oracle_sql()[qname]).df()
    cols = sorted(sp.columns)
    assert cols == sorted(du.columns)
    sp = sp.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    du = du.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    assert len(sp) == len(du), (len(sp), len(du))

    def norm(v):
        if v is None or (isinstance(v, float) and v != v):
            return "NULL"
        return repr(v.item() if hasattr(v, "item") else v)

    for c in cols:
        for i in range(len(sp)):
            a, b = norm(sp[c].iloc[i]), norm(du[c].iloc[i])
            assert a == b, (qname, c, i, a, b)


# everything else that derives purely from the four fuzz tables —
# including the FULL derived-ER pipeline (blocking -> scoring ->
# assignment -> pair scorer -> recursive-closure CC) and the prompt
# path, end-to-end on adversarial input
_DERIVEDQ = [
    "token_explode_counts",
    "content_word_filter",
    "argmax_per_group",
    "confidence_renorm",
    "adjective_expansion",
    "mode_per_group",
    "disjoint_split_buckets",
    "mark_first_occurrence",
    "minhash_dedup_clusters",
    "simhash_candidates",
    "connected_components",
    "site_quota_sample",
    "doc_packing",
    "dedup_keep_best",
    "contamination_check",
    "training_prompts",
    "eval_examples",
    "decode_probabilities",
    "er_clusters_derived",
    "er_eval_pairwise",
    "er_eval_bcubed",
    "er_size_stats",
    "incremental_er_attach",
    "prompt_path_assignments_derived",
    "media_metadata",
    "image_header_dims",
    "frame_sample",
    "resize_metadata",
    "payload_histogram",
    "mixture_sample",
    "incremental_dedup",
    "blocklist_filter",
    "cluster_split",
    "phonetic_blocking",
    "zorder_layout",
    "pos_normalize",
    "blocking_join",
    "pricing_summary",
    "top_orders_per_customer",
    "semi_anti_join",
    "conditional_pivot",
    "set_ops",
]


@pytest.mark.parametrize("qname", _DERIVEDQ)
def test_fuzz_derived_queries_parity(spark, fuzz_events_world, qname):
    sf_dir, tables = fuzz_events_world
    spark_df = entrymod.queries()[qname](spark, sf_dir)
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    sp = spark_df.toPandas()
    du = con.sql(entrymod.oracle_sql()[qname]).df()
    cols = sorted(sp.columns)
    assert cols == sorted(du.columns)
    sp = sp.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    du = du.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    assert len(sp) == len(du), (len(sp), len(du))

    def norm(v):
        if v is None or (isinstance(v, float) and v != v):
            return "NULL"
        return repr(v.item() if hasattr(v, "item") else v)

    for c in cols:
        for i in range(len(sp)):
            a, b = norm(sp[c].iloc[i]), norm(du[c].iloc[i])
            assert a == b, (qname, c, i, a, b)


_EMBQ = ["cosine_topk", "ann_ivf", "ann_lsh", "embedding_neardup"]


@pytest.fixture(scope="module")
def fuzz_embeddings(tmp_path_factory):
    """Integer-component float32 embeddings (exact in both float32 and
    float64 — products and sums stay under 2^53), with planted exact
    duplicates and near-duplicates and clustered groups (no zero
    vector — cosine of the zero vector is undefined and outside the
    documented embedding contract on both engines). Exact arithmetic keeps cosine RANKINGS engine-stable; the
    vid tie rule resolves exact ties."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(31)
    vecs = []
    for i in range(120):
        base = [float(rng.randint(-4, 4)) for _ in range(64)]
        vecs.append(base)
        if i % 10 == 0:
            vecs.append(list(base))                      # exact duplicate
        if i % 17 == 0:
            near = list(base)
            near[0] += 1.0                               # near-duplicate
            vecs.append(near)
    for v in vecs:
        if all(x == 0.0 for x in v):
            v[0] = 1.0  # keep every vector inside the nonzero contract
    tbl = pa.table({
        "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
        "embedding": pa.array(
            [np.asarray(v, dtype=np.float32) for v in vecs],
            type=pa.list_(pa.float32()),
        ),
        "label": pa.array([i % 7 for i in range(len(vecs))], type=pa.int32()),
    })
    d = tmp_path_factory.mktemp("fuzzemb")
    pq.write_table(tbl, d / "embeddings.parquet")
    pdf = tbl.to_pandas()
    return str(d), pdf


@pytest.mark.parametrize("qname", _EMBQ)
def test_fuzz_embedding_queries_parity(spark, fuzz_embeddings, qname):
    sf_dir, pdf = fuzz_embeddings
    spark_df = entrymod.queries()[qname](spark, sf_dir)
    con = duckdb.connect()
    con.register("embeddings", pdf)
    sp = spark_df.toPandas()
    du = con.sql(entrymod.oracle_sql()[qname]).df()
    cols = sorted(sp.columns)
    assert cols == sorted(du.columns)
    sp = sp.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    du = du.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    assert len(sp) == len(du), (len(sp), len(du))

    def norm(v):
        if v is None or (isinstance(v, float) and v != v):
            return "NULL"
        return repr(v.item() if hasattr(v, "item") else v)

    for c in cols:
        for i in range(len(sp)):
            a, b = norm(sp[c].iloc[i]), norm(du[c].iloc[i])
            assert a == b, (qname, c, i, a, b)
