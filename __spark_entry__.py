"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship sense-assignment pipeline over the
canonical ``pages`` table (sf0.001 documents lifted into page shape, plus
the deterministic synthetic gold world).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2; ``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL for
every SQL-expressible one (rows-only checks for the iterative / hashing /
streaming-only operators, as the contract allows).

Float discipline for the value-hash comparison: every floating aggregate is
either exact (decimal casts of 2dp inputs) or a single IEEE operation on
exact inputs (one division), so Spark and DuckDB agree bit-for-bit.

Type discipline: the driver hashes through pandas conversion, where DuckDB
maps HUGEINT (integer sums) and DECIMAL aggregates to float64 — every
aggregate is therefore pinned to BIGINT or DOUBLE on BOTH sides
(scripts/check_oracles.py enforces this locally, type-sensitively).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from word_sense_disambiguation_spark.functions.letters import build_letters
from word_sense_disambiguation_spark.functions.text import FUNCTION_WORDS

_FUNC_WORDS_SQL = ", ".join(f"'{w}'" for w in sorted(FUNCTION_WORDS))
# The 128-slot answer-letter dimension as a DuckDB list literal (pure
# Python, no tokenizer: default codepoint probe). None of the symbols is a
# single quote, so plain quoting is safe.
_LETTERS_SQL = "[" + ", ".join("'" + c + "'" for c in build_letters().letters) + "]"
_BPE_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]"
# Explicit ASCII whitespace class for every Spark expression mirrored into
# a DuckDB oracle: Java \s includes U+000B, RE2 \s does not — spelled out
# on BOTH sides (functions.text.WS_CLASS invariant).
_WS = r"[ \t\n\r\f\x0B]"

# Soundex of the first space-separated word of `text`, DuckDB dialect —
# generated from the SAME template Spark evaluates (functions/phonetic.py;
# the one dialect knob is DuckDB's 'g' regexp_replace flag).
from word_sense_disambiguation_spark.functions.phonetic import soundex_sql

_SDX_DOC = soundex_sql("split_part(text, ' ', 1)", dialect="duckdb")

# Morton key of the two 8-bit min-max ranks, DuckDB dialect — same
# template the Spark side evaluates (operators/zorder.py).
from word_sense_disambiguation_spark.operators.zorder import zorder_sql

_ZORDER_DUCK = zorder_sql(["r0", "r1"], 8, dialect="duckdb")
_WORD_RE = r"[A-Za-z0-9]+"
_EN = r"\b(the|and|of|to|is)\b"
_FR = r"\b(le|la|les|et|est)\b"
_ES = r"\b(el|los|las|es|una)\b"
_DE = r"\b(der|die|das|und|ist)\b"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from word_sense_disambiguation_spark.datagen import build_world, world_to_spark
    from word_sense_disambiguation_spark.plans.pipeline import sense_assignments
    from word_sense_disambiguation_spark.sources.pages import pages_from_documents

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    crawl_pages = pages_from_documents(docs)
    world = world_to_spark(spark, build_world(n_pages=200, seed=42))
    pages = crawl_pages.unionByName(world["pages"])
    out = sense_assignments(pages, world["senses"], use_html=False)
    return out.drop("context_words")


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

def _q_token_explode(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), _WS + "+")).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
    )


def _q_content_filter(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), _WS + "+")).alias("token")
    )
    return (
        tok.filter(
            (F.length("token") > 2)
            & ~F.col("token").isin(*sorted(FUNCTION_WORDS))
        )
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )


def _q_pos_normalize(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.select(F.explode(F.split(F.lower(F.trim("text")), _WS + "+")).alias("token"))
        .filter(
            (F.length("token") > 2)
            & ~F.col("token").isin(*sorted(FUNCTION_WORDS))
            & F.col("token").rlike("^[a-z]")
        )
        .distinct()
    )
    idx = (
        F.conv(F.substring(F.md5(F.concat(F.lit("pos:"), F.col("token"))), 1, 8), 16, 10)
        .cast("long") % 7
    )
    pos = (
        F.when(idx <= 2, F.lit("NOUN"))
        .when(idx <= 4, F.lit("VERB"))
        .when(idx == 5, F.lit("ADJ"))
        .otherwise(F.lit("ADV"))
    )
    wn = (
        F.when(pos == "NOUN", F.lit("n"))
        .when(pos == "VERB", F.lit("v"))
        .when(pos == "ADJ", F.lit("a"))
        .otherwise(F.lit("r"))
    )
    return tok.select("token", pos.alias("pos"), wn.alias("wn_pos"))


def _q_blocking_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            # exact decimal sum, then ONE conversion to double — DuckDB's
            # DECIMAL/HUGEINT aggregates pandas-convert to float64, so the
            # driver's value hash needs float64 on both sides.
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


def _q_argmax_per_group(spark, sf_dir):
    """Per-group argmax with a deterministic tiebreak (T12's top-1)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_event"),
            F.col("value").alias("max_value"),
        )
    )


def _q_confidence_renorm(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("value").cast("decimal(18,2)").alias("v")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    return ev.select(
        "user_id",
        "event_id",
        (
            F.col("v").cast("double")
            / F.sum("v").over(w).cast("double")
        ).alias("conf"),
    )


def _q_adjective_expansion(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type").distinct()
    expanded = F.when(
        F.col("event_type") == "click", F.array(F.lit("click"), F.lit("click_s"))
    ).otherwise(F.array(F.col("event_type")))
    return ev.select(
        "event_type", F.explode(expanded).alias("expanded_type")
    )


def _q_mode_per_group(spark, sf_dir):
    """Deterministic mode (count desc, value asc tiebreak) — T18's
    most_common(1) without engine-specific tie behavior."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    w = Window.partitionBy("user_id").orderBy(F.desc("c"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), F.col("c").alias("n"))
    )


def _q_disjoint_split(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("42:"), F.col("o_custkey").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 5
    )
    return (
        orders.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


def _q_langid_accuracy(spark, sf_dir):
    from word_sense_disambiguation_spark.operators.textstats import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select(lang_id(F.col("text")).alias("pred"), "lang").agg(
        F.count("*").alias("n"),
        F.sum((F.col("pred") == F.col("lang")).cast("long")).alias("n_match"),
    )


def _q_mark_first(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    p = F.instr(F.col("text"), " the ")
    return (
        docs.filter(p > 0)
        .select(
            "doc_id",
            F.concat(
                F.substring(F.col("text"), 1, p),
                F.lit("*the*"),
                F.expr("substring(text, instr(text, ' the ') + 4)"),
            ).alias("marked"),
        )
    )


def _q_text_profile(spark, sf_dir):
    from word_sense_disambiguation_spark.operators.textstats import text_profile

    docs = _t(spark, sf_dir, "documents")
    prof = text_profile(docs, "doc_id", "text")
    # quality is a chain of IEEE ops on integer counts — identical in
    # DuckDB; keep it but round for safety at hash boundaries.
    return prof.select(
        "doc_id", "ws_tokens", "bpe_tokens", "pred_lang", F.round("quality", 6).alias("quality")
    )


def _q_token_histogram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n = F.size(F.split(F.trim("text"), _WS + "+"))
    return (
        docs.select(F.floor(n / 10).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def _q_exact_dedup(spark, sf_dir):
    """The REAL exact_duplicates operator (groupBy partial-agg + join back
    on the content hash — skew-safe, never a full-partition window).
    content_hash is dropped from the gate projection so the oracle stays
    hash-function-agnostic (grouping by sha2 == grouping by md5 == grouping
    by the text bytes, absent collisions)."""
    from word_sense_disambiguation_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs, "doc_id", "text").select(
        "doc_id", "canonical_id", "is_duplicate"
    )


def _q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard within small (lang, source) blocks — the verify
    kernel of near-dup detection, on real blocked pairs."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") < 200)
    toks = F.split(F.lower(F.trim("text")), _WS + "+")
    idx = F.sequence(F.lit(0), F.size(toks) - 3)
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)))
    )
    g = docs.filter(F.size(toks) >= 3).select(
        "doc_id", "lang", "source", grams.alias("grams")
    )
    # block-cap hygiene: the (lang, source) key is coarse; cap block size so
    # the self-join can never go near-cartesian at scale (mirrored in the
    # oracle, so results stay hash-identical)
    ok_blocks = (
        g.groupBy("lang", "source")
        .agg(F.count("*").alias("bs"))
        .filter(F.col("bs") <= 64)
        .select("lang", "source")
    )
    g = g.join(F.broadcast(ok_blocks), on=["lang", "source"], how="left_semi")
    a = g.select(
        F.col("doc_id").alias("id_a"), "lang", "source", F.col("grams").alias("ga")
    )
    b = g.select(
        F.col("doc_id").alias("id_b"), "lang", "source", F.col("grams").alias("gb")
    )
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size(F.array_union("ga", "gb")).cast("double")
    return (
        a.join(b, on=["lang", "source"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") > 0.0)
    )


def _q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    d = emb.select(F.col("vec_id").alias("vid"), "embedding")
    dot = F.aggregate(
        F.zip_with("embedding", "qvec", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = dot / (nrm(F.col("embedding")) * nrm(F.col("qvec")))
    scored = d.crossJoin(F.broadcast(q)).select(
        "query_id", "vid", cos.alias("cosine")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vid", "rank")
    )


def _q_ann_ivf(spark, sf_dir):
    """IVF ANN with exhaustive probing (n_probe == n_lists) — exact by
    construction, so the DuckDB full-scan top-k is a hard oracle over the
    whole quantize -> probe -> rerank path."""
    from word_sense_disambiguation_spark.operators.similarity_search import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q_rows = emb.filter(F.col("vec_id") < 3).collect()
    queries_vec = [(int(r.vec_id), list(r.embedding)) for r in q_rows]
    return ivf_topk(emb, queries_vec, k=10, n_lists=16, n_probe=16).select(
        "query_id", "vid", "rank"
    )


def _q_ann_lsh(spark, sf_dir):
    """Multi-table hyperplane LSH ANN with a config that DEGRADES TO EXACT
    (bits=0 -> the single table's sign pattern is empty, every vector and
    every query lands in bucket 0, the candidate set is the full corpus
    and the re-rank is the exact cosine top-k) — the same exhaustive-probe
    trick that put ann_ivf under the hash gate. The REAL operator runs
    end-to-end (signature kernel, bucket join, dedup, re-rank window);
    recall of the production config stays pytest-checked against brute
    force (tests/test_similarity_textstats.py)."""
    from word_sense_disambiguation_spark.operators.similarity_search import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q_rows = emb.filter(F.col("vec_id") < 3).collect()
    queries_vec = [(int(r.vec_id), list(r.embedding)) for r in q_rows]
    return lsh_topk(emb, queries_vec, k=10, bits=0, tables=1).select(
        "query_id", "vid", "rank"
    )


def _q_embedding_neardup(spark, sf_dir):
    """Exact-cosine verify kernel of the embedding near-dup family, over
    all pairs (the production operator equals this on its LSH candidates —
    recall-tested). Threshold sits mid-gap between adjacent cosine values
    so float32-vs-float64 engine noise cannot flip membership."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = dot / (nrm(F.col("va")) * nrm(F.col("vb")))
    return pairs.select("id_a", "id_b", (cos >= 0.2951857).alias("m")).where(
        "m"
    ).select("id_a", "id_b")


def _q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base"),
            F.count("*").alias("n"),
        )
    )


def _q_top_orders_per_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def _q_sessionization(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_no", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_no").alias("n_sessions"), F.count("*").alias("n_events")
    )


def _q_semi_anti_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    )
    without = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    )
    return with_orders.agg(F.count("*").alias("n_with")).crossJoin(
        without.agg(F.count("*").alias("n_without"))
    )


def _q_running_sum(spark, sf_dir):
    """Cumulative per-user running sum (window frame parity)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


def _q_conditional_pivot(spark, sf_dir):
    """Pivot as conditional aggregation (engine-portable form)."""
    ev = _t(spark, sf_dir, "events")
    agg = lambda t: F.sum(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("value").cast("decimal(18,2)"))
    ).cast("double")
    return ev.groupBy("user_id").agg(
        agg("click").alias("sum_click"),
        agg("view").alias("sum_view"),
        F.count("*").alias("n"),
    )


def _q_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT over derived key sets (T6 set-op family)."""
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    both = cust.intersect(orders)
    only_cust = cust.exceptAll(orders.distinct()).distinct()
    return both.agg(F.count("*").alias("n_both")).crossJoin(
        only_cust.agg(F.count("*").alias("n_only_cust"))
    )


def _q_streaming_window_counts(spark, sf_dir):
    """Tumbling-window counts through the *actual* Structured Streaming
    engine; the oracle is the equivalent batch date_trunc aggregate."""
    from word_sense_disambiguation_spark.streaming.ingest import (
        stream_windowed_event_counts,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    # FileStreamSource needs a directory; stage the single parquet file.
    import shutil
    import tempfile

    stage = tempfile.mkdtemp(prefix="wsd_stream_")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), stage)
    # Pin the session zone so hour-window boundaries and rendering are
    # timezone-independent vs the DuckDB naive-timestamp oracle — but
    # RESTORE it afterwards: the gate runs every query in one shared
    # session, and a sticky conf.set would silently change any
    # timezone-sensitive query that happens to run after this one. The
    # stream executes eagerly inside stream_windowed_event_counts, and the
    # returned projection is tz-free (epoch longs), so restoring before
    # returning is safe.
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        out = stream_windowed_event_counts(spark, stage, schema)
    finally:
        if prev_tz is not None:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
        else:
            spark.conf.unset("spark.sql.session.timeZone")
    # epoch seconds (tz-free) + a double sum: both sides hash as int64 /
    # float64 through the driver's pandas conversion.
    return out.select(
        F.col("window_start").cast("long").alias("window_start"),
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


# ---- rows-only (non-SQL-expressible: iterative, hashed, or streaming) ----

def _q_minhash_clusters(spark, sf_dir):
    from word_sense_disambiguation_spark.operators.dedup import (
        minhash_near_duplicate_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicate_clusters(docs, "doc_id", "text", threshold=0.7)


def _q_similarity_join(spark, sf_dir):
    """EXACT all-pairs Jaccard >= 0.70 similarity join over documents
    via prefix filtering — the completeness-guaranteed, float-free
    contrast to the MinHash path: integer percent threshold, rarity-
    ordered doc-bounded prefixes, capped prefix-token blocks,
    token-linear intersection counts, integer cross-multiply verify."""
    from word_sense_disambiguation_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    matches, _oversized = prefix_filter_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", threshold_pct=70
    )
    return matches


def _q_curation_pipeline(spark, sf_dir):
    """The FineWeb-shaped curation composition under the full hash gate
    (the corpus-side analogue of ``er_clusters_derived``): Gopher
    quality gates (engine-default thresholds) -> MinHash near-dup
    clustering over the survivors -> keep-the-best representative per
    cluster (max n_chars, ties min id) -> concat-and-chunk packing
    layout of the kept corpus. Survivors are eagerly localCheckpointed
    (3 consumers: clustering, the score join-back, packing — the
    multi-consumer rule). Every stage already holds its own standalone
    oracle; this entry certifies the COMPOSITION bit-for-bit."""
    from word_sense_disambiguation_spark.operators.dedup import (
        cluster_representatives,
        minhash_near_duplicate_clusters,
    )
    from word_sense_disambiguation_spark.operators.webfilters import (
        pack_documents,
        quality_rule_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    # min_stop_words=0: the synthetic corpus carries no English function
    # words (the stop-word rule itself is oracle- and fuzz-covered by the
    # standalone quality_rule_flags entry); every other gate stays live.
    flags = quality_rule_flags(docs, min_stop_words=0)
    surv = docs.join(
        flags.filter(F.col("keep")).select("doc_id"), on="doc_id"
    ).localCheckpoint(eager=True)
    clusters = minhash_near_duplicate_clusters(
        surv, "doc_id", "text", threshold=0.7
    )
    scored = clusters.join(surv.select("doc_id", "n_chars"), on="doc_id")
    reps = cluster_representatives(scored, "doc_id", "cluster_id", "n_chars")
    kept = surv.join(
        reps.filter(F.col("is_representative")).select("doc_id"), on="doc_id"
    )
    return pack_documents(kept, capacity=256, shards=8)


def _q_dedup_impact(spark, sf_dir):
    """Dataset-card dedup impact: the REAL MinHash near-dup clustering
    (same config as ``minhash_dedup_clusters``) fed to the per-(lang,
    source) keep-one-per-cluster accounting — docs/chars kept and
    dropped as exact BIGINTs, drop ratios as single fixed IEEE
    expressions."""
    from word_sense_disambiguation_spark.operators.dedup import (
        dedup_impact,
        minhash_near_duplicate_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    clusters = minhash_near_duplicate_clusters(docs, "doc_id", "text", threshold=0.7)
    return dedup_impact(docs, clusters)


def _q_simhash_candidates(spark, sf_dir):
    from word_sense_disambiguation_spark.operators.dedup import simhash_candidates

    docs = _t(spark, sf_dir, "documents")
    pairs, _oversized = simhash_candidates(
        docs, "doc_id", "text", max_hamming=3, max_block_size=1024
    )
    return pairs


def _q_connected_components(spark, sf_dir):
    from word_sense_disambiguation_spark.operators.clustering import (
        connected_components,
    )

    ev = _t(spark, sf_dir, "events")
    # deterministic small graph: consecutive-user edges within event_type
    edges = ev.select(
        (F.col("user_id") * 2).alias("src"),
        (F.col("user_id") * 2 + (F.col("event_id") % 2)).alias("dst"),
    ).distinct()
    return connected_components(edges)


def _click_edges(spark, sf_dir):
    """The clickstream transition graph ``markov_transitions`` reads:
    node = event_type:floor(value) page proxy, one directed edge per
    consecutive event pair of one user ((ts, event_id) order —
    deterministic under burst timestamp ties), multiplicities
    preserved."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    node = F.concat(
        F.col("event_type"),
        F.lit(":"),
        F.floor(F.col("value")).cast("long").cast("string"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(node.alias("node"), F.lag(node).over(w).alias("prev"))
    return seq.filter(F.col("prev").isNotNull()).select(
        F.col("prev").alias("src"), F.col("node").alias("dst")
    )


def _q_er_clusters_synthetic(spark, sf_dir):
    from word_sense_disambiguation_spark.datagen import build_world, world_to_spark
    from word_sense_disambiguation_spark.operators.blocking import er_scored_edges
    from word_sense_disambiguation_spark.operators.clustering import block_clusters
    from word_sense_disambiguation_spark.plans.pipeline import sense_assignments

    sw = world_to_spark(spark, build_world(n_pages=150, seed=42))
    assignments = sense_assignments(sw["pages"], sw["senses"]).select(
        "mention_id", "lemma", "pos", "norm_surface", "surface",
        "context_words", "pred_sense_id", "decision",
    )
    return block_clusters(er_scored_edges(assignments))


def _derived_er_corpus(spark, sf_dir, parity=None):
    """The SQL-derivable ER corpus of ``_q_er_clusters_derived`` ->
    (mentions, assignments), both eagerly checkpointed. ``parity`` keeps
    only ``doc_id % 2 == parity`` documents — the deterministic
    base/batch split the incremental-ER query resolves across (the sense
    inventory always derives from the FULL corpus, like a real frozen
    snapshot's shared KB)."""
    from word_sense_disambiguation_spark.operators.candidates import (
        candidates_for_mentions,
    )
    from word_sense_disambiguation_spark.operators.scoring import (
        assign_senses,
        score_candidates,
    )

    senses = _derived_sense_inventory(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), _WS + "+")
    if parity is not None:
        docs = docs.filter(F.col("doc_id") % 2 == parity)
    tokd = docs.select(
        "doc_id", F.posexplode(toks).alias("position", "tok")
    ).filter(
        F.col("tok").rlike("^[a-z]+$")
        & (F.length("tok") > 3)
        & ((F.col("doc_id") + F.col("position")) % 23 == 0)
    )
    kstr = ((F.col("doc_id") + F.col("position")) % 3).cast("string")
    # every 13th mention is an out-of-inventory lemma (tok||'q') -> the
    # no_definitions path; every 7th gets a junk context -> NOTA; the rest
    # carry the gloss-token triple of sense (doc_id+position)%3 -> assigned
    # (with an all-tie sense_rank fallback when that k >= n_senses(lemma))
    lemma = F.when(
        (F.col("doc_id") + F.col("position")) % 13 == 0,
        F.concat(F.col("tok"), F.lit("q")),
    ).otherwise(F.col("tok"))
    planted_ctx = F.array(
        F.lit("sense"),
        kstr,
        F.substring(F.md5(F.concat(F.lit("t:"), F.col("tok"), kstr)), 1, 6),
    )
    junk_ctx = F.array(F.lit("zzzz"))
    mentions = tokd.select(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"),
            F.col("position").cast("string"),
        ).alias("mention_id"),
        F.col("doc_id").cast("string").alias("url"),
        F.col("position"),
        lemma.alias("surface"),
        lemma.alias("norm_surface"),
        lemma.alias("lemma"),
        F.lit("n").alias("pos"),
        F.lit(0).alias("sentence_id"),
        F.when((F.col("doc_id") + F.col("position")) % 7 == 0, junk_ctx)
        .otherwise(planted_ctx)
        .alias("context_words"),
    ).localCheckpoint(eager=True)
    assignments = assign_senses(
        score_candidates(candidates_for_mentions(mentions, senses), use_cosine=False)
    ).select(
        "mention_id", "lemma", "pos", "norm_surface", "surface",
        "context_words", "pred_sense_id", "decision",
    ).localCheckpoint(eager=True)
    return mentions, assignments


def _derived_er_cluster(assignments):
    """Derived-world snapshot build: surface-key blocking (block cap 40,
    oversized-star recovery) + sense-only pair scoring -> block-local
    clustering."""
    from word_sense_disambiguation_spark.operators.blocking import er_scored_edges
    from word_sense_disambiguation_spark.operators.clustering import block_clusters

    return block_clusters(
        er_scored_edges(
            assignments, max_block_size=40, w_jw=0.0, w_cos=0.0, w_sense=1.0
        )
    )


def _q_er_clusters_derived(spark, sf_dir):
    """End-to-end ER pipeline under the full hash gate (the r3 verdict's
    one remaining verification gap): derived mentions -> REAL broadcast
    candidate join -> REAL Lesk-only scoring -> REAL assign_senses
    (hash-agg max_by, tau reject, tie-break by sense_rank) -> REAL
    surface-key blocking with oversized-star recovery and REAL pair
    scoring (sense-only weights, ``er_scored_edges``) -> REAL block-local
    clustering (``block_clusters``).

    The corpus is SQL-derivable: mentions are every 23rd alphabetic >3-char
    token of ``documents`` (inventory lemmas from the same derived-sense
    trick as ``training_prompts``); each mention's context is PLANTED as
    the gloss-token triple of sense ``(doc_id+position)%3`` (or a junk
    token on every 7th slot -> the NOTA path), so assignment, rejection,
    missing-inventory, argmax ties (planted k >= n_senses gives an
    all-overlap-1 tie resolved by sense_rank), small-block all-pairs AND
    oversized star recovery are ALL exercised and hash-checked. Lesk-only
    + sense-only weights keep every decision integer-exact (score<tau iff
    overlap==0), so DuckDB replays the whole composition — blocking,
    argmax, decisions, edges, and a recursive-CTE transitive closure —
    without a float anywhere. Reference lifecycle anchor:
    /root/reference/wsd/word_sense_disambiguation.py:375-403 + the
    prediction-equality match rule of wsd/benchmark.py:126."""
    _mentions, assignments = _derived_er_corpus(spark, sf_dir)
    return _derived_er_cluster(assignments)


def _q_er_eval_pairwise(spark, sf_dir):
    """Pairwise P/R/F1 of the derived-world ER clustering against its
    GENERATIVE gold — the standard record-linkage evaluation (pair
    decision surface), computed from cluster-size combinatorics with no
    pair materialization (``evaluation.pairwise_cluster_metrics``).

    Gold for mention (doc, pos) is the planted identity
    ``base_token : (doc+pos)%3`` — the token BEFORE the every-13th-slot
    out-of-inventory suffix, so OOV mentions are gold-linked to their
    in-inventory twins but predicted apart (real FN pairs), junk-context
    slots (every 7th) land in NOTA fallback singletons (more FNs), and
    the planted-k >= n_senses all-tie fallback collapses distinct gold
    senses onto sense_rank 0 (real FP pairs). Every count is
    BIGINT-exact; P/R/F1 are single IEEE divisions — DuckDB replays the
    whole composition (closure + contingency combinatorics) exactly.
    Reference parity anchor: the prediction-equality match rule of
    /root/reference/wsd/benchmark.py:126 lifted to the pair surface."""
    from word_sense_disambiguation_spark.operators.evaluation import (
        pairwise_cluster_metrics,
    )

    return pairwise_cluster_metrics(_derived_er_labeled(spark, sf_dir))


def _derived_er_labeled(spark, sf_dir):
    """(pred, gold) per derived-world mention: predicted entity (CC
    output, own id for unclustered) vs the planted generative identity
    — shared by the pairwise and B-cubed evaluation queries."""
    mentions, assignments = _derived_er_corpus(spark, sf_dir)
    cc = _derived_er_cluster(assignments)
    slot = F.col("url").cast("long") + F.col("position")
    base_tok = F.when(
        slot % 13 == 0, F.expr("substring(surface, 1, length(surface) - 1)")
    ).otherwise(F.col("surface"))
    gold = F.concat(base_tok, F.lit(":"), (slot % 3).cast("string"))
    return (
        mentions.select("mention_id", "url", "position", "surface")
        .join(cc, on="mention_id", how="left")
        .select(
            F.coalesce(F.col("entity_id"), F.col("mention_id")).alias("pred"),
            gold.alias("gold"),
        )
    )


def _q_er_eval_bcubed(spark, sf_dir):
    """B-cubed P/R/F1 of the same derived-world clustering vs the same
    generative gold as ``er_eval_pairwise`` — the per-MENTION metric
    family (Bagga & Baldwin; Amigó et al. 2009), where a mega-cluster
    counts once per member instead of quadratically. One partial-combined
    contingency groupBy; per-cell contributions are INTEGER
    ``c*((c*10⁹) DIV n)`` (the scaled-DIV discipline — no order-dependent
    float sum), summed as DECIMAL(38,0); each metric is one fixed IEEE
    expression DuckDB replays bit-for-bit (numerators < 2^53 at oracle
    scale, so even the final casts are exact). Reference parity anchor:
    wsd/benchmark.py:126 lifted to the per-mention B³ surface."""
    from word_sense_disambiguation_spark.operators.evaluation import (
        b_cubed_metrics,
    )

    return b_cubed_metrics(_derived_er_labeled(spark, sf_dir))


def _q_mutual_best_match(spark, sf_dir):
    """One-to-one record linkage over the Fellegi-Sunter corrupted-
    customer world: the SAME nation-blocked, three-field FS-scored pair
    table as ``fellegi_sunter``, resolved to at-most-one partner per
    side by ``mutual_best_match`` (argmax both ways — two partial-
    combined max_by aggregates + one contracted equi-join, never a
    row_number window). Integer milli scores make the argmax tie rule
    (score DESC, partner id ASC) exactly replayable; min_score=0 drops
    the clear non-matches before the argmax, so a record whose true
    partner scored below zero simply goes unmatched (no forced pair)."""
    from word_sense_disambiguation_spark.operators.pairs import (
        mutual_best_match,
    )

    return mutual_best_match(
        _fs_scored_customers(spark, sf_dir), score_col="total_milli", min_score=0
    ).select("id_a", "id_b", F.col("score").cast("long").alias("score"))


def _q_pr_sweep(spark, sf_dir):
    """Threshold-calibration curve over the Fellegi-Sunter corrupted-
    customer world: the SAME nation-blocked, three-field FS-scored pair
    table as ``fellegi_sunter`` (UNfiltered — the sweep needs the whole
    score axis), gold label = same custkey (the corrupted copy of k IS
    record k), swept by ``pr_threshold_sweep``: one row per distinct
    integer milli score with exact tp/fp/fn of "match iff score >= t"
    and single-IEEE-division precision/recall/F1. One partial-combined
    groupBy(score) contracts the pairs to the <= 3^3-point score
    alphabet; the cumulative windows run over that tiny table."""
    from word_sense_disambiguation_spark.operators.evaluation import (
        pr_threshold_sweep,
    )

    scored = _fs_scored_customers(spark, sf_dir)
    labeled = scored.select(
        F.col("total_milli").alias("score"),
        (F.col("id_a") == F.col("id_b")).alias("is_match"),
    )
    return pr_threshold_sweep(labeled, "score", "is_match")




def _q_threshold_curve(spark, sf_dir):
    """Cluster-shape-vs-threshold curve over the FS corrupted-customer
    world: four candidate cutoffs (0/1500/3000/4500 milli) each run the
    REAL adaptive CC over the pairs scoring at or above them — entity
    counts, max/mean cluster size per point. Node ids are namespaced
    ('a:'/'b:') so the original and its corrupted copy are distinct
    records sharing a key."""
    from word_sense_disambiguation_spark.operators.clustering import (
        threshold_cluster_curve,
    )

    scored = _fs_scored_customers(spark, sf_dir)
    pairs = scored.select(
        F.concat(F.lit("a:"), F.col("id_a").cast("string")).alias("id_a"),
        F.concat(F.lit("b:"), F.col("id_b").cast("string")).alias("id_b"),
        F.col("total_milli").alias("score"),
    )
    return threshold_cluster_curve(pairs, thresholds=(0, 1500, 3000, 4500))


def _q_er_size_stats(spark, sf_dir):
    """One-row shape audit of the derived-world ER clustering (same
    pred construction as er_eval_pairwise: CC entity or own-id
    fallback): record/entity counts, max cluster, singleton share, mean
    size, dedup ratio — exact BIGINTs, single IEEE divisions."""
    from word_sense_disambiguation_spark.operators.clustering import (
        cluster_size_stats,
    )

    return cluster_size_stats(
        _derived_er_labeled(spark, sf_dir), cluster_col="pred"
    )


def _q_incremental_er_attach(spark, sf_dir):
    """Incremental ER under the full hash gate: the derived corpus is split
    into a frozen base (even doc_ids, clustered with the REAL snapshot
    stack) and a batch (odd doc_ids) resolved against it with the REAL
    ``attach_mentions_to_clusters`` — per-(key, entity) representative
    aggregation, best-entity max_by attach, and residual blocking +
    scoring -> block-local clustering mint, all sense-only so DuckDB replays base closure,
    attach argmax, and residual closure exactly (two recursive CTEs).
    Frozen-base semantics: a batch mention can join a base entity but
    never merge two — the bounded-work-per-increment contract a 10^12-row
    deployment needs. Reference lifecycle anchor: resolve-against-a-fixed-
    snapshot, /root/reference/wsd/word_sense_disambiguation.py:375-403."""
    from word_sense_disambiguation_spark.operators.incremental_er import (
        attach_mentions_to_clusters,
    )

    base_m, base_a = _derived_er_corpus(spark, sf_dir, parity=0)
    batch_m, batch_a = _derived_er_corpus(spark, sf_dir, parity=1)
    cc = _derived_er_cluster(base_a)
    # the snapshot contract: EVERY base mention has a canonical id
    base_clusters = (
        base_m.select("mention_id")
        .join(cc, on="mention_id", how="left")
        .select(
            "mention_id",
            F.coalesce(F.col("entity_id"), F.col("mention_id")).alias("entity_id"),
        )
    )
    resolved, _oversized = attach_mentions_to_clusters(
        batch_a,
        base_a,
        base_clusters,
        w_jw=0.0,
        w_cos=0.0,
        w_sense=1.0,
        max_block_size=40,
    )
    return resolved.select(
        "mention_id", "entity_id", "attach_source", "best_score"
    )


def _q_resize_metadata(spark, sf_dir):
    from word_sense_disambiguation_spark.operators.multimodal import resize_metadata
    from word_sense_disambiguation_spark.sources.pages import pages_from_documents

    docs = _t(spark, sf_dir, "documents")
    return resize_metadata(pages_from_documents(docs), "url", "html")


def _q_payload_histogram(spark, sf_dir):
    from word_sense_disambiguation_spark.operators.multimodal import (
        payload_byte_histogram,
    )
    from word_sense_disambiguation_spark.sources.pages import pages_from_documents

    docs = _t(spark, sf_dir, "documents")
    return payload_byte_histogram(pages_from_documents(docs), "url", "html")


def _q_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing over the fake decoder: every 8th frame of
    each payload's n_frames (a template constant, see media_metadata)."""
    from word_sense_disambiguation_spark.operators.multimodal import frame_sample
    from word_sense_disambiguation_spark.sources.pages import pages_from_documents

    docs = _t(spark, sf_dir, "documents")
    return frame_sample(pages_from_documents(docs), "url", "html", every_n=8)






def _q_media_metadata(spark, sf_dir):
    from word_sense_disambiguation_spark.operators.multimodal import media_metadata
    from word_sense_disambiguation_spark.sources.pages import pages_from_documents

    docs = _t(spark, sf_dir, "documents")
    return media_metadata(pages_from_documents(docs), "url", "html", "image")


def _q_image_header_dims(spark, sf_dir):
    """REAL image decode under the hash gate: synthesize VALID PNG/JPEG
    byte layouts per doc (dims are deterministic doc_id formulas), then
    let media_metadata's pure-Python header parser read the dimensions
    back out of the actual bytes. The oracle computes the same fields from
    the planting formulas — a parser that misreads any byte mismatches."""
    import pandas as pd

    from word_sense_disambiguation_spark.datagen import synth_jpeg, synth_png
    from word_sense_disambiguation_spark.operators.multimodal import media_metadata

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w = 16 + (d * 7) % 1000
                h = 16 + (d * 13) % 1000
                payloads.append(
                    synth_png(w, h, filler=d % 7)
                    if d % 2 == 0
                    else synth_jpeg(w, h, filler=d % 7)
                )
            yield pd.DataFrame(
                {"url": pdf["doc_id"].astype("int64").astype(str), "payload": payloads}
            )

    media = docs.mapInPandas(build, schema="url string, payload binary")
    meta = media_metadata(media, "url", "payload", media_type="image")
    return meta.select(
        F.col("url").cast("long").alias("doc_id"),
        "media_type", "n_bytes", "width", "height", "n_frames",
    )


def _q_site_quota_sample(spark, sf_dir):
    """Per-site quota sampling (CCNet-style corpus curation): keep the 7
    deterministically-hash-smallest pages per site via the salted
    two-level top-K (never a per-site window — hot-site safe). Oracle is
    the definitionally-equivalent global row_number form."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        site_quota_sample,
    )
    from word_sense_disambiguation_spark.sources.pages import pages_from_documents

    docs = _t(spark, sf_dir, "documents")
    return site_quota_sample(pages_from_documents(docs), "url", quota=7, seed=42)


def _q_quality_rule_flags(spark, sf_dir):
    """Gopher-style per-document quality gates, pure codegen: length,
    mean word length, symbol ratio, duplicate-sentence fraction."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        quality_rule_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    return quality_rule_flags(docs)


def _q_boilerplate_dedup(spark, sf_dir):
    """Cross-corpus boilerplate sentence removal (CCNet line-dedup
    analogue): sentences appearing in > 3 distinct documents drop from
    every document; survivors reassemble in original order."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        drop_boilerplate_sentences,
    )

    docs = _t(spark, sf_dir, "documents")
    return drop_boilerplate_sentences(docs, "doc_id", "text", max_docs=3)


def _q_url_canonicalize(spark, sf_dir):
    """URL canonicalization over deterministically-messed-up variants of
    the crawl urls (scheme case, www, default port, tracking params,
    param order, trailing slash, fragment). The oracle computes the
    EXPECTED canonical directly from the planting formulas — an
    independent ground truth, not a mirrored implementation."""
    from word_sense_disambiguation_spark.operators.webfilters import canonical_url

    docs = _t(spark, sf_dir, "documents")
    pp = F.concat(
        F.lit("/"), F.col("source"), F.lit("/doc-"),
        F.lpad(F.col("doc_id").cast("string"), 9, "0"),
    )
    base = F.concat(F.lit("https://crawl.example"), pp)
    m = F.col("doc_id") % 7
    variant = (
        F.when(m == 0, base)
        .when(m == 1, F.concat(F.lit("HTTPS://WWW.Crawl.Example:443"), pp))
        .when(m == 2, F.concat(base, F.lit("?z=9&utm_campaign=x&a=1&utm_source=s")))
        .when(m == 3, F.concat(base, F.lit("/")))
        .when(m == 4, F.concat(base, F.lit("#frag")))
        # lower-hex percent encodings normalize to UPPERCASE (RFC 3986)
        .when(m == 5, F.concat(base, F.lit("/x%7ey?n=%2fv")))
        # DNS root-label trailing dot on the host
        .otherwise(F.concat(F.lit("https://crawl.example."), pp))
    )
    return docs.select(
        "doc_id",
        variant.alias("url_variant"),
        canonical_url(variant).alias("canonical_url"),
    )


def _q_repetition_stats(spark, sf_dir):
    """Gopher-family within-document repetition signals: top-2-gram and
    duplicate-5-gram character fractions, linear explode+groupBy shape
    (never a per-doc O(G^2) lambda scan)."""
    from word_sense_disambiguation_spark.operators.textstats import (
        repetition_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


def _q_pii_redaction(spark, sf_dir):
    """Rule-based PII scrub over deterministically planted addresses:
    every doc gets an email, an IPv4 and an international phone (every
    3rd also a dashed NANP number) appended by formula, so replacement
    AND the per-rule counts are exercised on every row; the oracle
    replants and replays the same ordered regexp chain (Java and RE2
    agree on these explicit-class, lookaround-free patterns)."""
    from word_sense_disambiguation_spark.operators.webfilters import redact_pii

    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact doc"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(".7 call +4930"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" and 555-867-5309")).otherwise(
            F.lit("")
        ),
    )
    return redact_pii(docs.select("doc_id", planted.alias("text")))


def _q_doc_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing layout (GPT-style training-data
    prep): deterministic shard + order, one running-sum window per shard,
    capacity-256 chunk spans per document (straddles included)."""
    from word_sense_disambiguation_spark.operators.webfilters import pack_documents

    docs = _t(spark, sf_dir, "documents")
    return pack_documents(docs, capacity=256, shards=8)


def _q_contamination(spark, sf_dir):
    """Test-set decontamination: every 20th document plays the eval set,
    the rest the training corpus; per eval doc, the fraction of its
    distinct token 8-grams found anywhere in training. Broadcast eval
    gram set -> map-side train filter -> dedup survivors (never a global
    train-gram distinct)."""
    from word_sense_disambiguation_spark.operators.dedup import (
        contamination_check,
    )

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    tr = docs.filter(F.col("doc_id") % 20 != 0)
    return contamination_check(ev, tr, n=8)


def _q_substring_span_dedup(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2022 ExactSubstr):
    8-token window hashes -> ONE partial-combined groupBy finds corpus-
    wide duplicates + the canonical first occurrence -> non-canonical
    windows merge per doc (gaps-and-islands) into removable spans."""
    from word_sense_disambiguation_spark.operators.dedup import (
        duplicate_span_stats,
    )

    return duplicate_span_stats(_t(spark, sf_dir, "documents"), n=8)


def _q_ccnet_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail assignment: the fastText-architecture
    quality score (exact BIGINT logits, one IEEE division) bucketed into
    per-language EXACT tertiles via rank_buckets — cut points are type-1
    order statistics (integer ceil-rank arithmetic), assignment is a
    broadcast join + codegen CASE, ties at a cut stay low. Labels
    ascend with quality: tail < middle < head."""
    from word_sense_disambiguation_spark.operators.quantiles import (
        rank_buckets,
    )
    from word_sense_disambiguation_spark.operators.webfilters import (
        quality_classifier_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = quality_classifier_scores(docs).join(
        docs.select("doc_id", "lang"), on="doc_id"
    ).select("doc_id", "lang", "score")
    return rank_buckets(
        scored, ["lang"], "score", n_buckets=3,
        labels=("tail", "middle", "head"),
    )


def _q_length_outliers(spark, sf_dir):
    """Robust corpus anomaly gate: per (lang, source) slice, flag
    documents whose n_chars sits more than 3.5 MADs from the slice
    median — both order statistics exact type-1 ranks, the threshold an
    integer cross-multiply, zero floats."""
    from word_sense_disambiguation_spark.operators.quantiles import (
        mad_outliers,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return mad_outliers(docs, ["lang", "source"], "n_chars")


def _q_rrf_hybrid(spark, sf_dir):
    """Reciprocal-rank fusion of two per-language ranked lists (a
    length-priority list and a freshness-by-id list, 20 deep each) —
    the hybrid-retrieval merge in exact scaled-DIV integers
    (sum(10^12 DIV (60 + rank)), pinned (score DESC, item ASC) order)."""
    from pyspark.sql import Window

    from word_sense_disambiguation_spark.operators.similarity_search import (
        rrf_fuse,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    wlen = Window.partitionBy("lang").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wid = Window.partitionBy("lang").orderBy(F.asc("doc_id"))
    by_len = docs.select(
        F.col("lang").alias("query_id"),
        F.col("doc_id").alias("item_id"),
        F.row_number().over(wlen).cast("long").alias("rank"),
        F.lit("length").alias("source"),
    ).filter(F.col("rank") <= 20)
    by_id = docs.select(
        F.col("lang").alias("query_id"),
        F.col("doc_id").alias("item_id"),
        F.row_number().over(wid).cast("long").alias("rank"),
        F.lit("fresh").alias("source"),
    ).filter(F.col("rank") <= 20)
    return rrf_fuse(by_len.unionByName(by_id), k=60, top_n=10)


def _q_quality_classifier(spark, sf_dir):
    """fastText-architecture linear quality scorer: integer milli-weight
    per token (60-bit md5 hash projection), exact BIGINT logit sum, one
    IEEE division. Default hash-weights path: zero shuffle, pure
    codegen; the learned-vocab broadcast path shares the contract."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        quality_classifier_scores,
    )

    return quality_classifier_scores(_t(spark, sf_dir, "documents"))


def _q_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage: a deterministically
    corrupted copy of the customer table (name edits, segment blanking,
    code char swap — all keyed on custkey) is blocked against the
    original on nation; three Levenshtein agreement levels per field
    index integer milli log-weights, the exact BIGINT total drives the
    classic match / possible / non_match three-zone decision; clear
    non-matches are dropped."""
    return _fs_scored_customers(spark, sf_dir).filter(
        F.col("decision") != "non_match"
    )


def _fs_scored_customers(spark, sf_dir):
    """The FS corrupted-customer world, scored — shared by
    ``fellegi_sunter`` and ``mutual_best_match``."""
    from word_sense_disambiguation_spark.operators.pairs import (
        fellegi_sunter_scores,
    )

    pairs, comps = _fs_customer_pairs(spark, sf_dir)
    return fellegi_sunter_scores(pairs, comps, match_milli=3000, review_milli=0)


def _fs_customer_pairs(spark, sf_dir):
    """The raw FS corrupted-customer pair world (nation-blocked pairs +
    the three comparison specs) — shared by ``fellegi_sunter``,
    ``mutual_best_match`` and ``fs_pattern_counts``."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    code = F.substring(F.md5(k.cast("string")), 1, 6)
    orig = cust.select(
        k.alias("id_a"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("name_a"),
        F.col("c_mktsegment").alias("seg_a"),
        code.alias("code_a"),
    )
    name_b = (
        F.when(k % 4 == 1, F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Custmr")))
        .when(k % 4 == 2, F.substring(F.col("c_name"), 2, 1000))
        .when(k % 4 == 3, F.concat(F.col("c_name"), F.lit("x")))
        .otherwise(F.col("c_name"))
    )
    corrupt = cust.select(
        k.alias("id_b"),
        F.col("c_nationkey").alias("nk"),
        name_b.alias("name_b"),
        F.when(k % 5 == 0, F.lit("UNKNOWN")).otherwise(F.col("c_mktsegment")).alias("seg_b"),
        F.when(k % 6 == 0, F.concat(F.lit("z"), F.substring(code, 2, 5))).otherwise(code).alias("code_b"),
    )
    pairs = orig.join(corrupt, on="nk")
    comps = [
        {"name": "name", "left": "name_a", "right": "name_b", "close": 3, "w": (1500, 600, -1200)},
        {"name": "segment", "left": "seg_a", "right": "seg_b", "close": 0, "w": (800, 0, -800)},
        {"name": "code", "left": "code_a", "right": "code_b", "close": 2, "w": (2500, 1000, -2000)},
    ]
    return pairs, comps


def _q_token_diversity(spark, sf_dir):
    """Simpson token diversity per document — the log-free entropy
    analogue (exact integers until one IEEE division); empty docs keep
    a NULL-diversity row."""
    from word_sense_disambiguation_spark.operators.textstats import (
        token_diversity,
    )

    return token_diversity(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _q_cooccurrence(spark, sf_dir):
    """Skip-gram co-occurrence (window 2, min_count 5) over documents
    with the exp-PMI association ratio — exact BIGINT counts, honest
    pre-floor totals, one fixed IEEE tree for the ratio (log-free on
    purpose: rank on the ratio IS ranking on PMI)."""
    from word_sense_disambiguation_spark.operators.textstats import (
        cooccurrence_counts,
    )

    return cooccurrence_counts(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        window=2, min_count=5,
    )


def _q_vocabulary(spark, sf_dir):
    """Corpus vocabulary over documents: min_count=5 floor, top-500 by
    (count DESC, token ASC), contiguous 1-based ranks. The top-N is
    TakeOrderedAndProject (bounded heaps, no full sort shuffle); the
    rank window runs over the already-limited 500 rows."""
    from word_sense_disambiguation_spark.operators.textstats import (
        build_vocabulary,
    )

    return build_vocabulary(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        min_count=5, top_n=500,
    )


def _q_script_profile(spark, sf_dir):
    """Per-document Unicode script composition over documents — literal
    BMP range classes (never \\p{Script}: Java and RE2 disagree on
    property classes), codepoint-deletion counts, fixed-priority
    dominant pick, one IEEE division for the ratio."""
    from word_sense_disambiguation_spark.operators.textstats import (
        script_profile,
    )

    return script_profile(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _q_sparsify_topk(spark, sf_dir):
    """kNN sparsification over the close-key customer edge world with
    keyed integer scores: keep edges in either endpoint's top-2 by
    (score DESC, partner ASC). Salted two-level windows inside the
    operator; the oracle replays the UNSALTED per-node top-k (the salt
    never changes the result — the k best of a set are among the k
    best of each part)."""
    from word_sense_disambiguation_spark.operators.clustering import (
        sparsify_topk_edges,
    )

    cust = _t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("ka"), F.col("c_nationkey").alias("nk")
    )
    b = cust.select(
        F.col("c_custkey").alias("kb"), F.col("c_nationkey").alias("nk")
    )
    edges = (
        a.join(b, on="nk")
        .filter((F.col("ka") < F.col("kb")) & (F.col("kb") - F.col("ka") <= 3))
        .select(
            F.col("ka").alias("id_a"),
            F.col("kb").alias("id_b"),
            ((F.col("ka") * 7 + F.col("kb")) % 100).cast("long").alias("score"),
        )
    )
    return sparsify_topk_edges(edges, k=2)


def _q_fs_match_probability(spark, sf_dir):
    """FS posterior decode over the corrupted-customer pair world with
    documented prior m/u literals: P(match|pattern) as one fixed
    left-associated IEEE tree of CASE-selected literals (the Splink
    predict() layer; estimate_fs_weights supplies learned params in
    real use). Non-dyadic literals are fine — literal parsing and each
    multiply/divide are correctly rounded on both engines as long as the
    oracle spells the identical parenthesization. Dyadic 0.5 threshold."""
    from word_sense_disambiguation_spark.operators.pairs import (
        fs_match_probability,
    )

    pairs, comps = _fs_customer_pairs(spark, sf_dir)
    for spec, m, u in zip(
        comps,
        [(0.05, 0.15, 0.8), (0.1, 0.1, 0.8), (0.02, 0.08, 0.9)],
        [(0.9, 0.07, 0.03), (0.25, 0.05, 0.7), (0.95, 0.04, 0.01)],
    ):
        spec["m"], spec["u"] = m, u
    return fs_match_probability(pairs, comps, lam=0.1, threshold=0.5)


def _q_degree_pruned_edges(spark, sf_dir):
    """Pre-CC degree capping over the same close-key customer edge world
    as ``cluster_cohesion``: edges touching nodes with degree > 4 are
    dropped and the hubs surfaced (no silent caps) — the hygiene step
    that stops one hub surface key welding the match graph into a
    mega-cluster. Both outputs ride one tagged union: ('edge', id_a,
    id_b) for kept edges, ('hub', node, degree) for the exclusions."""
    from word_sense_disambiguation_spark.operators.clustering import (
        prune_high_degree_edges,
    )

    cust = _t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("ka"), F.col("c_nationkey").alias("nk")
    )
    b = cust.select(
        F.col("c_custkey").alias("kb"), F.col("c_nationkey").alias("nk")
    )
    edges = (
        a.join(b, on="nk")
        .filter((F.col("ka") < F.col("kb")) & (F.col("kb") - F.col("ka") <= 3))
        .select(F.col("ka").alias("id_a"), F.col("kb").alias("id_b"))
    )
    kept, hubs = prune_high_degree_edges(edges, max_degree=4)
    return kept.select(
        F.lit("edge").alias("kind"),
        F.col("id_a").alias("x"),
        F.col("id_b").alias("y"),
    ).unionByName(
        hubs.select(
            F.lit("hub").alias("kind"),
            F.col("node").alias("x"),
            F.col("degree").alias("y"),
        )
    )


def _q_ngram_containment(spark, sf_dir):
    """Asymmetric 3-gram containment over the same capped (lang, source)
    blocks as ``ngram_jaccard_block`` — the subset-duplicate catch
    (short doc quoted inside a long one scores 1.0 on its own side where
    Jaccard dilutes). Exact integer set sizes, one IEEE division per
    side, dyadic 0.75 threshold."""
    from word_sense_disambiguation_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") < 200)
    toks = F.split(F.lower(F.trim("text")), _WS + "+")
    g = docs.filter(F.size(toks) >= 3).select("doc_id", "lang", "source")
    ok_blocks = (
        g.groupBy("lang", "source")
        .agg(F.count("*").alias("bs"))
        .filter(F.col("bs") <= 64)
        .select("lang", "source")
    )
    g = g.join(F.broadcast(ok_blocks), on=["lang", "source"], how="left_semi")
    pairs = (
        g.select(F.col("doc_id").alias("id_a"), "lang", "source")
        .join(
            g.select(F.col("doc_id").alias("id_b"), "lang", "source"),
            on=["lang", "source"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return ngram_containment_pairs(
        docs, "doc_id", "text", threshold=0.75, pairs=pairs
    )


def _q_tfidf_cosine(spark, sf_dir):
    """TF-IDF cosine pair verification over adjacent-id document pairs
    (a deterministic stand-in for a blocker's candidates): integer
    scaled-DIV idf weights, DECIMAL-exact dot/norm sums, cos^2 as one
    fixed IEEE tree — no sqrt anywhere, so DuckDB replays it
    bit-for-bit. threshold=0.75 so the squared bound (0.5625) is an
    exact dyadic rational on both engines."""
    from word_sense_disambiguation_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("id_a"))
    pairs = (
        ids.select("id_a", (F.col("id_a") + 1).alias("id_b"))
        .unionByName(ids.select("id_a", (F.col("id_a") + 2).alias("id_b")))
        .join(
            docs.select(F.col("doc_id").alias("id_b")),
            on="id_b",
            how="left_semi",
        )
    )
    return tfidf_cosine_pairs(docs, "doc_id", "text", pairs, threshold=0.75)


def _q_cluster_cohesion(spark, sf_dir):
    """Per-cluster cohesion audit over a deterministic customer world:
    clusters are (nation, segment) groups, candidate edges link same-
    nation customers with close keys (so some edges cross segment
    boundaries and must be excluded as inter-cluster), and a keyed
    modulus picks which edges 'matched'. Exact doubled-integer counts,
    one IEEE division; singletons -> NULL cohesion. The operator is the
    CC loop-closer: it measures how far a transitive closure stepped
    beyond its edge evidence (over-merge chains score low)."""
    from word_sense_disambiguation_spark.operators.clustering import (
        cluster_cohesion,
    )

    cust = _t(spark, sf_dir, "customer")
    members = cust.select(
        F.col("c_custkey").alias("mention_id"),
        F.concat(
            F.col("c_nationkey").cast("string"), F.lit("|"), F.col("c_mktsegment")
        ).alias("entity_id"),
    )
    a = cust.select(
        F.col("c_custkey").alias("ka"), F.col("c_nationkey").alias("nk")
    )
    b = cust.select(
        F.col("c_custkey").alias("kb"), F.col("c_nationkey").alias("nk")
    )
    edges = (
        a.join(b, on="nk")
        .filter((F.col("ka") < F.col("kb")) & (F.col("kb") - F.col("ka") <= 3))
        .select(
            F.col("ka").alias("id_a"),
            F.col("kb").alias("id_b"),
            ((F.col("ka") + F.col("kb")) % 4 != 0).alias("is_match"),
        )
    )
    return cluster_cohesion(members, edges)


def _q_fs_pattern_counts(spark, sf_dir):
    """The Splink-style EM contraction under the hash gate: the FS
    customer pair world collapsed to its agreement-pattern table (one
    partial-combined groupBy over the per-field three-level vector,
    <= 3^F rows out). This is the distributed half of
    ``estimate_fs_weights`` — the EM itself runs driver-side on these
    exact-integer counts (float recovery is pytest-gated on planted
    corruption rates; the counts it consumes hash-replay here)."""
    from word_sense_disambiguation_spark.operators.pairs import (
        fs_agreement_patterns,
    )

    pairs, comps = _fs_customer_pairs(spark, sf_dir)
    return fs_agreement_patterns(pairs, comps)


def _q_blocking_quality(spark, sf_dir):
    """Blocking audit: pair completeness + reduction ratio of the
    SimHash@3 blocker against exact all-pairs 3-gram Jaccard >= 0.7
    gold. Gold is derived in-query at audit scale (a labeled truth set
    is an INPUT at crawl scale); three one-row aggregations joined on a
    constant key, exact integer total_pairs (div 2, never through a
    double)."""
    from word_sense_disambiguation_spark.operators.blocking import (
        blocking_quality,
    )
    from word_sense_disambiguation_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    cand, _oversized = simhash_candidates(
        docs, "doc_id", "text", max_hamming=3, max_block_size=1024
    )
    ids = docs.select("doc_id")
    all_pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    gold = (
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.7, pairs=all_pairs)
        .filter(F.col("is_match"))
        .select("id_a", "id_b")
    )
    return blocking_quality(cand, gold, docs)


def _q_asof_join(spark, sf_dir):
    """Point-in-time join: each view event attaches the most recent
    click by the same user at-or-before it (inclusive, largest-event-id
    tie rule). Union + one shuffle + a running last(ignoreNulls) frame
    — never the O(|L_k|*|R_k|) inequality join."""
    from word_sense_disambiguation_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    L = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    R = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        L, R, on="user_id", left_ts="ts",
        right_cols=["event_id", "value"], tie_col="event_id",
    )


def _q_range_join(spark, sf_dir):
    """Interval containment join: view-event values against same-user
    [click value, click value + 5] intervals, as the bucketized
    equi-join (one bucket per point, exploded interval buckets, exact
    re-check) — never a BroadcastNestedLoop inequality join."""
    from word_sense_disambiguation_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("value").alias("v")
    )
    iv = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("i_id"),
        "user_id",
        F.col("value").alias("lo"),
        (F.col("value") + F.lit(5.0)).alias("hi"),
    )
    pairs, _oversized = range_join(
        p, iv, "v", "lo", "hi", keys=["user_id"], bucket_width=4.0
    )
    return pairs.select("p_id", "i_id", "user_id", "v", "lo", "hi")


def _q_time_rollup(spark, sf_dir):
    """Hypertable continuous-aggregate rollup: minute/hour/day buckets
    per event_type from ONE scan (grouping sets -> one Expand, one
    shuffle), exact aggregates only (count, order-free min/max, BIGINT
    scaled sum)."""
    from word_sense_disambiguation_spark.operators.temporal import (
        time_bucket_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    return time_bucket_rollup(
        ev, "ts", ["event_type"], "value",
        granularities=("minute", "hour", "day"), int_scale=100,
    )




def _q_group_quantiles(spark, sf_dir):
    """Exact per-source p50/p90/p99 of document length: type-1 (lower
    discrete) quantile at rank ceil(p*n), computed in PURE INTEGER rank
    arithmetic (p as a rational — no float multiply to diverge between
    engines). Partial-combined count + broadcast join + one rank
    window; see operators/quantiles.py for the scale notes."""
    from word_sense_disambiguation_spark.operators.quantiles import (
        group_quantiles,
    )

    docs = _t(spark, sf_dir, "documents")
    return group_quantiles(docs, ["source"], "n_chars")


def _q_sampled_quantiles(spark, sf_dir):
    """The scale path for group_quantiles made concrete: deterministic
    1-in-4 md5 Bernoulli sample of documents (pure function of doc_id —
    no rand()), then the same exact integer-rank order statistic on the
    sample. The hot key's sort task shrinks 4x; the oracle replays the
    sample predicate and ranks bit-for-bit."""
    from word_sense_disambiguation_spark.operators.quantiles import (
        sampled_group_quantiles,
    )

    docs = _t(spark, sf_dir, "documents")
    return sampled_group_quantiles(
        docs, ["source"], "n_chars", "doc_id", rate_den=4
    )




def _q_phonetic_blocking(spark, sf_dir):
    """Soundex phonetic blocking over the leading word of each document:
    spelling-variant candidate pairs (id_a < id_b) within capped blocks.
    The key is the archival American Soundex built from ONE portable SQL
    template (functions/phonetic.py) that both engines evaluate — pure
    codegen, no UDF; blocks larger than 24 are excluded (and surfaced via
    the operator's oversized side table), never silently truncated."""
    from word_sense_disambiguation_spark.operators.blocking import (
        phonetic_key_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs, _oversized = phonetic_key_pairs(
        docs, "doc_id", "element_at(split(text, ' '), 1)", max_block_size=24
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "phonetic_key",
    )




def _q_cluster_split(spark, sf_dir):
    """Leakage-free corpus split: near-duplicate documents must never
    straddle a train/val/test boundary (or the held-out set leaks into
    training — the failure contamination_check detects after the fact),
    so the split key is the minhash near-dup CLUSTER, not the document:
    T17's portable-md5 disjoint_split applied to the dedup pipeline's
    cluster ids. Every member of a cluster lands in the same bucket by
    construction; the oracle replays clustering (exact Jaccard +
    recursive-CTE closure) and the identical md5 bucket arithmetic."""
    from word_sense_disambiguation_spark.operators.dedup import (
        minhash_near_duplicate_clusters,
    )
    from word_sense_disambiguation_spark.operators.evaluation import disjoint_split

    docs = _t(spark, sf_dir, "documents")
    clusters = minhash_near_duplicate_clusters(
        docs, "doc_id", "text", threshold=0.7
    )
    return disjoint_split(clusters, key="cluster_id", n_buckets=10, seed=42)




def _q_zorder_layout(spark, sf_dir):
    """Z-order layout audit: documents min-max-ranked on (doc_id,
    n_chars) at 8 bits each, Morton-interleaved (pure-codegen bit
    shuffle), keyed into 64 equal Z-ranges; per chunk the row count and
    each dimension's min/max span. Tight spans on BOTH dimensions are
    the file-skipping evidence a single-column layout cannot give. No
    global sort anywhere — the chunk id is row-local arithmetic and the
    stats a partial-combined groupBy."""
    from word_sense_disambiguation_spark.operators.zorder import (
        minmax_rank_exprs,
        zorder_chunk_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    ranks = minmax_rank_exprs(docs, ["doc_id", "n_chars"], bits=8)
    return zorder_chunk_stats(docs, ranks, bits=8, n_chunks=64).select(
        F.col("chunk").cast("long").alias("chunk"),
        F.col("n").cast("long").alias("n"),
        F.col("dim0_min").cast("long").alias("dim0_min"),
        F.col("dim0_max").cast("long").alias("dim0_max"),
        F.col("dim1_min").cast("long").alias("dim1_min"),
        F.col("dim1_max").cast("long").alias("dim1_max"),
    )




def _q_hopping_window(spark, sf_dir):
    """Hopping-window aggregate: 15-minute windows sliding every 5
    minutes over events — each event expands to its 3 window memberships
    locally (offset explode, never an inequality join against a window
    table), then one partial-combined groupBy. Hash-exact aggregates
    (count, min/max, scaled-BIGINT sum)."""
    from word_sense_disambiguation_spark.operators.temporal import (
        hopping_window_agg,
    )

    ev = _t(spark, sf_dir, "events")
    return hopping_window_agg(
        ev, "ts", ["event_type"], "value", length_s=900, slide_s=300
    )


def _q_latest_snapshot(spark, sf_dir):
    """CDC compaction: the events changelog keyed by user_id -> each
    user's newest event (order = ts then event_id, explicit tiebreak).
    ONE max_by aggregate with map-side partial combine — never the
    row_number window that funnels a hot key's whole history through a
    single task. value rides as floor(value*100) BIGINT (hash-exact)."""
    from word_sense_disambiguation_spark.operators.cdc import latest_snapshot

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            "ts",
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("value_scaled"),
        )
    )
    return latest_snapshot(ev, ["user_id"], "ts", "event_id").select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        "event_id",
        "event_type",
        "value_scaled",
    )


def _q_profile_columns(spark, sf_dir):
    """Long-form data-quality profile of the documents table: per column
    the row count, null count, EXACT distinct count, and lexicographic
    min/max string images — one aggregation statement, one explode, no
    per-column unions. String images keep the profile engine-portable
    (int/string columns only)."""
    from word_sense_disambiguation_spark.operators.profiling import (
        profile_columns,
    )

    docs = _t(spark, sf_dir, "documents")
    return profile_columns(docs, ["doc_id", "lang", "source", "n_chars"])


def _q_table_checksum(spark, sf_dir):
    """Anti-entropy fingerprint: per-source order-insensitive checksum
    (sum of portable 60-bit md5 row hashes in DECIMAL, folded mod 2^62 —
    BIGINT-sum overflow under ANSI is designed out). Equal (n, checksum)
    <=> equal content regardless of row order, partitioning, or engine —
    the verify-replication-without-moving-data primitive."""
    from word_sense_disambiguation_spark.operators.profiling import (
        table_checksum,
    )

    docs = _t(spark, sf_dir, "documents")
    return table_checksum(
        docs, ["doc_id", "lang", "source", "n_chars"], ["source"]
    )


def _q_chunk_documents(spark, sf_dir):
    """Embedding/RAG prep: overlapping 32-token chunks (8 shared) per
    document (sized so the driver testdata exercises multi-chunk docs) — row-local codegen (sequence + slice + array_join), ZERO
    shuffle, integer-only start arithmetic; empty docs keep one empty
    chunk (chunking is total). The oracle replays tokens, starts, spans,
    and chunk text verbatim."""
    from word_sense_disambiguation_spark.operators.textstats import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", chunk_tokens=32, overlap_tokens=8
    )


def _q_distinctive_terms(spark, sf_dir):
    """Top-3 tf-idf terms per document with the integer-exact scaled idf
    (tf * ((N * 10^6) div df) — strictly df-decreasing while df <=
    sqrt(N*10^6), no log/float anywhere). One (doc, token) aggregate;
    document frequency derives from that table; the top-k window is
    doc-bounded. Ties: score desc, tf desc, token asc."""
    from word_sense_disambiguation_spark.operators.textstats import (
        distinctive_terms,
    )

    docs = _t(spark, sf_dir, "documents")
    return distinctive_terms(docs, "doc_id", "text", top_k=3)


def _q_dedup_keep_best(spark, sf_dir):
    """Quality-priority dedup: MinHash near-dup clusters, then per
    cluster keep the highest-n_chars member (ties -> min doc_id) — the
    RefinedWeb keep-the-best-copy rule. The argmax is a min_by AGGREGATE
    over (negated score, id), never a window (hot-cluster skew rule)."""
    from word_sense_disambiguation_spark.operators.dedup import (
        cluster_representatives,
        minhash_near_duplicate_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    clusters = minhash_near_duplicate_clusters(
        docs, "doc_id", "text", threshold=0.7
    )
    scored = clusters.join(
        docs.select("doc_id", F.col("n_chars").cast("double").alias("score")),
        on="doc_id",
    )
    return cluster_representatives(
        scored, id_col="doc_id", cluster_col="cluster_id", score_col="score"
    ).select(
        "doc_id",
        "cluster_id",
        "score",
        F.col("rep_id").cast("long").alias("rep_id"),
        "is_representative",
    )


def _q_blocklist_filter(spark, sf_dir):
    """UT1-style domain blocklist over deterministic synthetic hosts
    (m{doc_id%4}.{source}.{tld by doc_id%3}): exact-host and
    under-domain matches, most-specific rule wins, shuffle-free
    broadcast-per-depth plan."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        filter_blocklisted_hosts,
    )

    docs = _t(spark, sf_dir, "documents")
    tld = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("com"))
        .when(F.col("doc_id") % 3 == 1, F.lit("net"))
        .otherwise(F.lit("org"))
    )
    hosts = docs.select(
        "doc_id",
        F.concat(
            F.lit("m"), (F.col("doc_id") % 4).cast("string"), F.lit("."),
            F.col("source"), F.lit("."), tld,
        ).alias("host"),
    )
    bl = spark.createDataFrame(
        [("src3.com",), ("m1.src5.net",), ("src5.net",), ("org",), ("src19.net",)],
        "rule string",
    )
    return filter_blocklisted_hosts(hosts, bl)


def _q_incremental_dedup(spark, sf_dir):
    """Snapshot-vs-corpus dedup: every 5th document plays the incoming
    snapshot, the rest the standing corpus; each new doc is tagged
    exact_dup (byte-identical text in the corpus), near_dup (verified
    3-gram Jaccard >= 0.7 via the banded MinHash index), or novel.
    matched_id = min matching corpus id, max_jaccard = best verified
    similarity (single IEEE division per pair; 1.0 for exact)."""
    from word_sense_disambiguation_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    result, _oversized = incremental_dedup(
        new, corpus, id_col="doc_id", text_col="text", n=3, threshold=0.7
    )
    return result


def _q_mixture_sample(spark, sf_dir):
    """Training-data mixture blending: per-language target rates with
    deterministic downsampling (en 0.5), integer+fractional upsampling
    (de 2.25), identity (zh 1.0); unlisted languages drop. Acceptance
    thresholds are integer literals on both engines — no float replay."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        mixture_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return mixture_sample(
        docs, {"en": 0.5, "de": 2.25, "zh": 1.0}, "doc_id", "lang"
    ).select("doc_id", "lang", "copy_id")


def _q_prompt_path_assignments(spark, sf_dir):
    """Full prompt path: build MC prompts, batched 128-way scorer, decode."""
    from word_sense_disambiguation_spark.datagen import build_world, world_to_spark
    from word_sense_disambiguation_spark.plans.pipeline import (
        sense_assignments_prompted,
    )

    sw = world_to_spark(spark, build_world(n_pages=150, seed=42))
    return sense_assignments_prompted(sw["pages"], sw["senses"])


def _q_prompt_path_derived(spark, sf_dir):
    """The FULL prompt path under the hash gate (r4 verdict #2): REAL
    eval-prompt construction (rank-ordered candidates via the broadcast
    dim join, letter table, NOTA slot) -> the REAL batched scorer
    machinery (sortWithinPartitions length bucketing, Arrow batches,
    executor-local factory init) with the dyadic-rational
    ``dyadic_overlap_scorer`` swapped in through the ``scorer_factory``
    slot -> the REAL ``decode_probabilities``. Every probability is a
    multiple of 2^-6 (exact in float32 AND float64), so DuckDB replays
    prompt build + scoring + decode bit-for-bit; only the synthetic-world
    query (float32 softmax kernel) remains rows-only. Reference anchor:
    wsd/masked_language_model.py:88-147 +
    wsd/word_sense_disambiguation.py:194-217."""
    from word_sense_disambiguation_spark.operators.evaluation import (
        eval_examples_from_corpus,
    )
    from word_sense_disambiguation_spark.operators.mlm_scorer import (
        decode_probabilities,
        dyadic_overlap_scorer,
        score_prompts,
    )
    from word_sense_disambiguation_spark.operators.prompts import mark_word_jvm

    senses = _derived_sense_inventory(spark, sf_dir)
    corpus = senses.select(
        "lemma",
        "pos",
        F.col("sense_id").alias("gold_sense_id"),
        F.explode("examples").alias("sentence"),
    ).select(
        "lemma",
        "pos",
        "gold_sense_id",
        "sentence",
        F.col("lemma").alias("word_form"),
        mark_word_jvm(F.col("sentence"), F.col("lemma")).alias("marked_text"),
    )
    kept, _skipped = eval_examples_from_corpus(corpus, senses)
    scored = score_prompts(
        kept.select(
            "correct_sense_id", "marked_sentence", "n_defs",
            "correct_letter_index", "prompt",
        ),
        prompt_col="prompt",
        scorer_factory=dyadic_overlap_scorer,
    )
    return decode_probabilities(scored, n_defs_col="n_defs").select(
        "correct_sense_id",
        "marked_sentence",
        "n_defs",
        "correct_letter_index",
        "choice_index",
        "is_nota_pred",
        "confidence",
    )


def _q_decode_probabilities(spark, sf_dir):
    """T12 decision layer under the hash gate: the REAL
    ``decode_probabilities`` operator (argmax over the choice slice, fixed
    NOTA slot, strict-``>`` tie rule, renormalized confidence — reference
    semantics ``/root/reference/wsd/word_sense_disambiguation.py:194-217``)
    over a deterministic probability fixture. Every probability is a
    dyadic rational k/256 (k < 64), exact in BOTH float32 (Spark's vector
    element type) and float64 (DuckDB), and every sum keeps all partial
    sums exact — so the float path itself is hash-checkable, which the
    full scorer (prompt-text kernel) is not."""
    from word_sense_disambiguation_spark.functions.letters import NUM_LETTERS
    from word_sense_disambiguation_spark.operators.mlm_scorer import (
        decode_probabilities,
    )

    ev = _t(spark, sf_dir, "events")
    probs = F.transform(
        F.sequence(F.lit(0), F.lit(NUM_LETTERS - 1)),
        lambda i: (
            ((F.col("event_id") * 1009 + i * 31) % 64).cast("double")
            / F.lit(256.0)
        ).cast("float"),
    )
    fixture = ev.select(
        "event_id",
        (F.col("event_id") % 6).cast("int").alias("n_defs"),
        ((F.col("event_id") * 13) % 100).cast("int").alias("start_offset"),
        probs.alias("probabilities"),
    )
    return decode_probabilities(fixture, "n_defs", "start_offset").select(
        "event_id",
        "n_defs",
        "start_offset",
        "choice_index",
        "is_nota_pred",
        "confidence",
    )


def _derived_sense_inventory(spark, sf_dir) -> DataFrame:
    """Deterministic sense inventory derived from the ``documents`` parquet
    with PURE JVM expressions, so DuckDB can rebuild it cell-for-cell:
    lemmas = alphabetic tokens longer than 3 chars appearing >= 5 times;
    each lemma owns 1 + md5%3 senses; glosses and example sentences are
    deterministic string builds. This feeds the REAL prompt operators
    (training_examples / eval_examples_from_corpus) — the point is to put
    the whole prompt construction path (gloss coin, candidate ranking,
    letter table, offset hashing, boundary marking, MC template) under the
    driver's hash gate, which the random.Random-based synthetic world
    cannot (its generator is not SQL-expressible)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), _WS + "+")).alias("lemma")
    )
    lemmas = (
        tok.filter(F.col("lemma").rlike("^[a-z]+$") & (F.length("lemma") > 3))
        .groupBy("lemma")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 5)
    )
    n_senses = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ns:"), F.col("lemma"))), 1, 8), 16, 10
        ).cast("long")
        % 3
        + 1
    ).cast("int")
    k_str = F.col("k").cast("string")
    return (
        lemmas.withColumn("n_senses", n_senses)
        .select(
            "lemma",
            F.explode(F.sequence(F.lit(0), F.col("n_senses") - 1)).alias("k"),
        )
        .select(
            F.concat(F.col("lemma"), F.lit("-s"), k_str).alias("sense_id"),
            "lemma",
            F.lit("n").alias("pos"),
            F.concat(
                F.col("lemma"), F.lit(" as sense "), k_str, F.lit(" about "),
                F.substring(
                    F.md5(F.concat(F.lit("t:"), F.col("lemma"), k_str)), 1, 6
                ),
            ).alias("source_definition"),
            F.concat(
                F.lit("any "), F.col("lemma"), F.lit(" involving "),
                F.substring(
                    F.md5(F.concat(F.lit("a:"), F.col("lemma"), k_str)), 1, 6
                ),
            ).alias("alternative_definition"),
            F.array(
                F.concat(
                    F.lit("the "), F.col("lemma"),
                    F.lit(" stood near the door on day "), k_str,
                ),
                F.concat(
                    F.lit("every visitor saw that "), F.col("lemma"),
                    F.lit(" by evening "), k_str,
                ),
            ).alias("examples"),
            F.col("k").alias("sense_rank"),
        )
    )


def _q_eval_examples(spark, sf_dir):
    """Labeled corpus -> MC eval prompts (build_eval_examples_from_wn
    parity): rank-ordered candidates via the inference-time broadcast
    join, gold letter at the gold index, skips as a side table. Runs the
    REAL operator over the SQL-derived inventory so the full prompt build
    is hash-checked; the synthetic-world variant stays golden-tested in
    tests/test_prompts.py."""
    from word_sense_disambiguation_spark.operators.evaluation import (
        eval_examples_from_corpus,
    )
    from word_sense_disambiguation_spark.operators.prompts import mark_word_jvm

    senses = _derived_sense_inventory(spark, sf_dir)
    corpus = senses.select(
        "lemma",
        "pos",
        F.col("sense_id").alias("gold_sense_id"),
        F.explode("examples").alias("sentence"),
    ).select(
        "lemma",
        "pos",
        "gold_sense_id",
        "sentence",
        F.col("lemma").alias("word_form"),
        mark_word_jvm(F.col("sentence"), F.col("lemma")).alias("marked_text"),
    )
    kept, _skipped = eval_examples_from_corpus(corpus, senses)
    return kept.select(
        "word", "marked_sentence", "correct_sense_id",
        "correct_letter_index", "correct_letter", "n_defs", "prompt",
    )


def _q_training_prompts(spark, sf_dir):
    """T18 under the hash gate: the REAL training_examples operator (gloss
    coin, rank-ordered candidates, seeded letter offset, word-boundary
    marking, 128-slot MC prompt) over the SQL-derived inventory."""
    from word_sense_disambiguation_spark.operators.prompts import training_examples

    senses = _derived_sense_inventory(spark, sf_dir)
    return training_examples(senses, seed=42).select(
        "lemma", "pos", "correct_sense_id", "start_offset",
        "correct_letter_index", "prompt",
    )


def _q_fingerprints(spark, sf_dir):
    from word_sense_disambiguation_spark.operators.textstats import fingerprints

    docs = _t(spark, sf_dir, "documents")
    return fingerprints(docs, "doc_id", "text").groupBy("id").agg(
        F.count("*").alias("n_fp")
    )




def _q_scd2_history(spark, sf_dir):
    """Type-2 entity-state history: the events changelog compacted to
    validity intervals of each user's event_type state (consecutive
    same-state versions collapse, ``valid_to`` = next change, open
    interval flagged ``is_current``) — the point-in-time companion to
    ``latest_snapshot`` and the input shape ``asof_join`` consumes.
    Deterministic under burst timestamp ties via the event_id
    tiebreak; one Exchange (both windows and the run aggregate share
    the user_id clustering)."""
    from word_sense_disambiguation_spark.operators.cdc import scd2_history

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    ).select("user_id", "ts", "event_id", "event_type")
    return scd2_history(
        ev, ["user_id"], "ts", "event_id", ["event_type"]
    )


def _q_constrained_clusters(spark, sf_dir):
    """ER cluster repair under cannot-link constraints: a deterministic
    match graph over user ids (chains u-(u+1) for u%3=0, triangles
    {u,u+1,u+2} for u%6=0, spokes u-(u+5) for u%10=0) with negative
    rules forbidding (u,u+1) at u%6=0 and (u,u+5) at u%10=0.
    Constrained edges are anti-joined away BEFORE clustering; the
    triangle's third path re-connects its forbidden pair, so those
    components surface as ``violated`` (no silent order-dependent
    splits); a spoke endpoint whose only edge was forbidden re-enters
    as its own singleton via the coalesce join-back — all three
    semantics branches live in one fixture."""
    from word_sense_disambiguation_spark.operators.clustering import (
        constrained_components,
    )

    u = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(F.col("user_id").cast("long").alias("u"))
        .distinct()
    )
    e = (
        u.filter(F.col("u") % 3 == 0)
        .select(F.col("u").alias("s"), (F.col("u") + 1).alias("d"))
        .unionAll(
            u.filter(F.col("u") % 6 == 0).select(
                F.col("u").alias("s"), (F.col("u") + 2).alias("d")
            )
        )
        .unionAll(
            u.filter(F.col("u") % 6 == 0).select(
                (F.col("u") + 1).alias("s"), (F.col("u") + 2).alias("d")
            )
        )
        .unionAll(
            u.filter(F.col("u") % 10 == 0).select(
                F.col("u").alias("s"), (F.col("u") + 5).alias("d")
            )
        )
    )
    cl = u.filter(F.col("u") % 6 == 0).select(
        F.col("u").alias("s"), (F.col("u") + 1).alias("d")
    ).unionAll(
        u.filter(F.col("u") % 10 == 0).select(
            F.col("u").alias("s"), (F.col("u") + 5).alias("d")
        )
    )
    return constrained_components(e, cl, src="s", dst="d", cl_a="s", cl_b="d")


def _q_interval_merge(spark, sf_dir):
    """Gaps-and-islands coverage merge: deterministic integer fetch
    windows derived from events (start = event_id % 997, length
    1 + user_id % 7, heavy collisions by construction) coalesced into
    maximal disjoint spans per event_type — one key-partitioned
    Exchange, running-max frame (incremental, never a full-partition
    buffer)."""
    from word_sense_disambiguation_spark.operators.temporal import (
        interval_coalesce,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    )
    iv = ev.select(
        "event_type",
        (F.col("event_id") % 997).cast("long").alias("s"),
        (F.col("event_id") % 997 + 1 + F.col("user_id") % 7)
        .cast("long")
        .alias("e"),
        F.col("event_id").cast("long").alias("eid"),
    )
    return interval_coalesce(
        iv, ["event_type"], "s", "e", tiebreak_cols=["eid"]
    ).select(
        "event_type",
        F.col("start"),
        F.col("end"),
        "n_intervals",
    )


def _q_funnel_counts(spark, sf_dir):
    """Ordered view -> click -> purchase conversion funnel: step i
    counts users whose earliest step-(i-1) completion STRICTLY precedes
    (by the full (ts, event_id) struct — burst-tie deterministic) some
    step-i event. One partial-combined groupBy per step on the user
    clustering; the only driver traffic is one scalar count per step."""
    from word_sense_disambiguation_spark.operators.temporal import (
        funnel_counts,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    return funnel_counts(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], "event_id",
    )


def _q_snapshot_diff(spark, sf_dir):
    """Merkle-style anti-entropy diff between the documents table and a
    deterministically perturbed replica (doc_id%41 deleted, doc_id%37
    text-modified, doc_id%43 re-inserted shifted +100000 with lang
    'xx'): 64 key-hash buckets, per-bucket portable checksums, status
    per bucket — the localize-the-resync primitive; no row ever moves,
    the compare join is 64 rows."""
    from word_sense_disambiguation_spark.operators.profiling import (
        checksum_diff,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    right = (
        docs.filter(F.col("doc_id") % 41 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 37 == 0, F.concat(F.col("text"), F.lit("X"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 43 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                "text",
                F.lit("xx").alias("lang"),
            )
        )
    )
    return checksum_diff(
        docs, right, ["doc_id"], ["text", "lang"], n_buckets=64
    )


def _q_overlap_join(spark, sf_dir):
    """Interval x interval OVERLAP join (fetch windows vs outage
    windows, derived deterministically from events) as a bucketized
    equi-join with the exactly-once overlap-start-bucket rule — the
    third temporal-join family next to asof (latest-before) and
    range_join (point containment). The oracle replays it as the plain
    inequality join: bucketing affects cost only, never rows."""
    from word_sense_disambiguation_spark.operators.temporal import (
        interval_overlap_join,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    )
    left = ev.filter(F.col("event_id") % 11 == 0).select(
        "event_type",
        F.col("event_id").cast("long").alias("la"),
        (F.col("event_id") % 997).cast("double").alias("a_lo"),
        (F.col("event_id") % 997 + 1 + F.col("user_id") % 5)
        .cast("double")
        .alias("a_hi"),
    )
    right = ev.filter(F.col("event_id") % 13 == 0).select(
        F.col("event_type").alias("event_type_r"),
        F.col("event_id").cast("long").alias("rb"),
        ((F.col("event_id") * 7) % 991).cast("double").alias("b_lo"),
        ((F.col("event_id") * 7) % 991 + 1 + F.col("user_id") % 3)
        .cast("double")
        .alias("b_hi"),
    ).withColumnRenamed("event_type_r", "event_type")
    pairs, _oversized = interval_overlap_join(
        left, right, "a_lo", "a_hi", "b_lo", "b_hi",
        keys=["event_type"], bucket_width=8.0, max_buckets=64,
    )
    return pairs.select(
        "event_type",
        "la",
        F.col("a_lo").cast("long").alias("a_lo"),
        F.col("a_hi").cast("long").alias("a_hi"),
        "rb",
        F.col("b_lo").cast("long").alias("b_lo"),
        F.col("b_hi").cast("long").alias("b_hi"),
    )


def _q_compaction_plan(spark, sf_dir):
    """Small-file compaction planner over (lang, source) slices of the
    documents table (n_chars as the byte proxy, 4 KiB target so sf0.01
    exercises multi-file splits): files/rows-per-file via pure integer
    ceil-DIV — Spark's `/` is IEEE and loses integers past 2^53, real
    at crawl-scale byte totals."""
    from word_sense_disambiguation_spark.operators.zorder import (
        compaction_plan,
    )

    docs = _t(spark, sf_dir, "documents")
    return compaction_plan(
        docs, ["lang", "source"], "n_chars", target_file_bytes=4096
    )


def _q_markov_transitions(spark, sf_dir):
    """First-order Markov transition table over the clickstream
    transition graph (see ``_click_edges``): exact BIGINT counts,
    per-source outflow totals, and transition probabilities as scaled
    integers ``(n * 1e6) DIV out_total`` — the click-model training
    weights, bit-for-bit replayable (one integer DIV per row, no float
    sums)."""
    from word_sense_disambiguation_spark.operators.temporal import (
        transition_model,
    )

    return transition_model(_click_edges(spark, sf_dir), scale=1_000_000)


def _q_referential_integrity(spark, sf_dir):
    """FK integrity audit over the star layout: the three clean TPC-H
    relations (lineitem->orders, orders->customer, customer->nation), a
    PARTIAL-dimension probe (orders against only the BUILDING customer
    segment — the stale-snapshot scenario, deterministically nonzero
    orphans), and the cross-domain events.user_id->customer probe. One
    row per relation; child tables contract to (fk, cnt) map-side
    before any join."""
    from word_sense_disambiguation_spark.operators.profiling import (
        referential_integrity_audit,
    )

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    ev = _t(spark, sf_dir, "events")
    return referential_integrity_audit(
        [
            ("lineitem.l_orderkey->orders", li, "l_orderkey", od, "o_orderkey"),
            ("orders.o_custkey->customer", od, "o_custkey", cu, "c_custkey"),
            ("customer.c_nationkey->nation", cu, "c_nationkey", na, "n_nationkey"),
            (
                "orders.o_custkey->customer[BUILDING]",
                od,
                "o_custkey",
                cu.filter(F.col("c_mktsegment") == "BUILDING"),
                "c_custkey",
            ),
            ("events.user_id->customer", ev, "user_id", cu, "c_custkey"),
        ]
    )


def _q_retention_cohorts(spark, sf_dir):
    """Daily retention triangle over the events table: users cohorted
    by first-active day (UTC epoch-day via unix_timestamp DIV — the
    floor(epoch) oracle idiom), exact distinct-user counts per
    (cohort_period, periods_since). All BIGINT."""
    from word_sense_disambiguation_spark.operators.temporal import (
        retention_cohorts,
    )

    return retention_cohorts(
        _t(spark, sf_dir, "events"), "user_id", "ts", period_s=86_400
    )


def _q_distribution_drift(spark, sf_dir):
    """Categorical TV-distance drift between the even- and odd-event_id
    halves of the events table (a deterministic snapshot split), per
    user_id%3 slice: exact scaled-DIV fractions, BIGINT deviations
    summed as DECIMAL, one integer halving — zero floats."""
    from word_sense_disambiguation_spark.operators.profiling import (
        distribution_drift,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    bucket = (F.col("user_id") % 3).cast("long").alias("user_bucket")
    left = ev.filter(F.col("event_id") % 2 == 0).select(
        bucket, "event_type"
    )
    right = ev.filter(F.col("event_id") % 2 == 1).select(
        bucket, "event_type"
    )
    return distribution_drift(
        left, right, "event_type", ["user_bucket"], scale=1_000_000
    )


def _q_path_rollup(spark, sf_dir):
    """Site-map rollup over deterministically derived crawl urls
    (host from source, path depth varied by doc_id % 5: root-only /
    one-segment / three-segment): exact doc counts and char sums at
    every path-prefix depth 0..3. One scan, row-local prefix explode,
    one partial-combined groupBy."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        path_rollup,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    stem = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/"))
    url = (
        F.when(m == 0, stem)
        .when(m == 1, F.concat(stem, F.col("lang")))
        .otherwise(
            F.concat(
                stem, F.col("lang"), F.lit("/sec-"),
                (F.col("doc_id") % 13).cast("string"),
                F.lit("/doc-"), F.col("doc_id").cast("string"),
            )
        )
    )
    return path_rollup(
        docs.select(url.alias("url"), "n_chars"), "url", "n_chars",
        max_depth=3,
    )


def _q_session_rollup(spark, sf_dir):
    """Per-user sessions via the NATIVE session_window aggregate (gap
    30 min, pinned strict-> boundary rule — exactly-gap-apart events
    MERGE), floored-epoch bounds, BIGINT aggregates. The oracle replays
    it as the lag-island construction on exact microseconds — proving
    the built-in and the window machinery agree row-for-row."""
    from word_sense_disambiguation_spark.operators.temporal import (
        session_window_stats,
    )

    return session_window_stats(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_id"
    )


def _q_deletion_impact(spark, sf_dir):
    """GDPR cascade audit from a deterministic customer seed slice
    (c_custkey % 10 = 3): orders hit by custkey, lineitem hit through
    the affected orderkeys, events hit directly by user id — per-table
    affected-row and matched-key counts, all BIGINT."""
    from word_sense_disambiguation_spark.operators.profiling import (
        deletion_impact,
    )

    cu = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 3)
    fk = deletion_impact(
        cu, "c_custkey",
        [
            ("orders", _t(spark, sf_dir, "orders"), "o_custkey", "o_orderkey"),
            ("lineitem", _t(spark, sf_dir, "lineitem"), "l_orderkey", None),
        ],
    )
    ev = deletion_impact(
        cu, "c_custkey",
        [("events", _t(spark, sf_dir, "events"), "user_id", None)],
    )
    return fk.unionByName(ev)


def _q_link_graph(spark, sf_dir):
    """Outlink extraction over deterministically planted HTML (doc_id%3
    varies the shape: two absolute links + a relative decoy / one
    upper-case HREF + a mailto decoy / no links). The oracle computes
    the EXPECTED edges from the planting formulas — independent ground
    truth, not a mirrored regex (the url_canonicalize pattern)."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        extract_links,
    )

    docs = _t(spark, sf_dir, "documents")
    src = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc-"),
        F.col("doc_id").cast("string"),
    )
    t1 = F.concat(
        F.lit("https://hub.example.net/t-"),
        (F.col("doc_id") % 17).cast("string"),
    )
    t2 = F.concat(
        F.lit("http://"), F.col("lang"), F.lit(".example.org/p-"),
        (F.col("doc_id") % 5).cast("string"),
    )
    m = F.col("doc_id") % 3
    html = (
        F.when(
            m == 0,
            F.concat(
                F.lit('<a href="'), t1, F.lit('">x</a> <a href=\''), t2,
                F.lit('\'>y</a> <a href="/rel">r</a>'),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit('text <A HREF="'), t1,
                F.lit('">only</A> <a href="mailto:x@y.z">m</a>'),
            ),
        )
        .otherwise(F.lit("<p>no links</p>"))
    )
    return extract_links(
        docs.select(src.alias("url"), html.alias("html")), "url", "html"
    )


def _q_anchor_signal(spark, sf_dir):
    """Inlink anchor-text profiles over planted html (doc_id%3 varies:
    two named anchors / one attr-laden anchor + a whitespace-only
    anchor / none): per target, exact inlink counts, distinct referring
    hosts, and the (count DESC, anchor ASC) top anchor. The oracle
    derives the (dst, src_host, anchor) rows from the planting formulas
    — the extraction regex never appears in it."""
    from word_sense_disambiguation_spark.operators.webfilters import (
        anchor_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    src = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc-"),
        F.col("doc_id").cast("string"),
    )
    t1 = F.concat(
        F.lit("https://hub.example.net/t-"),
        (F.col("doc_id") % 17).cast("string"),
    )
    t2 = F.concat(
        F.lit("http://"), F.col("lang"), F.lit(".example.org/p-"),
        (F.col("doc_id") % 5).cast("string"),
    )
    m = F.col("doc_id") % 3
    html = (
        F.when(
            m == 0,
            F.concat(
                F.lit('<a href="'), t1, F.lit('">alpha '), F.col("lang"),
                F.lit('</a> <a href=\''), t2, F.lit("'>beta</a>"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit('<a href="'), t1, F.lit('" rel="x">gamma</a> '),
                F.lit('<a href="'), t2, F.lit('">\t </a>'),
            ),
        )
        .otherwise(F.lit("<p>no links</p>"))
    )
    return anchor_profile(
        docs.select(src.alias("url"), html.alias("html")), "url", "html"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "token_explode_counts": _q_token_explode,
        "content_word_filter": _q_content_filter,
        "pos_normalize": _q_pos_normalize,
        "blocking_join": _q_blocking_join,
        "argmax_per_group": _q_argmax_per_group,
        "confidence_renorm": _q_confidence_renorm,
        "adjective_expansion": _q_adjective_expansion,
        "mode_per_group": _q_mode_per_group,
        "disjoint_split_buckets": _q_disjoint_split,
        "langid_accuracy": _q_langid_accuracy,
        "mark_first_occurrence": _q_mark_first,
        "text_profile": _q_text_profile,
        "token_histogram": _q_token_histogram,
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard_block": _q_ngram_jaccard,
        "cosine_topk": _q_cosine_topk,
        "ann_ivf": _q_ann_ivf,
        "ann_lsh": _q_ann_lsh,
        "embedding_neardup": _q_embedding_neardup,
        "pricing_summary": _q_pricing_summary,
        "top_orders_per_customer": _q_top_orders_per_customer,
        "sessionization": _q_sessionization,
        "semi_anti_join": _q_semi_anti_join,
        "running_sum": _q_running_sum,
        "conditional_pivot": _q_conditional_pivot,
        "set_ops": _q_set_ops,
        "streaming_window_counts": _q_streaming_window_counts,
        "simhash_candidates": _q_simhash_candidates,
        "connected_components": _q_connected_components,
        "media_metadata": _q_media_metadata,
        "image_header_dims": _q_image_header_dims,
        "frame_sample": _q_frame_sample,
        "resize_metadata": _q_resize_metadata,
        "payload_histogram": _q_payload_histogram,
        "fingerprint_counts": _q_fingerprints,
        "site_quota_sample": _q_site_quota_sample,
        "quality_rule_flags": _q_quality_rule_flags,
        "url_canonicalize": _q_url_canonicalize,
        "boilerplate_dedup": _q_boilerplate_dedup,
        "pii_redaction": _q_pii_redaction,
        "doc_packing": _q_doc_packing,
        "repetition_stats": _q_repetition_stats,
        "mixture_sample": _q_mixture_sample,
        "contamination_check": _q_contamination,
        "substring_span_dedup": _q_substring_span_dedup,
        "quality_classifier": _q_quality_classifier,
        "ccnet_buckets": _q_ccnet_buckets,
        "length_outliers": _q_length_outliers,
        "rrf_hybrid": _q_rrf_hybrid,
        "fellegi_sunter": _q_fellegi_sunter,
        "mutual_best_match": _q_mutual_best_match,
        "pr_sweep": _q_pr_sweep,
        "threshold_curve": _q_threshold_curve,
        "fs_pattern_counts": _q_fs_pattern_counts,
        "cluster_cohesion": _q_cluster_cohesion,
        "tfidf_cosine": _q_tfidf_cosine,
        "ngram_containment": _q_ngram_containment,
        "degree_pruned_edges": _q_degree_pruned_edges,
        "fs_match_probability": _q_fs_match_probability,
        "sparsify_topk": _q_sparsify_topk,
        "script_profile": _q_script_profile,
        "vocabulary": _q_vocabulary,
        "cooccurrence": _q_cooccurrence,
        "token_diversity": _q_token_diversity,
        "blocking_quality": _q_blocking_quality,
        "asof_join": _q_asof_join,
        "range_join": _q_range_join,
        "time_rollup": _q_time_rollup,
        "group_quantiles": _q_group_quantiles,
        "sampled_quantiles": _q_sampled_quantiles,
        "phonetic_blocking": _q_phonetic_blocking,
        "zorder_layout": _q_zorder_layout,
        "hopping_window": _q_hopping_window,
        "latest_snapshot": _q_latest_snapshot,
        "profile_columns": _q_profile_columns,
        "table_checksum": _q_table_checksum,
        "chunk_documents": _q_chunk_documents,
        "distinctive_terms": _q_distinctive_terms,
        "incremental_dedup": _q_incremental_dedup,
        "blocklist_filter": _q_blocklist_filter,
        "dedup_keep_best": _q_dedup_keep_best,
        # minhash_dedup_clusters, er_clusters_derived, training_prompts,
        # eval_examples, decode_probabilities AND the full
        # prompt path (prompt_path_assignments_derived, via the
        # dyadic-rational scorer_factory) ARE oracle-checked end-to-end
        # (see oracle_sql). Only er_clusters_synthetic and
        # prompt_path_assignments remain rows-only: both run Arrow float32
        # kernels (hashed-embedding cosine / softmax over overlap logits)
        # whose bit patterns no float64 SQL engine can reproduce, and both
        # run on the in-process synthetic gold world; their correctness
        # gates are the exact-golden F1/accuracy assertions in tests/ —
        # and every STAGE of both compositions now has its own hash oracle
        # (er_clusters_derived / prompt_path_assignments_derived /
        # decode_probabilities cover all previously-unhashed layers).
        "minhash_dedup_clusters": _q_minhash_clusters,
        "dedup_impact": _q_dedup_impact,
        "similarity_join": _q_similarity_join,
        "curation_pipeline": _q_curation_pipeline,
        "cluster_split": _q_cluster_split,
        "er_clusters_synthetic": _q_er_clusters_synthetic,
        "er_clusters_derived": _q_er_clusters_derived,
        "er_eval_pairwise": _q_er_eval_pairwise,
        "er_eval_bcubed": _q_er_eval_bcubed,
        "er_size_stats": _q_er_size_stats,
        "incremental_er_attach": _q_incremental_er_attach,
        "eval_examples": _q_eval_examples,
        "training_prompts": _q_training_prompts,
        "decode_probabilities": _q_decode_probabilities,
        "prompt_path_assignments": _q_prompt_path_assignments,
        "prompt_path_assignments_derived": _q_prompt_path_derived,
        "scd2_history": _q_scd2_history,
        "constrained_clusters": _q_constrained_clusters,
        "interval_merge": _q_interval_merge,
        "funnel_counts": _q_funnel_counts,
        "snapshot_diff": _q_snapshot_diff,
        "overlap_join": _q_overlap_join,
        "compaction_plan": _q_compaction_plan,
        "markov_transitions": _q_markov_transitions,
        "referential_integrity": _q_referential_integrity,
        "retention_cohorts": _q_retention_cohorts,
        "distribution_drift": _q_distribution_drift,
        "path_rollup": _q_path_rollup,
        "session_rollup": _q_session_rollup,
        "deletion_impact": _q_deletion_impact,
        "link_graph": _q_link_graph,
        "anchor_signal": _q_anchor_signal,
    }


_ER_DERIVED_CC_SQL = r"""
            WITH RECURSIVE
            lemmas AS (
              SELECT lemma FROM (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')) AS lemma
                FROM documents)
              WHERE regexp_matches(lemma, '^[a-z]+$') AND length(lemma) > 3
              GROUP BY lemma HAVING count(*) >= 5
            ),
            sdef AS (
              SELECT lemma, k,
                     lemma || '-s' || CAST(k AS VARCHAR) AS sense_id,
                     list_filter(
                       list_distinct([lemma, 'as', 'sense', CAST(k AS VARCHAR),
                                      'about',
                                      substr(md5('t:' || lemma || CAST(k AS VARCHAR)), 1, 6),
                                      'any', 'involving',
                                      substr(md5('a:' || lemma || CAST(k AS VARCHAR)), 1, 6)]),
                       w -> w <> 'as' AND w <> 'about' AND w <> 'any'
                            AND w <> lemma) AS profile
              FROM (
                SELECT lemma,
                       unnest(range(CAST(CAST(('0x' || substr(md5('ns:' || lemma), 1, 8)) AS BIGINT) % 3 + 1 AS INTEGER))) AS k
                FROM lemmas)
            ),
            docsplit AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
              FROM documents
            ),
            m AS (
              SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                       AS mention_id,
                     CASE WHEN (doc_id + i) % 13 = 0 THEN tok || 'q'
                          ELSE tok END AS lemma,
                     CASE WHEN (doc_id + i) % 7 = 0 THEN ['zzzz']
                          ELSE ['sense', CAST((doc_id + i) % 3 AS VARCHAR),
                                substr(md5('t:' || tok
                                           || CAST((doc_id + i) % 3 AS VARCHAR)),
                                       1, 6)]
                     END AS ctx
              FROM (
                SELECT doc_id, i, toks[i + 1] AS tok
                FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i
                      FROM docsplit)
                WHERE regexp_matches(toks[i + 1], '^[a-z]+$')
                  AND length(toks[i + 1]) > 3
                  AND (doc_id + i) % 23 = 0)
            ),
            ranked AS (
              SELECT m.mention_id, m.lemma, s.sense_id, s.k,
                     CASE WHEN s.lemma IS NULL THEN NULL
                          ELSE len(list_intersect(m.ctx, s.profile)) END
                       AS overlap,
                     row_number() OVER (
                       PARTITION BY m.mention_id
                       ORDER BY (CASE WHEN s.lemma IS NULL THEN NULL
                                      ELSE len(list_intersect(m.ctx, s.profile))
                                 END) DESC NULLS LAST,
                                s.k ASC NULLS LAST) AS rn
              FROM m LEFT JOIN sdef s
                ON m.lemma = s.lemma AND s.sense_id IS NOT NULL
            ),
            dec AS (
              SELECT mention_id, lemma,
                     CASE WHEN overlap IS NULL THEN 'no_definitions'
                          WHEN overlap = 0 THEN 'nota'
                          ELSE 'assigned' END AS decision,
                     CASE WHEN overlap > 0 THEN sense_id END AS pred_sense_id
              FROM ranked WHERE rn = 1
            ),
            bsize AS (SELECT lemma, count(*) AS bs FROM m GROUP BY lemma),
            smallp AS (
              SELECT a.mention_id AS id_a, b.mention_id AS id_b
              FROM m a
              JOIN m b ON a.lemma = b.lemma AND a.mention_id < b.mention_id
              JOIN bsize s ON s.lemma = a.lemma
              WHERE s.bs <= 40
            ),
            mem AS (
              SELECT m.mention_id, m.lemma, d.decision, d.pred_sense_id
              FROM m
              JOIN bsize s ON s.lemma = m.lemma AND s.bs > 40
              JOIN dec d ON d.mention_id = m.mention_id
            ),
            canopye AS (
              SELECT hub AS id_a, mention_id AS id_b FROM (
                SELECT mention_id,
                       min(mention_id) OVER (PARTITION BY lemma, pred_sense_id)
                         AS hub
                FROM mem WHERE decision = 'assigned')
              WHERE mention_id <> hub
            ),
            fallbe AS (
              SELECT hub AS id_a, mention_id AS id_b FROM (
                SELECT mention_id,
                       min(mention_id) OVER (PARTITION BY lemma) AS hub
                FROM mem WHERE decision <> 'assigned')
              WHERE mention_id <> hub
            ),
            allp AS (
              SELECT DISTINCT id_a, id_b FROM (
                SELECT id_a, id_b FROM smallp
                UNION ALL SELECT id_a, id_b FROM canopye
                UNION ALL SELECT id_a, id_b FROM fallbe)
            ),
            edges AS (
              SELECT p.id_a, p.id_b,
                     (da.decision = 'assigned' AND db.decision = 'assigned'
                      AND da.pred_sense_id = db.pred_sense_id) AS is_match
              FROM allp p
              JOIN dec da ON da.mention_id = p.id_a
              JOIN dec db ON db.mention_id = p.id_b
            ),
            nodes AS (
              SELECT DISTINCT n FROM (
                SELECT id_a AS n FROM allp UNION ALL SELECT id_b FROM allp)
            ),
            sym AS (
              SELECT id_a AS src, id_b AS dst FROM edges WHERE is_match
              UNION SELECT id_b AS src, id_a AS dst FROM edges WHERE is_match
            ),
            reach(a, b) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            )
            SELECT a AS mention_id, min(b) AS entity_id
            FROM reach GROUP BY a
        """


def oracle_sql() -> dict[str, str]:
    return {
        "token_explode_counts": f"""
            SELECT token, count(*) AS n
            FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')) AS token
                  FROM documents)
            GROUP BY token HAVING count(*) >= 5
        """,
        "content_word_filter": f"""
            SELECT token, count(DISTINCT doc_id) AS n_docs
            FROM (SELECT doc_id,
                         unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')) AS token
                  FROM documents)
            WHERE length(token) > 2 AND token NOT IN ({_FUNC_WORDS_SQL})
            GROUP BY token
        """,
        "pos_normalize": f"""
            WITH toks AS (
              SELECT DISTINCT token FROM (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')) AS token
                FROM documents)
              WHERE length(token) > 2 AND token NOT IN ({_FUNC_WORDS_SQL})
                AND regexp_matches(token, '^[a-z]')
            ), tagged AS (
              SELECT token,
                     CAST(('0x' || substr(md5('pos:' || token), 1, 8)) AS BIGINT) % 7 AS idx
              FROM toks)
            SELECT token,
                   CASE WHEN idx <= 2 THEN 'NOUN' WHEN idx <= 4 THEN 'VERB'
                        WHEN idx = 5 THEN 'ADJ' ELSE 'ADV' END AS pos,
                   CASE WHEN idx <= 2 THEN 'n' WHEN idx <= 4 THEN 'v'
                        WHEN idx = 5 THEN 'a' ELSE 'r' END AS wn_pos
            FROM tagged
        """,
        "blocking_join": """
            SELECT p_brand, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "argmax_per_group": """
            SELECT user_id, event_type AS top_event, value AS max_value FROM (
              SELECT user_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id ASC) AS rn
              FROM events)
            WHERE rn = 1
        """,
        "confidence_renorm": """
            SELECT user_id, event_id,
                   CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE)
                   / CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id) AS DOUBLE)
                   AS conf
            FROM events
        """,
        "adjective_expansion": """
            SELECT event_type, unnest(
                     CASE WHEN event_type = 'click' THEN ['click', 'click_s']
                          ELSE [event_type] END) AS expanded_type
            FROM (SELECT DISTINCT event_type FROM events)
        """,
        "mode_per_group": """
            WITH counts AS (
              SELECT user_id, event_type, count(*) AS c
              FROM events GROUP BY user_id, event_type),
            ranked AS (
              SELECT user_id, event_type, c,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY c DESC, event_type ASC) AS rn
              FROM counts)
            SELECT user_id, event_type AS mode_event, c AS n
            FROM ranked WHERE rn = 1
        """,
        "disjoint_split_buckets": """
            SELECT CAST(CAST(('0x' || substr(md5('42:' || CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS INT) AS bucket,
                   count(*) AS n_orders, count(DISTINCT o_custkey) AS n_custs
            FROM orders GROUP BY 1
        """,
        "langid_accuracy": f"""
            SELECT count(*) AS n,
                   CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_match
            FROM (
              SELECT lang,
                     CASE WHEN en > 0 AND en = g THEN 'en'
                          WHEN fr > 0 AND fr = g THEN 'fr'
                          WHEN es > 0 AND es = g THEN 'es'
                          WHEN de > 0 AND de = g THEN 'de'
                          ELSE 'und' END AS pred
              FROM (
                SELECT lang,
                       len(regexp_extract_all(lower(text), '{_EN}')) AS en,
                       len(regexp_extract_all(lower(text), '{_FR}')) AS fr,
                       len(regexp_extract_all(lower(text), '{_ES}')) AS es,
                       len(regexp_extract_all(lower(text), '{_DE}')) AS de,
                       greatest(len(regexp_extract_all(lower(text), '{_EN}')),
                                len(regexp_extract_all(lower(text), '{_FR}')),
                                len(regexp_extract_all(lower(text), '{_ES}')),
                                len(regexp_extract_all(lower(text), '{_DE}'))) AS g
                FROM documents))
        """,
        "mark_first_occurrence": """
            SELECT doc_id,
                   substr(text, 1, strpos(text, ' the ')) || '*the*'
                   || substr(text, strpos(text, ' the ') + 4) AS marked
            FROM documents WHERE strpos(text, ' the ') > 0
        """,
        "text_profile": f"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+')) AS ws_tokens,
                   len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_tokens,
                   CASE WHEN en > 0 AND en = g THEN 'en'
                        WHEN fr > 0 AND fr = g THEN 'fr'
                        WHEN es > 0 AND es = g THEN 'es'
                        WHEN de > 0 AND de = g THEN 'de'
                        ELSE 'und' END AS pred_lang,
                   round(
                     0.3 * least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
                   + 0.3 * greatest(1.0 - CAST(len(regexp_extract_all(text, '[^\\w \t\n\r\f\x0B]')) AS DOUBLE)
                                    / CAST(greatest(len(regexp_extract_all(text, '{_WORD_RE}')), 1) AS DOUBLE), 0.0)
                   + 0.2 * least(CAST(en AS DOUBLE) * 5.0
                                 / CAST(greatest(len(regexp_extract_all(text, '{_WORD_RE}')), 1) AS DOUBLE), 1.0)
                   + 0.2 * (CASE WHEN CAST(length(text) AS DOUBLE) / CAST(greatest(len(regexp_extract_all(text, '{_WORD_RE}')), 1) AS DOUBLE) BETWEEN 3.0 AND 12.0
                            THEN 1.0 ELSE 0.5 END), 6) AS quality
            FROM (
              SELECT doc_id, text,
                     len(regexp_extract_all(lower(text), '{_EN}')) AS en,
                     len(regexp_extract_all(lower(text), '{_FR}')) AS fr,
                     len(regexp_extract_all(lower(text), '{_ES}')) AS es,
                     len(regexp_extract_all(lower(text), '{_DE}')) AS de,
                     greatest(len(regexp_extract_all(lower(text), '{_EN}')),
                              len(regexp_extract_all(lower(text), '{_FR}')),
                              len(regexp_extract_all(lower(text), '{_ES}')),
                              len(regexp_extract_all(lower(text), '{_DE}'))) AS g
              FROM documents)
        """,
        "token_histogram": """
            SELECT CAST(floor(len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+')) / 10) AS BIGINT) AS bucket,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "exact_dedup": """
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
                   count(*) OVER (PARTITION BY md5(text)) > 1 AS is_duplicate
            FROM documents
        """,
        "ngram_jaccard_block": """
            WITH g AS (
              SELECT doc_id, lang, source,
                     list_distinct(list_transform(
                       range(0, len(toks) - 2),
                       i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS grams
              FROM (SELECT doc_id, lang, source,
                           regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
                    FROM documents WHERE n_chars < 200)
              WHERE len(toks) >= 3),
            ok AS (
              SELECT lang, source FROM g GROUP BY lang, source
              HAVING count(*) <= 64)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
            FROM g a JOIN ok ON a.lang = ok.lang AND a.source = ok.source
                 JOIN g b ON a.lang = b.lang AND a.source = b.source
                 AND a.doc_id < b.doc_id
            WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) > 0.0
        """,
        # Diversity replay: same counts, HUGEINT sum of squares, same
        # 1 - c2/(n*n) tree.
        "token_diversity": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))), '[ \t\n\r\f\x0B]+')) AS token
              FROM documents
            ),
            tf AS (
              SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
              FROM toks WHERE token <> '' GROUP BY doc_id, token
            ),
            pd AS (
              SELECT doc_id,
                     CAST(sum(c) AS BIGINT) AS n_tokens,
                     CAST(count(*) AS BIGINT) AS n_distinct,
                     sum(CAST(c * c AS HUGEINT)) AS c2
              FROM tf GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(pd.n_distinct, 0) AS BIGINT) AS n_distinct,
                   CASE WHEN pd.n_tokens IS NULL OR pd.n_tokens = 0
                        THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(1.0 AS DOUBLE) - CAST(pd.c2 AS DOUBLE)
                             / (CAST(pd.n_tokens AS DOUBLE)
                                * CAST(pd.n_tokens AS DOUBLE))
                   END AS simpson_diversity
            FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
        """,
        # Co-occurrence replay: same raw-index positions, same canonical
        # least/greatest pairs, pre-floor totals, identical IEEE tree.
        "cooccurrence": r"""
            WITH docsplit AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(COALESCE(text, ''))), '[ \t\n\r\f\x0B]+') AS toks
              FROM documents
            ),
            tp AS (
              SELECT doc_id AS did, i AS pos, toks[i + 1] AS tok
              FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i
                    FROM docsplit)
              WHERE toks[i + 1] <> ''
            ),
            uni AS (
              SELECT tok AS w, CAST(count(*) AS BIGINT) AS n_w
              FROM tp GROUP BY tok
            ),
            tt AS (SELECT CAST(COALESCE(sum(n_w), 0) AS BIGINT) AS t_tok FROM uni),
            pr AS (
              SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2
              FROM tp a
              JOIN tp b ON a.did = b.did
               AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2)
            ),
            pc AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
              FROM pr GROUP BY w1, w2
            ),
            tpr AS (SELECT CAST(COALESCE(sum(n_pair), 0) AS BIGINT) AS t_pairs FROM pc)
            SELECT pc.w1, pc.w2, pc.n_pair,
                   (CAST(pc.n_pair AS DOUBLE) * (CAST(tt.t_tok AS DOUBLE)
                                                 * CAST(tt.t_tok AS DOUBLE)))
                   / ((CAST(tpr.t_pairs AS DOUBLE) * CAST(u1.n_w AS DOUBLE))
                      * CAST(u2.n_w AS DOUBLE)) AS assoc_ratio
            FROM pc
            JOIN uni u1 ON u1.w = pc.w1
            JOIN uni u2 ON u2.w = pc.w2
            CROSS JOIN tt CROSS JOIN tpr
            WHERE pc.n_pair >= 5
        """,
        # Vocabulary replay: same token counts, same total order, same
        # floor and limit, row_number ranks.
        "vocabulary": r"""
            WITH toks AS (
              SELECT unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))), '[ \t\n\r\f\x0B]+')) AS token
              FROM documents
            ),
            c AS (
              SELECT token, CAST(count(*) AS BIGINT) AS count
              FROM toks WHERE token <> ''
              GROUP BY token HAVING count(*) >= 5
            ),
            r AS (
              SELECT token, count,
                     row_number() OVER (ORDER BY count DESC, token ASC)
                       AS rank
              FROM c
            )
            SELECT CAST(rank AS BIGINT) AS rank, token, count
            FROM r WHERE rank <= 500
        """,
        # Script-composition replay: identical literal BMP ranges in RE2
        # \x{...} syntax, global-flag regexp_replace deletion counts,
        # same fixed-priority dominant CASE, one IEEE division.
        "script_profile": r"""
            WITH t AS (
              SELECT doc_id, COALESCE(text, '') AS s FROM documents
            ),
            c AS (
              SELECT doc_id,
                     CAST(length(s) AS BIGINT) AS n_chars,
                     CAST(length(s) - length(regexp_replace(s,
                       '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]', '', 'g'))
                       AS BIGINT) AS n_latin,
                     CAST(length(s) - length(regexp_replace(s,
                       '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
                     CAST(length(s) - length(regexp_replace(s,
                       '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS n_greek,
                     CAST(length(s) - length(regexp_replace(s,
                       '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic,
                     CAST(length(s) - length(regexp_replace(s,
                       '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7A3}]', '', 'g'))
                       AS BIGINT) AS n_cjk
              FROM t
            )
            SELECT doc_id, n_chars, n_latin, n_cyrillic, n_greek, n_arabic,
                   n_cjk,
                   CASE WHEN greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk) = 0
                          THEN 'none'
                        WHEN n_latin = greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk)
                          THEN 'latin'
                        WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk)
                          THEN 'cyrillic'
                        WHEN n_greek = greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk)
                          THEN 'greek'
                        WHEN n_arabic = greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk)
                          THEN 'arabic'
                        ELSE 'cjk' END AS dominant_script,
                   CASE WHEN n_chars = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk) AS DOUBLE)
                             / CAST(n_chars AS DOUBLE)
                   END AS dominant_ratio
            FROM c
        """,
        # FS posterior replay: same agreement levels, identical literal
        # products (left-associated) and one ratio; computing pm/pu in a
        # CTE column changes nothing — values, not plans, are hashed.
        "fs_match_probability": r"""
            WITH orig AS (
              SELECT c_custkey AS id_a, c_nationkey AS nk,
                     c_name AS name_a, c_mktsegment AS seg_a,
                     substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS code_a
              FROM customer
            ),
            corrupt AS (
              SELECT c_custkey AS id_b, c_nationkey AS nk,
                     CASE c_custkey % 4
                       WHEN 1 THEN replace(c_name, 'Customer', 'Custmr')
                       WHEN 2 THEN substr(c_name, 2, 1000)
                       WHEN 3 THEN c_name || 'x'
                       ELSE c_name END AS name_b,
                     CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
                          ELSE c_mktsegment END AS seg_b,
                     CASE WHEN c_custkey % 6 = 0
                          THEN 'z' || substr(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6), 2, 5)
                          ELSE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) END AS code_b
              FROM customer
            ),
            p AS (SELECT * FROM orig JOIN corrupt USING (nk)),
            lv AS (
              SELECT id_a, id_b,
                     CASE WHEN levenshtein(name_a, name_b) = 0 THEN 2
                          WHEN levenshtein(name_a, name_b) <= 3 THEN 1
                          ELSE 0 END AS lvl_name,
                     CASE WHEN levenshtein(seg_a, seg_b) = 0 THEN 2
                          ELSE 0 END AS lvl_segment,
                     CASE WHEN levenshtein(code_a, code_b) = 0 THEN 2
                          WHEN levenshtein(code_a, code_b) <= 2 THEN 1
                          ELSE 0 END AS lvl_code
              FROM p
            ),
            t AS (
              SELECT id_a, id_b, lvl_name, lvl_segment, lvl_code,
                     (((CAST(0.1 AS DOUBLE)
                        * CASE lvl_name WHEN 2 THEN CAST(0.8 AS DOUBLE)
                                        WHEN 1 THEN CAST(0.15 AS DOUBLE)
                                        ELSE CAST(0.05 AS DOUBLE) END)
                       * CASE lvl_segment WHEN 2 THEN CAST(0.8 AS DOUBLE)
                                          WHEN 1 THEN CAST(0.1 AS DOUBLE)
                                          ELSE CAST(0.1 AS DOUBLE) END)
                      * CASE lvl_code WHEN 2 THEN CAST(0.9 AS DOUBLE)
                                      WHEN 1 THEN CAST(0.08 AS DOUBLE)
                                      ELSE CAST(0.02 AS DOUBLE) END) AS pm,
                     ((((CAST(1.0 AS DOUBLE) - CAST(0.1 AS DOUBLE))
                        * CASE lvl_name WHEN 2 THEN CAST(0.03 AS DOUBLE)
                                        WHEN 1 THEN CAST(0.07 AS DOUBLE)
                                        ELSE CAST(0.9 AS DOUBLE) END)
                       * CASE lvl_segment WHEN 2 THEN CAST(0.7 AS DOUBLE)
                                          WHEN 1 THEN CAST(0.05 AS DOUBLE)
                                          ELSE CAST(0.25 AS DOUBLE) END)
                      * CASE lvl_code WHEN 2 THEN CAST(0.01 AS DOUBLE)
                                      WHEN 1 THEN CAST(0.04 AS DOUBLE)
                                      ELSE CAST(0.95 AS DOUBLE) END) AS pu
              FROM lv
            )
            SELECT id_a, id_b, lvl_name, lvl_segment, lvl_code,
                   pm / (pm + pu) AS p_match,
                   pm / (pm + pu) >= CAST(0.5 AS DOUBLE) AS is_match
            FROM t
        """,
        # Sparsify replay: unsalted per-node top-k windows (salts don't
        # change the result), either-endpoint union, edge dedup.
        "sparsify_topk": r"""
            WITH e AS (
              SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                     CAST((a.c_custkey * 7 + b.c_custkey) % 100 AS BIGINT)
                       AS score
              FROM customer a
              JOIN customer b ON a.c_nationkey = b.c_nationkey
              WHERE a.c_custkey < b.c_custkey
                AND b.c_custkey - a.c_custkey <= 3
            ),
            ends AS (
              SELECT id_a AS node, id_b AS partner, id_a, id_b, score FROM e
              UNION ALL
              SELECT id_b AS node, id_a AS partner, id_a, id_b, score FROM e
            ),
            ranked AS (
              SELECT id_a, id_b, score,
                     row_number() OVER (PARTITION BY node
                                        ORDER BY score DESC, partner ASC)
                       AS rn
              FROM ends
            )
            SELECT id_a, id_b, CAST(min(score) AS BIGINT) AS score
            FROM ranked WHERE rn <= 2
            GROUP BY id_a, id_b
        """,
        # Degree-cap replay: same close-key edge world, symmetrized
        # endpoint counts, hub exclusion via NOT IN, tagged union.
        "degree_pruned_edges": r"""
            WITH e AS (
              SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
              FROM customer a
              JOIN customer b ON a.c_nationkey = b.c_nationkey
              WHERE a.c_custkey < b.c_custkey
                AND b.c_custkey - a.c_custkey <= 3
            ),
            ends AS (
              SELECT id_a AS node FROM e
              UNION ALL SELECT id_b FROM e
            ),
            deg AS (
              SELECT node, CAST(count(*) AS BIGINT) AS degree
              FROM ends GROUP BY node
            ),
            hubs AS (SELECT node, degree FROM deg WHERE degree > 4),
            kept AS (
              SELECT id_a, id_b FROM e
              WHERE id_a NOT IN (SELECT node FROM hubs)
                AND id_b NOT IN (SELECT node FROM hubs)
            )
            SELECT 'edge' AS kind, id_a AS x, id_b AS y FROM kept
            UNION ALL
            SELECT 'hub' AS kind, node AS x, degree AS y FROM hubs
        """,
        # Containment replay: same gram/block construction as
        # ngram_jaccard_block, per-side divisions, dyadic 0.75 threshold.
        "ngram_containment": """
            WITH g AS (
              SELECT doc_id, lang, source,
                     list_distinct(list_transform(
                       range(0, len(toks) - 2),
                       i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS grams
              FROM (SELECT doc_id, lang, source,
                           regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
                    FROM documents WHERE n_chars < 200)
              WHERE len(toks) >= 3),
            ok AS (
              SELECT lang, source FROM g GROUP BY lang, source
              HAVING count(*) <= 64),
            fin AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                     / CAST(greatest(len(a.grams), 1) AS DOUBLE) AS cont_a,
                     CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                     / CAST(greatest(len(b.grams), 1) AS DOUBLE) AS cont_b
              FROM g a JOIN ok ON a.lang = ok.lang AND a.source = ok.source
                   JOIN g b ON a.lang = b.lang AND a.source = b.source
                   AND a.doc_id < b.doc_id)
            SELECT id_a, id_b, cont_a, cont_b,
                   greatest(cont_a, cont_b) >= 0.75 AS is_match
            FROM fin
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
              SELECT q.query_id, e.vec_id AS vid,
                     list_cosine_similarity(e.embedding, q.qvec) AS cosine
              FROM embeddings e CROSS JOIN q),
            ranked AS (
              SELECT query_id, vid,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vid ASC) AS rank
              FROM scored)
            SELECT query_id, vid, rank FROM ranked WHERE rank <= 10
        """,
        # bits=0/tables=1 degrades LSH to the exhaustive search (every
        # vector in bucket 0), so the exact full-scan top-k is a hard
        # oracle over the whole signature -> bucket-join -> re-rank path.
        "ann_lsh": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
              SELECT q.query_id, e.vec_id AS vid,
                     list_cosine_similarity(e.embedding, q.qvec) AS cosine
              FROM embeddings e CROSS JOIN q),
            ranked AS (
              SELECT query_id, vid,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vid ASC) AS rank
              FROM scored)
            SELECT query_id, vid, rank FROM ranked WHERE rank <= 10
        """,
        "ann_ivf": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
              SELECT q.query_id, e.vec_id AS vid,
                     list_cosine_similarity(e.embedding, q.qvec) AS cosine
              FROM embeddings e CROSS JOIN q),
            ranked AS (
              SELECT query_id, vid,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vid ASC) AS rank
              FROM scored)
            SELECT query_id, vid, rank FROM ranked WHERE rank <= 10
        """,
        "embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding)
                  >= 0.2951857
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
                   count(*) AS n
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders)
            WHERE rk <= 3
        """,
        "sessionization": """
            WITH s AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            c AS (
              SELECT user_id,
                     sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_no
              FROM s)
            SELECT user_id, CAST(max(session_no) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM c GROUP BY user_id
        """,
        "semi_anti_join": """
            SELECT
              (SELECT count(*) FROM customer
               WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_with,
              (SELECT count(*) FROM customer
               WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without
        """,
        "running_sum": """
            SELECT user_id, event_id,
                   CAST(sum(CAST(value AS DECIMAL(18,2)))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
            FROM events
        """,
        "conditional_pivot": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click'
                            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_click,
                   CAST(sum(CASE WHEN event_type = 'view'
                            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_view,
                   count(*) AS n
            FROM events GROUP BY user_id
        """,
        "set_ops": """
            SELECT
              (SELECT count(*) FROM
                (SELECT c_custkey AS k FROM customer
                 INTERSECT SELECT o_custkey FROM orders)) AS n_both,
              (SELECT count(*) FROM
                (SELECT c_custkey AS k FROM customer
                 EXCEPT SELECT o_custkey FROM orders)) AS n_only_cust
        """,
        "streaming_window_counts": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        # Spark side is iterative large-star/small-star CC; the oracle is a
        # recursive-CTE transitive closure + min-reachable-node label.
        "connected_components": """
            WITH RECURSIVE e AS (
              SELECT DISTINCT user_id * 2 AS src,
                              user_id * 2 + (event_id % 2) AS dst
              FROM events
            ),
            nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
            sym AS (
              SELECT src, dst FROM e WHERE src <> dst
              UNION
              SELECT dst AS src, src AS dst FROM e WHERE src <> dst
            ),
            reach(a, b) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            )
            SELECT a AS node, min(b) AS component FROM reach GROUP BY a
        """,
        # Recompute SimHash bit-by-bit in SQL: md5('sim:'||token) read as a
        # little-endian u64 (byte j = hex chars 2j+1..2j+2, bit i = bit i%8
        # of byte i//8), per-bit majority over the token bag. Candidate rule
        # mirrors the Spark plan EXACTLY, including the skew cap: the 64
        # bits split into 4 chunks of 16; a pair is a candidate iff it
        # agrees on >= 1 chunk whose (chunk_id, value) bucket holds <= 1024
        # docs (the pigeonhole guarantee restricted to non-oversized
        # buckets); then exact Hamming <= r.
        "simhash_candidates": """
            WITH th AS (
              SELECT doc_id, md5('sim:' || tok) AS hx
              FROM (SELECT doc_id,
                           unnest(string_split(
                             trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')),
                             ' ')) AS tok
                    FROM documents)
              WHERE tok <> ''
            ),
            bits AS (
              -- over ALL documents (left join), not just token rows: a
              -- token-less doc carries the all-zero signature, exactly
              -- like the operator — empty docs ARE near-dups of each
              -- other (fuzz-found; testdata has no empty docs)
              SELECT d.doc_id, g.i,
                     CASE WHEN COALESCE(sum(
                         CASE WHEN th.hx IS NULL THEN NULL
                              WHEN ((CAST(('0x' || substr(th.hx, 2 * (g.i // 8) + 1, 2)) AS INTEGER)
                                     >> CAST(g.i % 8 AS INTEGER)) & 1) = 1
                              THEN 1 ELSE -1 END), 0) > 0
                          THEN 1 ELSE 0 END AS m
              FROM documents d
              CROSS JOIN (SELECT unnest(range(64)) AS i) g
              LEFT JOIN th ON th.doc_id = d.doc_id
              GROUP BY d.doc_id, g.i
            ),
            chunks AS (
              SELECT doc_id, CAST(i // 16 AS INTEGER) AS c,
                     CAST(sum(m * (1 << CAST(i % 16 AS INTEGER))) AS BIGINT) AS v
              FROM bits GROUP BY doc_id, i // 16
            ),
            ok AS (
              SELECT c, v FROM chunks GROUP BY c, v HAVING count(*) <= 1024
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM chunks a
              JOIN ok o ON a.c = o.c AND a.v = o.v
              JOIN chunks b ON a.c = b.c AND a.v = b.v
                   AND a.doc_id < b.doc_id
            )
            SELECT p.id_a, p.id_b,
                   CAST(sum(CASE WHEN a.m <> b.m THEN 1 ELSE 0 END) AS INTEGER)
                     AS hamming
            FROM cand p
            JOIN bits a ON a.doc_id = p.id_a
            JOIN bits b ON b.doc_id = p.id_b AND a.i = b.i
            GROUP BY p.id_a, p.id_b
            HAVING sum(CASE WHEN a.m <> b.m THEN 1 ELSE 0 END) <= 3
        """,
        # Winnowing 0-mod-8 sampling: keep window-grams whose little-endian
        # md5-u64 is 0 mod 8 — i.e. the low 3 bits of digest byte 0 (hex
        # chars 1..2) are zero.
        "fingerprint_counts": """
            WITH s AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS s
              FROM documents
            ),
            kept AS (
              SELECT doc_id
              FROM (SELECT doc_id, s, unnest(range(0, length(s) - 15)) AS i
                    FROM s WHERE length(s) >= 16)
              WHERE CAST(('0x' || substr(md5('fp:' || substr(s, i + 1, 16)), 1, 2))
                         AS INTEGER) % 8 = 0
              UNION ALL
              SELECT doc_id FROM s WHERE length(s) > 0 AND length(s) < 16
            )
            SELECT doc_id AS id, count(*) AS n_fp FROM kept GROUP BY doc_id
        """,
        # width/height are template constants (first bytes of the html
        # wrapper, see media_metadata); scales are single IEEE divisions.
        "resize_metadata": """
            SELECT 'https://crawl.example/' || source || '/doc-'
                     || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS url,
                   2109 AS width, 3445 AS height,
                   224 AS target_w, 224 AS target_h,
                   CAST(224 AS DOUBLE) / 2109 AS scale_x,
                   CAST(224 AS DOUBLE) / 3445 AS scale_y
            FROM documents
        """,
        # 16-bin high-nibble histogram of the first 256 html bytes; the
        # html string is reconstructed from the wrapper template (escape
        # '&' first, then '<' and '>', matching html.escape), and fractions
        # are exact count/len doubles.
        "payload_histogram": """
            WITH built AS (
              SELECT 'https://crawl.example/' || source || '/doc-'
                       || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS url,
                     '<html><head><meta charset="utf-8"><title>'
                       || 'https://crawl.example/' || source || '/doc-'
                       || lpad(CAST(doc_id AS VARCHAR), 9, '0')
                       || '</title></head><body><article>'
                       || replace(replace(replace(text, '&', '&amp;'),
                                          '<', '&lt;'), '>', '&gt;')
                       || '</article></body></html>' AS html_str
              FROM documents
            ),
            -- BYTES of the UTF-8 payload, not characters: the operator
            -- histograms the binary head, and ord(char)//16 only
            -- coincides with byte>>4 on ASCII (fuzz-found; testdata
            -- html is ASCII after entity escaping)
            h AS (SELECT url,
                         substr(hex(encode(html_str)), 1, 512) AS hx
                  FROM built),
            b AS (
              SELECT url,
                     CAST(('0x' || substr(hx, 2 * i + 1, 2)) AS INTEGER) // 16
                       AS bin
              FROM (SELECT url, hx, unnest(range(len(hx) // 2)) AS i FROM h)
            ),
            grid AS (
              SELECT url, greatest(len(hx) // 2, 1) AS n,
                     unnest(range(16)) AS bin
              FROM h
            ),
            counts AS (SELECT url, bin, count(*) AS c FROM b GROUP BY url, bin)
            SELECT g.url, CAST(g.bin AS INT) AS bin,
                   CAST(COALESCE(c.c, 0) AS DOUBLE) / g.n AS frac
            FROM grid g LEFT JOIN counts c ON g.url = c.url AND g.bin = c.bin
        """,
        # every_n=8 over the template-constant n_frames=45 (see the
        # media_metadata oracle's derivation): frames 0,8,...,40 per url.
        "frame_sample": """
            SELECT 'https://crawl.example/' || source || '/doc-'
                     || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS url,
                   CAST(f.f AS INT) AS frame_no
            FROM documents
            CROSS JOIN (SELECT unnest([0, 8, 16, 24, 32, 40]) AS f) f
        """,
        # Corpus-curation filters. site_quota_sample: the salted two-level
        # top-K equals a global per-site top-K (the K smallest of a set
        # are among the K smallest of each part), so the oracle is the
        # plain row_number form over the same portable hash order.
        "site_quota_sample": """
            WITH p AS (
              SELECT source AS site,
                     'https://crawl.example/' || source || '/doc-'
                       || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS url
              FROM documents
            ),
            h AS (
              SELECT site, url,
                     CAST(('0x' || substr(md5('42:q:' || url), 1, 8)) AS BIGINT)
                       AS order_hash
              FROM p
            ),
            r AS (
              SELECT site, url, order_hash,
                     row_number() OVER (PARTITION BY site
                                        ORDER BY order_hash, url) AS rn
              FROM h
            )
            SELECT site, url, order_hash FROM r WHERE rn <= 7
        """,
        # Same sentence split/trim/normalize rules, same > max_docs
        # document-frequency cutoff, same ordered reassembly contract
        # ('. '-joined + terminal '.'; '' when nothing survives).
        "boilerplate_dedup": r"""
            WITH s AS (
              SELECT doc_id, sents,
                     len(sents) AS n_total
              FROM (
                SELECT doc_id,
                       list_filter(list_transform(string_split_regex(text, '\.'),
                                                  x -> trim(x)),
                                   x -> x <> '') AS sents
                FROM documents)
            ),
            ex AS (
              SELECT doc_id, i AS pos, sents[i + 1] AS sent,
                     lower(sents[i + 1]) AS norm
              FROM (SELECT doc_id, sents, unnest(range(len(sents))) AS i FROM s)
            ),
            hot AS (
              SELECT norm FROM ex GROUP BY norm
              HAVING count(DISTINCT doc_id) > 3
            ),
            kept AS (
              SELECT doc_id, list(sent ORDER BY pos) AS ks
              FROM ex WHERE norm NOT IN (SELECT norm FROM hot)
              GROUP BY doc_id
            )
            SELECT s.doc_id,
                   CASE WHEN COALESCE(len(k.ks), 0) > 0
                        THEN array_to_string(k.ks, '. ') || '.'
                        ELSE '' END AS clean_text,
                   CAST(COALESCE(len(k.ks), 0) AS INT) AS n_kept,
                   CAST(s.n_total - COALESCE(len(k.ks), 0) AS INT) AS n_dropped
            FROM s LEFT JOIN kept k ON s.doc_id = k.doc_id
        """,
        # The expected canonical comes straight from the planting
        # formulas (every variant of a doc canonicalizes to the same
        # clean url; doc_id%7==2 additionally keeps '?a=1&z=9' after
        # tracking-param removal and sorting; %7==5 keeps its extra path
        # and query with percent-hex UPPERCASED) — ground truth
        # independent of the canonicalizer's own regex chain.
        "url_canonicalize": """
            WITH p AS (
              SELECT doc_id,
                     '/' || source || '/doc-'
                       || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS pp
              FROM documents
            )
            SELECT doc_id,
                   CASE CAST(doc_id % 7 AS INTEGER)
                     WHEN 0 THEN 'https://crawl.example' || pp
                     WHEN 1 THEN 'HTTPS://WWW.Crawl.Example:443' || pp
                     WHEN 2 THEN 'https://crawl.example' || pp
                       || '?z=9&utm_campaign=x&a=1&utm_source=s'
                     WHEN 3 THEN 'https://crawl.example' || pp || '/'
                     WHEN 4 THEN 'https://crawl.example' || pp || '#frag'
                     WHEN 5 THEN 'https://crawl.example' || pp
                       || '/x%7ey?n=%2fv'
                     ELSE 'https://crawl.example.' || pp
                   END AS url_variant,
                   'https://crawl.example' || pp
                     || CASE CAST(doc_id % 7 AS INTEGER)
                        WHEN 2 THEN '?a=1&z=9'
                        WHEN 5 THEN '/x%7Ey?n=%2Fv'
                        ELSE '' END AS canonical_url
            FROM p
        """,
        # Every ratio is a single IEEE division of exact integer counts,
        # so float64 agrees bit-for-bit across engines. Stop words /
        # bullets / ellipses use list ops + starts_with/ends_with (no
        # regex shorthand) — same explicit forms as the Spark side.
        "quality_rule_flags": r"""
            WITH m AS (
              SELECT doc_id,
                     len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+')) AS n_words,
                     length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alnum,
                     length(regexp_replace(text, '[A-Za-z0-9 \t\n\r\f\x0B]', '', 'g')) AS n_sym,
                     length(text) AS n_chars,
                     list_filter(list_transform(string_split_regex(text, '\.'),
                                                s -> trim(s)),
                                 s -> s <> '') AS sents,
                     len(list_intersect(
                       list_distinct(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')),
                       ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
                       AS n_stop_words,
                     list_filter(list_transform(string_split(text, chr(10)),
                                                s -> trim(s)),
                                 s -> s <> '') AS lines
              FROM documents
            ),
            d AS (
              SELECT doc_id, n_words, n_stop_words,
                     CAST(n_alnum AS DOUBLE) / greatest(n_words, 1) AS mean_word_len,
                     CAST(n_sym AS DOUBLE) / greatest(n_chars, 1) AS symbol_ratio,
                     CAST(len(sents) - len(list_distinct(sents)) AS DOUBLE)
                       / greatest(len(sents), 1) AS dup_sentence_frac,
                     CAST(len(list_filter(lines,
                            s -> starts_with(s, '-') OR starts_with(s, '*')
                                 OR starts_with(s, '•'))) AS DOUBLE)
                       / greatest(len(lines), 1) AS bullet_line_ratio,
                     CAST(len(list_filter(lines,
                            s -> ends_with(s, '...') OR ends_with(s, '…')))
                          AS DOUBLE)
                       / greatest(len(lines), 1) AS ellipsis_line_ratio
              FROM m
            )
            SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                   dup_sentence_frac,
                   CAST(n_stop_words AS INT) AS n_stop_words,
                   bullet_line_ratio, ellipsis_line_ratio,
                   n_words >= 10 AND n_words <= 100000 AS r_len,
                   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_word_len,
                   symbol_ratio <= 0.25 AS r_symbol,
                   dup_sentence_frac <= 0.30 AS r_dup_sent,
                   n_stop_words >= 2 AS r_stopwords,
                   bullet_line_ratio <= 0.90 AS r_bullet,
                   ellipsis_line_ratio <= 0.30 AS r_ellipsis,
                   (n_words >= 10 AND n_words <= 100000)
                   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                   AND symbol_ratio <= 0.25
                   AND dup_sentence_frac <= 0.30
                   AND n_stop_words >= 2
                   AND bullet_line_ratio <= 0.90
                   AND ellipsis_line_ratio <= 0.30 AS keep
            FROM d
        """,
        # Prompt-family oracles: rebuild the ENTIRE construction in SQL —
        # derived inventory (same md5 sense counts / glosses / examples),
        # seeded gloss coin, rank-ordered candidate lists, portable-md5
        # letter offsets, first-word-boundary marking, the 128-slot letter
        # table as a literal, and the MC template with the fixed NOTA slot.
        "training_prompts": r"""
            WITH letters AS (SELECT {LETTERS} AS l),
            lemmas AS (
              SELECT lemma FROM (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')) AS lemma
                FROM documents)
              WHERE regexp_matches(lemma, '^[a-z]+$') AND length(lemma) > 3
              GROUP BY lemma HAVING count(*) >= 5
            ),
            sdef AS (
              SELECT lemma, k,
                     lemma || '-s' || CAST(k AS VARCHAR) AS sense_id,
                     lemma || ' as sense ' || CAST(k AS VARCHAR) || ' about '
                       || substr(md5('t:' || lemma || CAST(k AS VARCHAR)), 1, 6) AS src,
                     'any ' || lemma || ' involving '
                       || substr(md5('a:' || lemma || CAST(k AS VARCHAR)), 1, 6) AS alt
              FROM (
                SELECT lemma,
                       unnest(range(CAST(CAST(('0x' || substr(md5('ns:' || lemma), 1, 8)) AS BIGINT) % 3 + 1 AS INTEGER))) AS k
                FROM lemmas)
            ),
            chosen AS (
              SELECT lemma, k, sense_id,
                     CASE WHEN CAST(('0x' || substr(md5('42:gloss:' || sense_id), 1, 8)) AS BIGINT) % 2 = 0
                          THEN src ELSE alt END AS definition
              FROM sdef
            ),
            grp AS (
              SELECT lemma,
                     list(definition ORDER BY k) AS defs,
                     list(sense_id ORDER BY k) AS sense_ids,
                     CAST(count(*) AS INTEGER) AS n
              FROM chosen GROUP BY lemma
            ),
            ex AS (
              SELECT lemma, sense_id,
                     unnest(['the ' || lemma || ' stood near the door on day ' || CAST(k AS VARCHAR),
                             'every visitor saw that ' || lemma || ' by evening ' || CAST(k AS VARCHAR)]) AS sentence
              FROM sdef
            ),
            meta AS (
              SELECT e.lemma, e.sense_id AS correct_sense_id,
                     regexp_replace(e.sentence, '\b' || e.lemma || '\b',
                                    '*' || e.lemma || '*') AS marked,
                     g.defs, g.sense_ids, g.n,
                     CAST(CAST(('0x' || substr(md5('42:off:' || e.sense_id || ':' || e.sentence), 1, 8)) AS BIGINT)
                          % greatest(127 - g.n, 1) AS INTEGER) AS start_offset,
                     CAST(list_position(g.sense_ids, e.sense_id) AS INTEGER) AS cpos
              FROM ex e JOIN grp g ON e.lemma = g.lemma
            )
            SELECT m.lemma, 'n' AS pos, m.correct_sense_id, m.start_offset,
                   CAST(m.start_offset + m.cpos - 1 AS INTEGER) AS correct_letter_index,
                   'What is the meaning of *' || m.lemma || '* in this sentence?'
                   || chr(10) || chr(10) || 'Sentence: ' || m.marked
                   || chr(10) || chr(10)
                   || array_to_string(
                        list_append(
                          list_transform(range(1, m.n + 1),
                            i -> lt.l[m.start_offset + i] || '. ' || m.defs[i]),
                          lt.l[128] || '. none of the above'),
                        chr(10))
                   || chr(10) || chr(10) || 'Answer: [unused0] [MASK]' AS prompt
            FROM meta m CROSS JOIN letters lt
        """.replace("{LETTERS}", _LETTERS_SQL),
        "eval_examples": r"""
            WITH letters AS (SELECT {LETTERS} AS l),
            lemmas AS (
              SELECT lemma FROM (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')) AS lemma
                FROM documents)
              WHERE regexp_matches(lemma, '^[a-z]+$') AND length(lemma) > 3
              GROUP BY lemma HAVING count(*) >= 5
            ),
            sdef AS (
              SELECT lemma, k,
                     lemma || '-s' || CAST(k AS VARCHAR) AS sense_id,
                     lemma || ' as sense ' || CAST(k AS VARCHAR) || ' about '
                       || substr(md5('t:' || lemma || CAST(k AS VARCHAR)), 1, 6)
                     || ' — ' ||
                     'any ' || lemma || ' involving '
                       || substr(md5('a:' || lemma || CAST(k AS VARCHAR)), 1, 6)
                       AS sense_definition
              FROM (
                SELECT lemma,
                       unnest(range(CAST(CAST(('0x' || substr(md5('ns:' || lemma), 1, 8)) AS BIGINT) % 3 + 1 AS INTEGER))) AS k
                FROM lemmas)
            ),
            grp AS (
              SELECT lemma,
                     list(sense_definition ORDER BY k) AS defs,
                     list(sense_id ORDER BY k) AS sense_ids,
                     CAST(count(*) AS INTEGER) AS n
              FROM sdef WHERE sense_id IS NOT NULL GROUP BY lemma
            ),
            ex AS (
              SELECT lemma, sense_id,
                     unnest(['the ' || lemma || ' stood near the door on day ' || CAST(k AS VARCHAR),
                             'every visitor saw that ' || lemma || ' by evening ' || CAST(k AS VARCHAR)]) AS sentence
              FROM sdef
            ),
            meta AS (
              SELECT e.lemma, e.sense_id, g.defs, g.n,
                     regexp_replace(e.sentence, '\b' || e.lemma || '\b',
                                    '*' || e.lemma || '*') AS marked,
                     CAST(list_position(g.sense_ids, e.sense_id) AS INTEGER) AS cpos
              FROM ex e JOIN grp g ON e.lemma = g.lemma
            )
            SELECT m.lemma AS word, m.marked AS marked_sentence,
                   m.sense_id AS correct_sense_id,
                   CAST(m.cpos - 1 AS INTEGER) AS correct_letter_index,
                   lt.l[m.cpos] AS correct_letter,
                   m.n AS n_defs,
                   'What is the meaning of *' || m.lemma || '* in this sentence?'
                   || chr(10) || chr(10) || 'Sentence: ' || m.marked
                   || chr(10) || chr(10)
                   || array_to_string(
                        list_append(
                          list_transform(range(1, m.n + 1),
                            i -> lt.l[i] || '. ' || m.defs[i]),
                          lt.l[128] || '. none of the above'),
                        chr(10))
                   || chr(10) || chr(10) || 'Answer: [unused0] [MASK]' AS prompt
            FROM meta m CROSS JOIN letters lt
        """.replace("{LETTERS}", _LETTERS_SQL),
        # Full prompt path replay: same derived inventory / example / marked
        # sentence / rank-ordered defs CTEs as eval_examples, then the
        # dyadic scorer (token-set overlap of each choice line with the
        # Sentence line, capped at 63, over 64; fixed NOTA prior 1/64 =
        # 0.015625) and the T12 decode (strict >, first-position argmax,
        # one renormalizing IEEE division). All values are multiples of
        # 2^-6 -> float32 (Spark vectors) == float64 (here) bit-for-bit.
        "prompt_path_assignments_derived": r"""
            WITH lemmas AS (
              SELECT lemma FROM (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')) AS lemma
                FROM documents)
              WHERE regexp_matches(lemma, '^[a-z]+$') AND length(lemma) > 3
              GROUP BY lemma HAVING count(*) >= 5
            ),
            sdef AS (
              SELECT lemma, k,
                     lemma || '-s' || CAST(k AS VARCHAR) AS sense_id,
                     lemma || ' as sense ' || CAST(k AS VARCHAR) || ' about '
                       || substr(md5('t:' || lemma || CAST(k AS VARCHAR)), 1, 6)
                     || ' — ' ||
                     'any ' || lemma || ' involving '
                       || substr(md5('a:' || lemma || CAST(k AS VARCHAR)), 1, 6)
                       AS sense_definition
              FROM (
                SELECT lemma,
                       unnest(range(CAST(CAST(('0x' || substr(md5('ns:' || lemma), 1, 8)) AS BIGINT) % 3 + 1 AS INTEGER))) AS k
                FROM lemmas)
            ),
            grp AS (
              SELECT lemma,
                     list(sense_definition ORDER BY k) AS defs,
                     list(sense_id ORDER BY k) AS sense_ids,
                     CAST(count(*) AS INTEGER) AS n
              FROM sdef WHERE sense_id IS NOT NULL GROUP BY lemma
            ),
            ex AS (
              SELECT lemma, sense_id,
                     unnest(['the ' || lemma || ' stood near the door on day ' || CAST(k AS VARCHAR),
                             'every visitor saw that ' || lemma || ' by evening ' || CAST(k AS VARCHAR)]) AS sentence
              FROM sdef
            ),
            meta AS (
              SELECT e.sense_id AS correct_sense_id,
                     regexp_replace(e.sentence, '\b' || e.lemma || '\b',
                                    '*' || e.lemma || '*') AS marked_sentence,
                     g.defs, g.n AS n_defs,
                     CAST(list_position(g.sense_ids, e.sense_id) - 1 AS INTEGER)
                       AS correct_letter_index
              FROM ex e JOIN grp g ON e.lemma = g.lemma
            ),
            scored AS (
              SELECT correct_sense_id, marked_sentence, n_defs,
                     correct_letter_index,
                     list_transform(defs, d ->
                       CAST(least(len(list_intersect(
                         list_distinct(regexp_extract_all(lower(d), '[a-z0-9'']+')),
                         list_distinct(regexp_extract_all(lower(marked_sentence), '[a-z0-9'']+')))),
                         63) AS DOUBLE) / 64.0) AS ps
              FROM meta
            ),
            a AS (
              SELECT *,
                     list_aggregate(ps, 'max') AS best,
                     COALESCE(list_aggregate(ps, 'sum'), 0.0) + 0.015625
                       AS total
              FROM scored
            )
            SELECT correct_sense_id, marked_sentence, n_defs,
                   correct_letter_index,
                   CASE WHEN NOT (n_defs = 0 OR 0.015625 > best)
                        THEN CAST(list_position(ps, best) - 1 AS INT)
                   END AS choice_index,
                   (n_defs = 0 OR 0.015625 > best) AS is_nota_pred,
                   CASE WHEN total > 0
                        THEN (CASE WHEN (n_defs = 0 OR 0.015625 > best)
                                   THEN 0.015625 ELSE best END) / total
                        ELSE 0.0 END AS confidence
            FROM a
        """,
        # End-to-end oracle for the flagship dedup operator: the Spark side
        # is MinHash-LSH candidates -> exact token-3-gram Jaccard verify
        # (>= 0.7) -> iterative large-star/small-star CC. The oracle skips
        # the LSH approximation entirely — at gate scale DuckDB can afford
        # ALL pairs — so it also certifies the banding recall: any true
        # >=0.7 pair the LSH missed (or a capped band bucket dropped) would
        # split a cluster and hash-mismatch. Same gram construction
        # (split on \s+ of lower(trim(text)); <3 tokens -> one whole-text
        # gram), same jaccard = inter / greatest(union, 1), same
        # min-member cluster ids via recursive transitive closure.
        # RRF replay: the same two ranked lists (row_number, identical tie
        # orders), best-rank dedup, scaled-DIV reciprocal sum, pinned
        # (score DESC, item ASC) fused order, top-10.
        "rrf_hybrid": r"""
            WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
            by_len AS (
              SELECT lang AS query, doc_id AS item,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars DESC, doc_id ASC) AS r,
                     'length' AS src
              FROM d
            ),
            by_id AS (
              SELECT lang AS query, doc_id AS item,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY doc_id ASC) AS r,
                     'fresh' AS src
              FROM d
            ),
            u AS (
              SELECT * FROM by_len WHERE r <= 20
              UNION ALL
              SELECT * FROM by_id WHERE r <= 20
            ),
            best AS (
              SELECT query, src, item, CAST(MIN(r) AS BIGINT) AS r
              FROM u GROUP BY 1, 2, 3
            ),
            fused AS (
              SELECT query, item,
                     CAST(SUM(1000000000000 // (60 + r)) AS BIGINT) AS fused_milli
              FROM best GROUP BY 1, 2
            ),
            ranked AS (
              SELECT query, item, fused_milli,
                     CAST(row_number() OVER (PARTITION BY query
                                             ORDER BY fused_milli DESC, item ASC)
                          AS BIGINT) AS fused_rank
              FROM fused
            )
            SELECT query, item, fused_milli, fused_rank
            FROM ranked WHERE fused_rank <= 10
        """,
        # MAD replay: exact type-1 medians via row_number + ceil-rank
        # (greatest(1,(n+1)//2)), deviation median the same way, flag as
        # the identical integer cross-multiply (k_milli=3500).
        "length_outliers": r"""
            WITH v AS (SELECT doc_id, lang, source, n_chars FROM documents),
            c1 AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
                   FROM v WHERE n_chars IS NOT NULL GROUP BY 1, 2),
            r1 AS (SELECT lang, source, n_chars,
                          row_number() OVER (PARTITION BY lang, source
                                             ORDER BY n_chars) AS r
                   FROM v WHERE n_chars IS NOT NULL),
            med AS (SELECT r1.lang, r1.source,
                           CAST(MAX(CASE WHEN r = greatest(1, (n + 1) // 2)
                                         THEN n_chars END) AS BIGINT)
                             AS group_median
                    FROM r1 JOIN c1 USING (lang, source) GROUP BY 1, 2),
            d AS (SELECT v.lang, v.source,
                         abs(v.n_chars - m.group_median) AS dev
                  FROM v JOIN med m USING (lang, source)
                  WHERE v.n_chars IS NOT NULL),
            c2 AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
                   FROM d GROUP BY 1, 2),
            r2 AS (SELECT lang, source, dev,
                          row_number() OVER (PARTITION BY lang, source
                                             ORDER BY dev) AS r
                   FROM d),
            mad AS (SELECT r2.lang, r2.source,
                           CAST(MAX(CASE WHEN r = greatest(1, (n + 1) // 2)
                                         THEN dev END) AS BIGINT) AS group_mad
                    FROM r2 JOIN c2 USING (lang, source) GROUP BY 1, 2)
            SELECT v.doc_id, v.lang, v.source, v.n_chars,
                   m.group_median, d2.group_mad,
                   CASE WHEN v.n_chars IS NULL THEN CAST(NULL AS BOOLEAN)
                        ELSE abs(v.n_chars - m.group_median) * 1000
                             > 3500 * d2.group_mad END AS is_outlier
            FROM v
            LEFT JOIN med m ON m.lang = v.lang AND m.source = v.source
            LEFT JOIN mad d2 ON d2.lang = v.lang AND d2.source = v.source
        """,
        # CCNet-bucket replay: the classifier score CTE, per-lang counts,
        # row_number ranks, type-1 cuts at ceil(i*n/3) (integer DIV), then
        # the same strict-> indicator sum and ascending labels.
        "ccnet_buckets": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(COALESCE(text, ''))), '[ \t\n\r\f\x0B]+') AS t
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(list_sum(list_transform(t,
                       tok -> (CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 2001) - 1000
                     )) AS BIGINT) AS logit_milli
              FROM toks
            ),
            sc AS (
              SELECT s.doc_id, d.lang,
                     CAST(logit_milli AS DOUBLE)
                       / (1000.0 * CAST(n_tokens AS DOUBLE)) AS score
              FROM s JOIN documents d USING (doc_id)
            ),
            cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                    FROM sc WHERE score IS NOT NULL GROUP BY lang),
            rk AS (
              SELECT lang, score,
                     row_number() OVER (PARTITION BY lang ORDER BY score) AS r
              FROM sc WHERE score IS NOT NULL
            ),
            cuts AS (
              SELECT rk.lang,
                     MAX(CASE WHEN r = greatest(1, (1 * n + 2) // 3)
                              THEN score END) AS c1,
                     MAX(CASE WHEN r = greatest(1, (2 * n + 2) // 3)
                              THEN score END) AS c2
              FROM rk JOIN cnt USING (lang) GROUP BY rk.lang
            )
            SELECT sc.doc_id, sc.lang, sc.score,
                   CASE WHEN sc.score IS NULL THEN CAST(NULL AS VARCHAR)
                        ELSE CASE (CASE WHEN sc.score > c.c1 THEN 1 ELSE 0 END)
                                + (CASE WHEN sc.score > c.c2 THEN 1 ELSE 0 END)
                             WHEN 0 THEN 'tail' WHEN 1 THEN 'middle'
                             ELSE 'head' END END AS bucket
            FROM sc LEFT JOIN cuts c ON c.lang = sc.lang
        """,
        # Curation-composition replay: the quality keep-conjunction, the
        # certified minhash closure RESTRICTED to survivors, the keep-best
        # row_number pick (n_chars DESC, id ASC), and the packing window
        # arithmetic — each identical to its standalone oracle, chained.
        "curation_pipeline": r"""
            WITH RECURSIVE qm AS (
              SELECT doc_id,
                     len(regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+')) AS n_words,
                     length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alnum,
                     length(regexp_replace(text, '[A-Za-z0-9 \t\n\r\f\x0B]', '', 'g')) AS n_sym,
                     length(text) AS n_chars,
                     list_filter(list_transform(string_split_regex(text, '\.'),
                                                s -> trim(s)),
                                 s -> s <> '') AS sents,
                     len(list_intersect(
                       list_distinct(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')),
                       ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
                       AS n_stop_words,
                     list_filter(list_transform(string_split(text, chr(10)),
                                                s -> trim(s)),
                                 s -> s <> '') AS lines
              FROM documents
            ),
            qd AS (
              SELECT doc_id, n_words, n_stop_words,
                     CAST(n_alnum AS DOUBLE) / greatest(n_words, 1) AS mean_word_len,
                     CAST(n_sym AS DOUBLE) / greatest(n_chars, 1) AS symbol_ratio,
                     CAST(len(sents) - len(list_distinct(sents)) AS DOUBLE)
                       / greatest(len(sents), 1) AS dup_sentence_frac,
                     CAST(len(list_filter(lines,
                            s -> starts_with(s, '-') OR starts_with(s, '*')
                                 OR starts_with(s, '•'))) AS DOUBLE)
                       / greatest(len(lines), 1) AS bullet_line_ratio,
                     CAST(len(list_filter(lines,
                            s -> ends_with(s, '...') OR ends_with(s, '…')))
                          AS DOUBLE)
                       / greatest(len(lines), 1) AS ellipsis_line_ratio
              FROM qm
            ),
            surv AS (
              SELECT d.* FROM documents d JOIN qd USING (doc_id)
              WHERE (qd.n_words >= 10 AND qd.n_words <= 100000)
                AND (qd.mean_word_len >= 3.0 AND qd.mean_word_len <= 10.0)
                AND qd.symbol_ratio <= 0.25
                AND qd.dup_sentence_frac <= 0.30
                AND qd.n_stop_words >= 0
                AND qd.bullet_line_ratio <= 0.90
                AND qd.ellipsis_line_ratio <= 0.30
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(
                                 range(0, len(toks) - 2),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
                          ELSE [array_to_string(toks, ' ')] END AS grams
              FROM (SELECT doc_id,
                           regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
                    FROM surv)
            ),
            e AS (
              SELECT a.doc_id AS src, b.doc_id AS dst
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                    / greatest(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0)
                    >= 0.7
            ),
            sym AS (SELECT src, dst FROM e
                    UNION SELECT dst AS src, src AS dst FROM e),
            nodes AS (SELECT doc_id AS n FROM surv),
            reach(a, b) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            ),
            clus AS (
              SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
              FROM reach GROUP BY a
            ),
            reps AS (
              SELECT doc_id FROM (
                SELECT c.doc_id,
                       row_number() OVER (PARTITION BY c.cluster_id
                                          ORDER BY s.n_chars DESC, c.doc_id ASC) AS rn
                FROM clus c JOIN surv s USING (doc_id))
              WHERE rn = 1
            ),
            k AS (
              SELECT s.doc_id,
                     CAST(('0x' || substr(md5('42:pack:' || CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
                     CAST(CASE WHEN trim(COALESCE(s.text, '')) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(COALESCE(s.text, '')), '[ \t\n\r\f\x0B]+'))
                     END AS INT) AS n_tokens
              FROM surv s JOIN reps USING (doc_id)
            ),
            o AS (
              SELECT doc_id, CAST(h % 8 AS INT) AS shard, n_tokens,
                     SUM(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
                                         ROWS UNBOUNDED PRECEDING) AS end_off
              FROM k
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(end_off - n_tokens AS BIGINT) AS start_offset,
                   CAST(floor((end_off - n_tokens) / 256) AS BIGINT)
                     AS chunk_first,
                   CAST(floor(greatest(end_off - 1, end_off - n_tokens) / 256)
                     AS BIGINT) AS chunk_last
            FROM o
        """,
        # Prefix-filter replay: same distinct membership, global rarity
        # order (count ASC, token ASC), integer-ceil prefix, 4096 cap,
        # token-join intersections, integer cross-multiply verify.
        "similarity_join": r"""
            WITH m AS (
              SELECT DISTINCT doc_id, tok AS token FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                              '[ \t\n\r\f\x0B]+')) AS tok
                FROM documents)
              WHERE tok <> ''
            ),
            sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
                      FROM m GROUP BY doc_id),
            freq AS (SELECT token, CAST(count(*) AS BIGINT) AS f
                     FROM m GROUP BY token),
            ranked AS (
              SELECT m.doc_id, m.token,
                     row_number() OVER (PARTITION BY m.doc_id
                                        ORDER BY f.f ASC, m.token ASC) AS rn
              FROM m JOIN freq f USING (token)
            ),
            prefix AS (
              SELECT r.token, r.doc_id
              FROM ranked r JOIN sizes s USING (doc_id)
              WHERE r.rn <= s.len - ((70 * s.len + 99) // 100) + 1
            ),
            bs AS (SELECT token, count(*) AS n FROM prefix GROUP BY token),
            okp AS (SELECT p.token, p.doc_id FROM prefix p
                    JOIN bs USING (token) WHERE bs.n <= 4096),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM okp a JOIN okp b
                ON a.token = b.token AND a.doc_id < b.doc_id
            ),
            inter AS (
              SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
              FROM cand c
              JOIN m ma ON ma.doc_id = c.id_a
              JOIN m mb ON mb.doc_id = c.id_b AND mb.token = ma.token
              GROUP BY 1, 2
            )
            SELECT i.id_a, i.id_b, i.n_inter,
                   CAST(sa.len + sb.len - i.n_inter AS BIGINT) AS n_union,
                   CAST(i.n_inter AS DOUBLE)
                     / CAST(sa.len + sb.len - i.n_inter AS DOUBLE) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE i.n_inter * 100 >= 70 * (sa.len + sb.len - i.n_inter)
        """,
        # Dedup-impact replay: identical MinHash-certified clustering CTE
        # (exact Jaccard + recursive closure), min-id keep rule, per-slice
        # BIGINT sums, drop ratios as the same fixed IEEE trees.
        "dedup_impact": r"""
            WITH RECURSIVE g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(
                                 range(0, len(toks) - 2),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
                          ELSE [array_to_string(toks, ' ')] END AS grams
              FROM (SELECT doc_id,
                           regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
                    FROM documents)
            ),
            e AS (
              SELECT a.doc_id AS src, b.doc_id AS dst
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                    / greatest(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0)
                    >= 0.7
            ),
            sym AS (SELECT src, dst FROM e
                    UNION SELECT dst AS src, src AS dst FROM e),
            nodes AS (SELECT doc_id AS n FROM documents),
            reach(a, b) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            ),
            clusters AS (
              SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
              FROM reach GROUP BY a
            ),
            reps AS (
              SELECT cluster_id, min(doc_id) AS keep_id
              FROM clusters GROUP BY cluster_id
            ),
            flagged AS (
              SELECT d.lang, d.source,
                     CAST(COALESCE(d.n_chars, 0) AS BIGINT) AS sz,
                     COALESCE(d.doc_id = r.keep_id, TRUE) AS kept
              FROM documents d
              LEFT JOIN clusters c ON c.doc_id = d.doc_id
              LEFT JOIN reps r ON r.cluster_id = c.cluster_id
            ),
            agg AS (
              SELECT lang, source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                     CAST(SUM(sz) AS BIGINT) AS chars_total,
                     CAST(SUM(CASE WHEN kept THEN sz ELSE 0 END) AS BIGINT) AS chars_kept
              FROM flagged GROUP BY lang, source
            )
            SELECT lang, source, n_docs, n_kept,
                   CAST(n_docs - n_kept AS BIGINT) AS n_dropped,
                   chars_total, chars_kept,
                   CASE WHEN n_docs = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE 1.0 - CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE) END
                     AS doc_drop_ratio,
                   CASE WHEN chars_total = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE 1.0 - CAST(chars_kept AS DOUBLE)
                             / CAST(chars_total AS DOUBLE) END
                     AS char_drop_ratio
            FROM agg
        """,
        "minhash_dedup_clusters": r"""
            WITH RECURSIVE g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(
                                 range(0, len(toks) - 2),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
                          ELSE [array_to_string(toks, ' ')] END AS grams
              FROM (SELECT doc_id,
                           regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
                    FROM documents)
            ),
            e AS (
              SELECT a.doc_id AS src, b.doc_id AS dst
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                    / greatest(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0)
                    >= 0.7
            ),
            sym AS (SELECT src, dst FROM e
                    UNION SELECT dst AS src, src AS dst FROM e),
            nodes AS (SELECT doc_id AS n FROM documents),
            reach(a, b) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            )
            SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
            FROM reach GROUP BY a
        """,
        # Clustering replayed as in minhash_dedup_clusters, then the SAME
        # portable md5 bucket arithmetic as disjoint_split_buckets over the
        # cluster id — leakage-freedom (one bucket per cluster) holds by
        # construction on both engines.
        "cluster_split": r"""
            WITH RECURSIVE g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(
                                 range(0, len(toks) - 2),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
                          ELSE [array_to_string(toks, ' ')] END AS grams
              FROM (SELECT doc_id,
                           regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
                    FROM documents)
            ),
            e AS (
              SELECT a.doc_id AS src, b.doc_id AS dst
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                    / greatest(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0)
                    >= 0.7
            ),
            sym AS (SELECT src, dst FROM e
                    UNION SELECT dst AS src, src AS dst FROM e),
            nodes AS (SELECT doc_id AS n FROM documents),
            reach(a, b) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            ),
            clusters AS (
              SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
              FROM reach GROUP BY a
            )
            SELECT doc_id, cluster_id,
                   CAST(CAST(('0x' || substr(md5('42:' || CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS INT) AS bucket
            FROM clusters
        """,
        # Same gram construction (concat_ws of token slices), same
        # (count desc, gram asc) argmax, same overlap-naive char-coverage
        # formulas, single IEEE division each.
        "repetition_stats": r"""
            WITH base AS (
              SELECT doc_id, length(text) AS chars,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+')
                     END AS toks
              FROM documents
            ),
            g2 AS (
              SELECT doc_id, gram, count(*) AS cnt,
                     count(*) * length(gram) AS covered
              FROM (
                SELECT doc_id,
                       array_to_string(list_slice(toks, i + 1, i + 2), ' ') AS gram
                FROM (SELECT doc_id, toks,
                             unnest(range(len(toks) - 1)) AS i
                      FROM base WHERE len(toks) >= 2))
              GROUP BY doc_id, gram
            ),
            top2 AS (
              SELECT doc_id, covered AS top_covered FROM (
                SELECT doc_id, covered,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY cnt DESC, gram ASC) AS rn
                FROM g2)
              WHERE rn = 1
            ),
            g5 AS (
              SELECT doc_id, gram, count(*) AS cnt,
                     count(*) * length(gram) AS covered
              FROM (
                SELECT doc_id,
                       array_to_string(list_slice(toks, i + 1, i + 5), ' ') AS gram
                FROM (SELECT doc_id, toks,
                             unnest(range(len(toks) - 4)) AS i
                      FROM base WHERE len(toks) >= 5))
              GROUP BY doc_id, gram
            ),
            dup5 AS (
              SELECT doc_id, SUM(covered) AS dup_covered
              FROM g5 WHERE cnt > 1 GROUP BY doc_id
            )
            SELECT b.doc_id,
                   CAST(COALESCE(t.top_covered, 0) AS DOUBLE)
                     / greatest(b.chars, 1) AS top_ngram_char_frac,
                   CAST(COALESCE(d.dup_covered, 0) AS DOUBLE)
                     / greatest(b.chars, 1) AS dup_ngram_char_frac
            FROM base b
            LEFT JOIN top2 t ON b.doc_id = t.doc_id
            LEFT JOIN dup5 d ON b.doc_id = d.doc_id
        """,
        # Ordered replace-and-count replay over the same planted PII; the
        # patterns use explicit ASCII classes and no lookaround, the
        # regimes where Java regex and RE2 agree exactly (counts are over
        # the ORIGINAL text, replacements in email -> ip -> phone order).
        "pii_redaction": r"""
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact doc' || CAST(doc_id AS VARCHAR)
                       || '@example.com from 10.'
                       || CAST(doc_id % 256 AS VARCHAR) || '.'
                       || CAST(doc_id % 100 AS VARCHAR) || '.7 call +4930'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' and 555-867-5309' ELSE '' END AS text
              FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
                     '\+[0-9]{7,15}|[0-9]{3}-[0-9]{3,4}-[0-9]{4}',
                     '<PHONE>', 'g') AS clean_text,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))
                     AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                     '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INT) AS n_ips,
                   CAST(len(regexp_extract_all(text,
                     '\+[0-9]{7,15}|[0-9]{3}-[0-9]{3,4}-[0-9]{4}'))
                     AS INT) AS n_phones
            FROM planted
        """,
        # Same portable shard hash, same (h, id) order, same per-shard
        # running sum and capacity-256 chunk arithmetic (floor of an
        # exact double division of integers < 2^53).
        # Decontamination replay: identical tokenization (explicit
        # whitespace class), 8-gram windows via inclusive list slices,
        # 60-bit md5-prefix membership keys (integer-exact both engines),
        # one IEEE division at the end.
        "contamination_check": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(COALESCE(text, ''))), '[ \t\n\r\f\x0B]+') AS t
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 8 THEN
                       list_distinct(list_transform(range(1, len(t) - 6),
                         i -> CAST(('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT)))
                     ELSE [] END AS ghs
              FROM toks
            ),
            ev AS (SELECT doc_id, unnest(ghs) AS gh FROM g WHERE doc_id % 20 = 0),
            evd AS (SELECT doc_id FROM g WHERE doc_id % 20 = 0),
            tr AS (SELECT DISTINCT unnest(ghs) AS gh FROM g WHERE doc_id % 20 <> 0),
            agg AS (
              SELECT e.doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN t.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
              FROM ev e LEFT JOIN tr t USING (gh)
              GROUP BY e.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(a.n_grams, 0) AS n_grams,
                   COALESCE(a.n_hit, 0) AS n_hit,
                   CASE WHEN COALESCE(a.n_grams, 0) > 0
                        THEN CAST(a.n_hit AS DOUBLE) / CAST(a.n_grams AS DOUBLE)
                        ELSE 0.0 END AS contamination
            FROM evd d LEFT JOIN agg a USING (doc_id)
        """,
        # ExactSubstr span-dedup replay: same tokenization + 60-bit
        # md5-prefix window keys as contamination_check; the canonical
        # first occurrence is min(doc_id, pos) — encoded here as one
        # BIGINT (doc_id*2^32 + pos; identical lexicographic order to
        # the operator's min(struct) while doc_id < 2^31) — and the
        # span merge is the same gaps-and-islands window algebra.
        "substring_span_dedup": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(COALESCE(text, ''))), '[ \t\n\r\f\x0B]+') AS t
              FROM documents
            ),
            base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM toks),
            w AS (
              SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t
              FROM base WHERE len(t) >= 8
            ),
            wh AS (
              SELECT doc_id, pos,
                     CAST(('0x' || substr(md5(array_to_string(t[pos:pos+7], ' ')), 1, 15)) AS BIGINT) AS h
              FROM w
            ),
            dups AS (
              SELECT h, min(doc_id * 4294967296 + pos) AS ck
              FROM wh GROUP BY h HAVING count(*) > 1
            ),
            flg AS (
              SELECT w.doc_id, w.pos
              FROM wh w JOIN dups d USING (h)
              WHERE w.doc_id * 4294967296 + w.pos <> d.ck
            ),
            isl AS (
              SELECT doc_id, pos,
                     CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= pos - 1
                          THEN 0 ELSE 1 END AS brk
              FROM flg
            ),
            isl2 AS (
              SELECT doc_id, pos,
                     SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island
              FROM isl
            ),
            spans AS (
              SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e,
                     count(*) AS wins
              FROM isl2 GROUP BY doc_id, island
            ),
            perdoc AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_spans,
                     CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
                     CAST(sum(wins) AS BIGINT) AS n_dup_windows
              FROM spans GROUP BY doc_id
            )
            SELECT b.doc_id, b.n_tokens,
                   CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
                   CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
                   CASE WHEN COALESCE(p.dup_tokens, 0) > 0
                        THEN CAST(p.dup_tokens AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
                        ELSE 0.0 END AS dup_fraction
            FROM base b LEFT JOIN perdoc p USING (doc_id)
        """,
        # As-of replay: explicit argmax window (rn=1 over ts DESC,
        # event_id DESC among right rows <= left ts) rather than native
        # ASOF JOIN, so the inclusive bound and the tie rule are pinned
        # in SQL, not in an engine default.
        "asof_join": """
            WITH l AS (
              SELECT event_id, user_id, ts, value
              FROM events WHERE event_type = 'view'
            ),
            r AS (
              SELECT event_id, user_id, ts, value
              FROM events WHERE event_type = 'click' AND ts IS NOT NULL
            ),
            j AS (
              SELECT l.event_id AS levt,
                     r.ts AS r_ts, r.event_id AS r_id, r.value AS r_value,
                     row_number() OVER (PARTITION BY l.event_id
                       ORDER BY r.ts DESC, r.event_id DESC) AS rn
              FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
            )
            SELECT l.event_id, l.user_id, l.ts, l.value,
                   j.r_ts AS asof_ts, j.r_id AS asof_event_id,
                   j.r_value AS asof_value
            FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
              ON l.event_id = j.levt
        """,
        # Exact-quantile replay: the same type-1 order statistic —
        # row_number over the sorted group, target rank in PURE INTEGER
        # arithmetic (ceil(num*n/den) = (num*n + den - 1) // den; a
        # float ceil(p*n) diverges from the true rank — IEEE
        # ceil(0.14 * 100) is 15, not 14). Ties make row identity
        # ambiguous but the VALUE at every rank is deterministic, and
        # value is all that's emitted.
        "group_quantiles": """
            WITH v AS (
              SELECT source, n_chars FROM documents WHERE n_chars IS NOT NULL
            ),
            r AS (
              SELECT source, n_chars,
                     CAST(row_number() OVER (
                       PARTITION BY source ORDER BY n_chars
                     ) AS BIGINT) AS rr
              FROM v
            ),
            n AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n
              FROM v GROUP BY source
            ),
            t(quantile, num, den) AS (
              VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)
            )
            SELECT r.source, t.quantile,
                   CAST(greatest(1, (t.num * n.n + t.den - 1) // t.den)
                        AS BIGINT) AS q_rank,
                   CAST(r.n_chars AS BIGINT) AS q_value
            FROM r
            JOIN n ON r.source = n.source
            JOIN t ON r.rr = greatest(1, (t.num * n.n + t.den - 1) // t.den)
        """,
        # Sampled-quantile replay: the SAME deterministic md5 Bernoulli
        # predicate, then the exact integer-rank replay on the sample.
        "sampled_quantiles": """
            WITH v AS (
              SELECT source, n_chars FROM documents
              WHERE n_chars IS NOT NULL
                AND CAST(('0x' || substr(md5('qs:' || CAST(doc_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % 4 = 0
            ),
            r AS (
              SELECT source, n_chars,
                     CAST(row_number() OVER (
                       PARTITION BY source ORDER BY n_chars
                     ) AS BIGINT) AS rr
              FROM v
            ),
            n AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n
              FROM v GROUP BY source
            ),
            t(quantile, num, den) AS (
              VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)
            )
            SELECT r.source, t.quantile,
                   CAST(greatest(1, (t.num * n.n + t.den - 1) // t.den)
                        AS BIGINT) AS q_rank,
                   CAST(r.n_chars AS BIGINT) AS q_value
            FROM r
            JOIN n ON r.source = n.source
            JOIN t ON r.rr = greatest(1, (t.num * n.n + t.den - 1) // t.den)
        """,
        # Soundex blocking replay: the phonetic key comes from the SAME
        # SQL template both engines evaluate (functions/phonetic.py);
        # capped blocks (> 24) are excluded exactly as the operator's
        # oversized side table excludes them.
        "phonetic_blocking": f"""
            WITH keyed AS (
              SELECT doc_id AS id, {_SDX_DOC} AS phonetic_key
              FROM documents
              WHERE {_SDX_DOC} IS NOT NULL
            ),
            ok AS (
              SELECT phonetic_key FROM keyed
              GROUP BY phonetic_key HAVING count(*) <= 24
            )
            SELECT CAST(a.id AS BIGINT) AS id_a,
                   CAST(b.id AS BIGINT) AS id_b,
                   a.phonetic_key
            FROM keyed a
            JOIN keyed b ON a.phonetic_key = b.phonetic_key AND a.id < b.id
            JOIN ok ON ok.phonetic_key = a.phonetic_key
        """,
        # Z-order replay: identical min-max integer ranks (BIGINT div),
        # the SAME Morton template rendered for DuckDB (<<|>> operators
        # instead of shiftleft/shiftright — functions/zorder dialect
        # knob), same ceil(2^16/64)=1024 chunk width.
        "zorder_layout": f"""
            WITH b AS (
              SELECT CAST(min(doc_id) AS BIGINT) AS mn0,
                     CAST(max(doc_id) AS BIGINT) AS mx0,
                     CAST(min(n_chars) AS BIGINT) AS mn1,
                     CAST(max(n_chars) AS BIGINT) AS mx1
              FROM documents
            ),
            k AS (
              SELECT ((CAST(doc_id AS BIGINT) - mn0) * 255 // (mx0 - mn0)) AS r0,
                     ((CAST(n_chars AS BIGINT) - mn1) * 255 // (mx1 - mn1)) AS r1
              FROM documents, b
            )
            SELECT CAST({_ZORDER_DUCK} // 1024 AS BIGINT) AS chunk,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(min(r0) AS BIGINT) AS dim0_min,
                   CAST(max(r0) AS BIGINT) AS dim0_max,
                   CAST(min(r1) AS BIGINT) AS dim1_min,
                   CAST(max(r1) AS BIGINT) AS dim1_max
            FROM k GROUP BY 1
        """,
        # Hopping replay: the same window_start arithmetic
        # (floor(epoch/S)*S - i*S, UTC, floored seconds) with the offsets
        # as a 3-row VALUES table; to_timestamp cast back to naive.
        "hopping_window": """
            SELECT event_type,
                   CAST(to_timestamp(
                     (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300
                     - i.i * 300
                   ) AS TIMESTAMP) AS window_start,
                   CAST(count(*) AS BIGINT) AS n,
                   min(value) AS min_value,
                   max(value) AS max_value,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_scaled
            FROM events, (VALUES (0), (1), (2)) AS i(i)
            WHERE ts IS NOT NULL
            GROUP BY event_type, 2
        """,
        # Snapshot replay: row_number is FINE in the oracle (DuckDB runs
        # once, no skew contract) — ORDER BY ts DESC, event_id DESC is
        # exactly the engine's (ts, tiebreak) struct order.
        "latest_snapshot": """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   ts,
                   CAST(event_id AS BIGINT) AS event_id,
                   event_type,
                   CAST(floor(value * 100) AS BIGINT) AS value_scaled
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
              ) AS rn
              FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL
            )
            WHERE rn = 1
        """,
        # Profile replay: per-column UNION ALL of one-row aggregates
        # (the union is the SPEC; the engine's single-statement Expand
        # plan is the cost construction). String images via CAST.
        "profile_columns": """
            SELECT 'doc_id' AS column, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
                   min(CAST(doc_id AS VARCHAR)) AS min_repr,
                   max(CAST(doc_id AS VARCHAR)) AS max_repr
            FROM documents
            UNION ALL
            SELECT 'lang', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT lang) AS BIGINT),
                   min(CAST(lang AS VARCHAR)), max(CAST(lang AS VARCHAR))
            FROM documents
            UNION ALL
            SELECT 'source', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT source) AS BIGINT),
                   min(CAST(source AS VARCHAR)), max(CAST(source AS VARCHAR))
            FROM documents
            UNION ALL
            SELECT 'n_chars', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT n_chars) AS BIGINT),
                   min(CAST(n_chars AS VARCHAR)), max(CAST(n_chars AS VARCHAR))
            FROM documents
        """,
        # Checksum replay: same tagged-field row image (chr(1) separator,
        # 'v'||value vs 'n' for NULL), same 60-bit md5->BIGINT, HUGEINT
        # sum folded mod 2^62 and pinned to BIGINT.
        "table_checksum": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(('0x' || substr(md5(concat_ws(chr(1),
                     coalesce(concat('v', CAST(doc_id AS VARCHAR)), 'n'),
                     coalesce(concat('v', CAST(lang AS VARCHAR)), 'n'),
                     coalesce(concat('v', CAST(source AS VARCHAR)), 'n'),
                     coalesce(concat('v', CAST(n_chars AS VARCHAR)), 'n')
                   )), 1, 15)) AS BIGINT)) % 4611686018427387904 AS BIGINT)
                     AS checksum
            FROM documents
            GROUP BY source
        """,
        # Chunk replay: same explicit-class token split (never \\s), same
        # integer stride arithmetic (floor vs trunc div agree after the
        # greatest(0,..) clamp), 1-based inclusive list_slice.
        "chunk_documents": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN trim(coalesce(text, '')) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(
                            trim(coalesce(text, '')), '[ \t\n\r\f\x0B]+')
                     END AS toks
              FROM documents
            ),
            n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d),
            s AS (
              SELECT doc_id, toks, n,
                     CAST(unnest(generate_series(
                       0, greatest(0, ((n - 8 - 1) // 24) * 24), 24
                     )) AS BIGINT) AS st
              FROM n
            )
            SELECT doc_id,
                   CAST(st // 24 AS BIGINT) AS chunk_id,
                   CAST(st AS BIGINT) AS token_start,
                   CAST(least(st + 32, n) AS BIGINT) AS token_end,
                   COALESCE(array_to_string(
                     list_slice(toks, CAST(st + 1 AS BIGINT),
                                CAST(st + 32 AS BIGINT)), ' '), '') AS chunk_text
            FROM s
        """,
        # tf-idf replay: same token split, same BIGINT scaled-idf
        # arithmetic, same (score desc, tf desc, token asc) window.
        "distinctive_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(
                       lower(trim(coalesce(text, ''))), '[ \t\n\r\f\x0B]+'
                     )) AS token
              FROM documents
            ),
            tf AS (
              SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
              FROM toks WHERE token <> '' GROUP BY doc_id, token
            ),
            dfq AS (
              SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY token
            ),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
            ranked AS (
              SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
                     CAST(tf.tf * ((nd.n_docs * 1000000) // dfq.df)
                          AS BIGINT) AS score_scaled,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * ((nd.n_docs * 1000000) // dfq.df)
                                DESC, tf.tf DESC, tf.token ASC
                     ) AS rank
              FROM tf JOIN dfq USING (token), nd
            )
            SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf, df,
                   score_scaled
            FROM ranked WHERE rank <= 3
        """,
        # Rollup replay: the UNION ALL of per-granularity aggregations
        # IS the spec — grouping sets is the one-scan cost construction.
        # Aggregates are hash-exact: count, order-free min/max, and a
        # floor(value*100) BIGINT sum (never a raw double sum).
        "time_rollup": """
            SELECT event_type, 'minute' AS granularity,
                   date_trunc('minute', ts) AS bucket_start,
                   CAST(count(*) AS BIGINT) AS n,
                   min(value) AS min_value, max(value) AS max_value,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_scaled
            FROM events WHERE ts IS NOT NULL
            GROUP BY event_type, date_trunc('minute', ts)
            UNION ALL
            SELECT event_type, 'hour', date_trunc('hour', ts),
                   CAST(count(*) AS BIGINT),
                   min(value), max(value),
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            FROM events WHERE ts IS NOT NULL
            GROUP BY event_type, date_trunc('hour', ts)
            UNION ALL
            SELECT event_type, 'day', date_trunc('day', ts),
                   CAST(count(*) AS BIGINT),
                   min(value), max(value),
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            FROM events WHERE ts IS NOT NULL
            GROUP BY event_type, date_trunc('day', ts)
        """,
        # Range-join replay: the plain inequality join IS the spec (the
        # bucketization is a cost construction only; containment is
        # re-checked on raw IEEE bounds, so the results are identical).
        "range_join": """
            SELECT p.event_id AS p_id, i.event_id AS i_id, p.user_id,
                   p.value AS v, i.lo, i.hi
            FROM (SELECT event_id, user_id, value
                  FROM events WHERE event_type = 'view') p
            JOIN (SELECT event_id, user_id, value AS lo, value + 5.0 AS hi
                  FROM events WHERE event_type = 'click') i
              ON p.user_id = i.user_id
             AND p.value >= i.lo AND p.value <= i.hi
        """,
        # Blocking-audit replay: the simhash_candidates CTE chain
        # verbatim (candidates), the minhash oracle's exact all-pairs
        # Jaccard construction (gold), three one-row aggregates
        # cross-joined; total_pairs via integer // 2 (exact), metrics
        # via one IEEE division each.
        "blocking_quality": """
            WITH th AS (
              SELECT doc_id, md5('sim:' || tok) AS hx
              FROM (SELECT doc_id,
                           unnest(string_split(
                             trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')),
                             ' ')) AS tok
                    FROM documents)
              WHERE tok <> ''
            ),
            bits AS (
              -- over ALL documents (left join), not just token rows: a
              -- token-less doc carries the all-zero signature, exactly
              -- like the operator — empty docs ARE near-dups of each
              -- other (fuzz-found; testdata has no empty docs)
              SELECT d.doc_id, g.i,
                     CASE WHEN COALESCE(sum(
                         CASE WHEN th.hx IS NULL THEN NULL
                              WHEN ((CAST(('0x' || substr(th.hx, 2 * (g.i // 8) + 1, 2)) AS INTEGER)
                                     >> CAST(g.i % 8 AS INTEGER)) & 1) = 1
                              THEN 1 ELSE -1 END), 0) > 0
                          THEN 1 ELSE 0 END AS m
              FROM documents d
              CROSS JOIN (SELECT unnest(range(64)) AS i) g
              LEFT JOIN th ON th.doc_id = d.doc_id
              GROUP BY d.doc_id, g.i
            ),
            chunks AS (
              SELECT doc_id, CAST(i // 16 AS INTEGER) AS c,
                     CAST(sum(m * (1 << CAST(i % 16 AS INTEGER))) AS BIGINT) AS v
              FROM bits GROUP BY doc_id, i // 16
            ),
            ok AS (
              SELECT c, v FROM chunks GROUP BY c, v HAVING count(*) <= 1024
            ),
            cand0 AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM chunks a
              JOIN ok o ON a.c = o.c AND a.v = o.v
              JOIN chunks b ON a.c = b.c AND a.v = b.v
                   AND a.doc_id < b.doc_id
            ),
            cpairs AS (
              SELECT p.id_a, p.id_b
              FROM cand0 p
              JOIN bits a ON a.doc_id = p.id_a
              JOIN bits b ON b.doc_id = p.id_b AND a.i = b.i
              GROUP BY p.id_a, p.id_b
              HAVING sum(CASE WHEN a.m <> b.m THEN 1 ELSE 0 END) <= 3
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(
                                 range(0, len(toks) - 2),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
                          ELSE [array_to_string(toks, ' ')] END AS grams
              FROM (SELECT doc_id,
                           regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
                    FROM documents)
            ),
            gold AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                    / greatest(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0)
                    >= 0.7
            ),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM documents),
            nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cpairs),
            h AS (
              SELECT CAST(count(*) AS BIGINT) AS n_gold,
                     CAST(COALESCE(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
              FROM gold go
              LEFT JOIN cpairs c ON go.id_a = c.id_a AND go.id_b = c.id_b
            )
            SELECT n.n_records,
                   CAST((n.n_records * (n.n_records - 1)) // 2 AS BIGINT) AS total_pairs,
                   nc.n_candidates, h.n_gold, h.n_hit,
                   CASE WHEN h.n_gold > 0
                        THEN CAST(h.n_hit AS DOUBLE) / CAST(h.n_gold AS DOUBLE)
                        ELSE 1.0 END AS pair_completeness,
                   1.0 - CAST(nc.n_candidates AS DOUBLE)
                       / CAST(greatest((n.n_records * (n.n_records - 1)) // 2, 1) AS DOUBLE)
                     AS reduction_ratio
            FROM n, nc, h
        """,
        # Fellegi-Sunter replay: same deterministic corruption, DuckDB's
        # built-in levenshtein (ASCII parity with Spark's pinned by
        # test; OFF ascii they diverge — codepoints vs UTF-8 bytes — so
        # every compared field here is ASCII by construction), integer
        # milli-weight CASE ladders, BIGINT total, three-zone decision.
        "fellegi_sunter": r"""
            WITH orig AS (
              SELECT c_custkey AS id_a, c_nationkey AS nk,
                     c_name AS name_a, c_mktsegment AS seg_a,
                     substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS code_a
              FROM customer
            ),
            corrupt AS (
              SELECT c_custkey AS id_b, c_nationkey AS nk,
                     CASE c_custkey % 4
                       WHEN 1 THEN replace(c_name, 'Customer', 'Custmr')
                       WHEN 2 THEN substr(c_name, 2, 1000)
                       WHEN 3 THEN c_name || 'x'
                       ELSE c_name END AS name_b,
                     CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
                          ELSE c_mktsegment END AS seg_b,
                     CASE WHEN c_custkey % 6 = 0
                          THEN 'z' || substr(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6), 2, 5)
                          ELSE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) END AS code_b
              FROM customer
            ),
            p AS (SELECT * FROM orig JOIN corrupt USING (nk)),
            lv AS (
              SELECT id_a, id_b,
                     CASE WHEN levenshtein(name_a, name_b) = 0 THEN 2
                          WHEN levenshtein(name_a, name_b) <= 3 THEN 1
                          ELSE 0 END AS lvl_name,
                     CASE WHEN levenshtein(seg_a, seg_b) = 0 THEN 2
                          ELSE 0 END AS lvl_segment,
                     CASE WHEN levenshtein(code_a, code_b) = 0 THEN 2
                          WHEN levenshtein(code_a, code_b) <= 2 THEN 1
                          ELSE 0 END AS lvl_code
              FROM p
            ),
            t AS (
              SELECT id_a, id_b, lvl_name, lvl_segment, lvl_code,
                     CAST(CASE lvl_name WHEN 2 THEN 1500 WHEN 1 THEN 600 ELSE -1200 END
                        + CASE lvl_segment WHEN 2 THEN 800 WHEN 1 THEN 0 ELSE -800 END
                        + CASE lvl_code WHEN 2 THEN 2500 WHEN 1 THEN 1000 ELSE -2000 END
                        AS BIGINT) AS total_milli
              FROM lv
            )
            SELECT id_a, id_b, lvl_name, lvl_segment, lvl_code, total_milli,
                   CASE WHEN total_milli >= 3000 THEN 'match'
                        WHEN total_milli >= 0 THEN 'possible'
                        ELSE 'non_match' END AS decision
            FROM t
            WHERE total_milli >= 0
        """,
        # One-to-one linkage replay: same FS-scored world, argmax both
        # ways spelled as row_number windows (fine in the skew-free
        # oracle; the operator uses partial-combined max_by aggregates)
        # with the operator's exact tie rule (score DESC, partner ASC).
        "mutual_best_match": r"""
            WITH orig AS (
              SELECT c_custkey AS id_a, c_nationkey AS nk,
                     c_name AS name_a, c_mktsegment AS seg_a,
                     substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS code_a
              FROM customer
            ),
            corrupt AS (
              SELECT c_custkey AS id_b, c_nationkey AS nk,
                     CASE c_custkey % 4
                       WHEN 1 THEN replace(c_name, 'Customer', 'Custmr')
                       WHEN 2 THEN substr(c_name, 2, 1000)
                       WHEN 3 THEN c_name || 'x'
                       ELSE c_name END AS name_b,
                     CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
                          ELSE c_mktsegment END AS seg_b,
                     CASE WHEN c_custkey % 6 = 0
                          THEN 'z' || substr(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6), 2, 5)
                          ELSE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) END AS code_b
              FROM customer
            ),
            p AS (SELECT * FROM orig JOIN corrupt USING (nk)),
            t AS (
              SELECT id_a, id_b,
                     CAST(CASE WHEN levenshtein(name_a, name_b) = 0 THEN 1500
                               WHEN levenshtein(name_a, name_b) <= 3 THEN 600
                               ELSE -1200 END
                        + CASE WHEN levenshtein(seg_a, seg_b) = 0 THEN 800
                               ELSE -800 END
                        + CASE WHEN levenshtein(code_a, code_b) = 0 THEN 2500
                               WHEN levenshtein(code_a, code_b) <= 2 THEN 1000
                               ELSE -2000 END
                        AS BIGINT) AS total_milli
              FROM p
            ),
            s AS (SELECT id_a, id_b, total_milli FROM t WHERE total_milli >= 0),
            ra AS (
              SELECT id_a, id_b, total_milli,
                     row_number() OVER (PARTITION BY id_a
                                        ORDER BY total_milli DESC, id_b ASC) AS rk
              FROM s
            ),
            rb AS (
              SELECT id_a, id_b,
                     row_number() OVER (PARTITION BY id_b
                                        ORDER BY total_milli DESC, id_a ASC) AS rk
              FROM s
            )
            SELECT ra.id_a, ra.id_b, CAST(ra.total_milli AS BIGINT) AS score
            FROM ra JOIN rb ON ra.id_a = rb.id_a AND ra.id_b = rb.id_b
            WHERE ra.rk = 1 AND rb.rk = 1
        """,
        # Threshold-curve replay: the FS score CTE once, then per cutoff a
        # recursive-CTE transitive closure over the namespaced surviving
        # edges and the same one-row shape aggregate; 4 points UNION ALL.
        "threshold_curve": r"""
            WITH orig AS (
              SELECT c_custkey AS id_a, c_nationkey AS nk,
                     c_name AS name_a, c_mktsegment AS seg_a,
                     substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS code_a
              FROM customer
            ),
            corrupt AS (
              SELECT c_custkey AS id_b, c_nationkey AS nk,
                     CASE c_custkey % 4
                       WHEN 1 THEN replace(c_name, 'Customer', 'Custmr')
                       WHEN 2 THEN substr(c_name, 2, 1000)
                       WHEN 3 THEN c_name || 'x'
                       ELSE c_name END AS name_b,
                     CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
                          ELSE c_mktsegment END AS seg_b,
                     CASE WHEN c_custkey % 6 = 0
                          THEN 'z' || substr(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6), 2, 5)
                          ELSE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) END AS code_b
              FROM customer
            ),
            p AS (SELECT * FROM orig JOIN corrupt USING (nk)),
            fs AS (
              SELECT id_a, id_b,
                     CAST(CASE WHEN levenshtein(name_a, name_b) = 0 THEN 1500
                               WHEN levenshtein(name_a, name_b) <= 3 THEN 600
                               ELSE -1200 END
                        + CASE WHEN levenshtein(seg_a, seg_b) = 0 THEN 800
                               ELSE -800 END
                        + CASE WHEN levenshtein(code_a, code_b) = 0 THEN 2500
                               WHEN levenshtein(code_a, code_b) <= 2 THEN 1000
                               ELSE -2000 END
                        AS BIGINT) AS score
              FROM p
            )
              SELECT CAST(0 AS BIGINT) AS threshold,
                     CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_linked_records,
                     CAST(COUNT(*) AS BIGINT) AS n_entities,
                     CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS max_cluster_size,
                     CASE WHEN COUNT(*) = 0 THEN CAST(NULL AS DOUBLE)
                          ELSE CAST(COALESCE(SUM(sz), 0) AS DOUBLE)
                               / CAST(COUNT(*) AS DOUBLE) END AS mean_cluster_size
              FROM (
                WITH RECURSIVE e AS (
                  SELECT 'a:' || CAST(id_a AS VARCHAR) AS src,
                         'b:' || CAST(id_b AS VARCHAR) AS dst
                  FROM fs WHERE score >= 0
                ),
                nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
                sym AS (SELECT src, dst FROM e
                        UNION SELECT dst AS src, src AS dst FROM e),
                reach(a, b) AS (
                  SELECT n, n FROM nodes
                  UNION
                  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
                ),
                comp AS (SELECT a AS node, min(b) AS component
                         FROM reach GROUP BY a)
                SELECT component, CAST(count(*) AS BIGINT) AS sz
                FROM comp GROUP BY component
              )
              UNION ALL
              SELECT CAST(1500 AS BIGINT) AS threshold,
                     CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_linked_records,
                     CAST(COUNT(*) AS BIGINT) AS n_entities,
                     CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS max_cluster_size,
                     CASE WHEN COUNT(*) = 0 THEN CAST(NULL AS DOUBLE)
                          ELSE CAST(COALESCE(SUM(sz), 0) AS DOUBLE)
                               / CAST(COUNT(*) AS DOUBLE) END AS mean_cluster_size
              FROM (
                WITH RECURSIVE e AS (
                  SELECT 'a:' || CAST(id_a AS VARCHAR) AS src,
                         'b:' || CAST(id_b AS VARCHAR) AS dst
                  FROM fs WHERE score >= 1500
                ),
                nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
                sym AS (SELECT src, dst FROM e
                        UNION SELECT dst AS src, src AS dst FROM e),
                reach(a, b) AS (
                  SELECT n, n FROM nodes
                  UNION
                  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
                ),
                comp AS (SELECT a AS node, min(b) AS component
                         FROM reach GROUP BY a)
                SELECT component, CAST(count(*) AS BIGINT) AS sz
                FROM comp GROUP BY component
              )
              UNION ALL
              SELECT CAST(3000 AS BIGINT) AS threshold,
                     CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_linked_records,
                     CAST(COUNT(*) AS BIGINT) AS n_entities,
                     CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS max_cluster_size,
                     CASE WHEN COUNT(*) = 0 THEN CAST(NULL AS DOUBLE)
                          ELSE CAST(COALESCE(SUM(sz), 0) AS DOUBLE)
                               / CAST(COUNT(*) AS DOUBLE) END AS mean_cluster_size
              FROM (
                WITH RECURSIVE e AS (
                  SELECT 'a:' || CAST(id_a AS VARCHAR) AS src,
                         'b:' || CAST(id_b AS VARCHAR) AS dst
                  FROM fs WHERE score >= 3000
                ),
                nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
                sym AS (SELECT src, dst FROM e
                        UNION SELECT dst AS src, src AS dst FROM e),
                reach(a, b) AS (
                  SELECT n, n FROM nodes
                  UNION
                  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
                ),
                comp AS (SELECT a AS node, min(b) AS component
                         FROM reach GROUP BY a)
                SELECT component, CAST(count(*) AS BIGINT) AS sz
                FROM comp GROUP BY component
              )
              UNION ALL
              SELECT CAST(4500 AS BIGINT) AS threshold,
                     CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_linked_records,
                     CAST(COUNT(*) AS BIGINT) AS n_entities,
                     CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS max_cluster_size,
                     CASE WHEN COUNT(*) = 0 THEN CAST(NULL AS DOUBLE)
                          ELSE CAST(COALESCE(SUM(sz), 0) AS DOUBLE)
                               / CAST(COUNT(*) AS DOUBLE) END AS mean_cluster_size
              FROM (
                WITH RECURSIVE e AS (
                  SELECT 'a:' || CAST(id_a AS VARCHAR) AS src,
                         'b:' || CAST(id_b AS VARCHAR) AS dst
                  FROM fs WHERE score >= 4500
                ),
                nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
                sym AS (SELECT src, dst FROM e
                        UNION SELECT dst AS src, src AS dst FROM e),
                reach(a, b) AS (
                  SELECT n, n FROM nodes
                  UNION
                  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
                ),
                comp AS (SELECT a AS node, min(b) AS component
                         FROM reach GROUP BY a)
                SELECT component, CAST(count(*) AS BIGINT) AS sz
                FROM comp GROUP BY component
              )
        """,
        # Threshold-sweep replay: same FS-scored world UNfiltered, gold
        # = same custkey; one groupBy(score) histogram then cumulative
        # sums from the top of the score axis — all BIGINT, each metric
        # ONE IEEE division of exact integers (f1 = 2tp/(2tp+fp+fn)).
        "pr_sweep": r"""
            WITH orig AS (
              SELECT c_custkey AS id_a, c_nationkey AS nk,
                     c_name AS name_a, c_mktsegment AS seg_a,
                     substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS code_a
              FROM customer
            ),
            corrupt AS (
              SELECT c_custkey AS id_b, c_nationkey AS nk,
                     CASE c_custkey % 4
                       WHEN 1 THEN replace(c_name, 'Customer', 'Custmr')
                       WHEN 2 THEN substr(c_name, 2, 1000)
                       WHEN 3 THEN c_name || 'x'
                       ELSE c_name END AS name_b,
                     CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
                          ELSE c_mktsegment END AS seg_b,
                     CASE WHEN c_custkey % 6 = 0
                          THEN 'z' || substr(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6), 2, 5)
                          ELSE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) END AS code_b
              FROM customer
            ),
            p AS (SELECT * FROM orig JOIN corrupt USING (nk)),
            t AS (
              SELECT id_a, id_b,
                     CAST(CASE WHEN levenshtein(name_a, name_b) = 0 THEN 1500
                               WHEN levenshtein(name_a, name_b) <= 3 THEN 600
                               ELSE -1200 END
                        + CASE WHEN levenshtein(seg_a, seg_b) = 0 THEN 800
                               ELSE -800 END
                        + CASE WHEN levenshtein(code_a, code_b) = 0 THEN 2500
                               WHEN levenshtein(code_a, code_b) <= 2 THEN 1000
                               ELSE -2000 END
                        AS BIGINT) AS score
              FROM p
            ),
            h AS (
              SELECT score AS threshold,
                     CAST(SUM(CASE WHEN id_a = id_b THEN 1 ELSE 0 END) AS BIGINT) AS pos,
                     CAST(SUM(CASE WHEN id_a = id_b THEN 0 ELSE 1 END) AS BIGINT) AS neg
              FROM t GROUP BY score
            ),
            c AS (
              SELECT threshold,
                     CAST(SUM(pos) OVER (ORDER BY threshold DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
                     CAST(SUM(neg) OVER (ORDER BY threshold DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
                     CAST(SUM(pos) OVER ()
                          - SUM(pos) OVER (ORDER BY threshold DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fn
              FROM h
            )
            SELECT threshold, tp, fp, fn,
                   CASE WHEN tp + fp = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision_at,
                   CASE WHEN tp + fn = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall_at,
                   CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1_at
            FROM c
        """,
        # EM contraction replay: same corrupted-customer pair world and
        # agreement levels, grouped to pattern counts.
        "fs_pattern_counts": r"""
            WITH orig AS (
              SELECT c_custkey AS id_a, c_nationkey AS nk,
                     c_name AS name_a, c_mktsegment AS seg_a,
                     substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS code_a
              FROM customer
            ),
            corrupt AS (
              SELECT c_custkey AS id_b, c_nationkey AS nk,
                     CASE c_custkey % 4
                       WHEN 1 THEN replace(c_name, 'Customer', 'Custmr')
                       WHEN 2 THEN substr(c_name, 2, 1000)
                       WHEN 3 THEN c_name || 'x'
                       ELSE c_name END AS name_b,
                     CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
                          ELSE c_mktsegment END AS seg_b,
                     CASE WHEN c_custkey % 6 = 0
                          THEN 'z' || substr(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6), 2, 5)
                          ELSE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) END AS code_b
              FROM customer
            ),
            p AS (SELECT * FROM orig JOIN corrupt USING (nk)),
            lv AS (
              SELECT CASE WHEN levenshtein(name_a, name_b) = 0 THEN 2
                          WHEN levenshtein(name_a, name_b) <= 3 THEN 1
                          ELSE 0 END AS lvl_name,
                     CASE WHEN levenshtein(seg_a, seg_b) = 0 THEN 2
                          ELSE 0 END AS lvl_segment,
                     CASE WHEN levenshtein(code_a, code_b) = 0 THEN 2
                          WHEN levenshtein(code_a, code_b) <= 2 THEN 1
                          ELSE 0 END AS lvl_code
              FROM p
            )
            SELECT lvl_name, lvl_segment, lvl_code,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM lv
            GROUP BY lvl_name, lvl_segment, lvl_code
        """,
        # TF-IDF cosine replay: same integer scaled-DIV weights, HUGEINT
        # dot/norm sums (Spark sums DECIMAL(38,0) — both exact), same
        # fixed IEEE cos^2 tree and exact-dyadic 0.5625 threshold.
        "tfidf_cosine": r"""
            WITH toks AS (
              SELECT doc_id AS did,
                     unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))), '[ \t\n\r\f\x0B]+')) AS token
              FROM documents
            ),
            tf AS (
              SELECT did, token, CAST(count(*) AS BIGINT) AS tf
              FROM toks WHERE token <> '' GROUP BY did, token
            ),
            dfr AS (
              SELECT token, CAST(count(*) AS BIGINT) AS dfr
              FROM tf GROUP BY token
            ),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
            w AS (
              SELECT tf.did, tf.token,
                     tf.tf * ((nd.n_docs * 1000) // dfr.dfr) AS w
              FROM tf JOIN dfr ON dfr.token = tf.token CROSS JOIN nd
            ),
            norms AS (
              SELECT did, sum(CAST(w * w AS HUGEINT)) AS norm2
              FROM w GROUP BY did
            ),
            p AS (
              SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
              UNION ALL
              SELECT doc_id, doc_id + 2 FROM documents
            ),
            pp AS (
              SELECT p.id_a, p.id_b
              FROM p JOIN documents d ON d.doc_id = p.id_b
            ),
            dots AS (
              SELECT pp.id_a, pp.id_b,
                     sum(CAST(wa.w * wb.w AS HUGEINT)) AS dot,
                     CAST(count(*) AS BIGINT) AS n_common
              FROM pp
              JOIN w wa ON wa.did = pp.id_a
              JOIN w wb ON wb.did = pp.id_b AND wb.token = wa.token
              GROUP BY pp.id_a, pp.id_b
            ),
            fin AS (
              SELECT pp.id_a, pp.id_b,
                     CAST(COALESCE(dots.n_common, 0) AS BIGINT) AS n_common,
                     CASE WHEN na.norm2 IS NULL OR nb.norm2 IS NULL
                            OR na.norm2 = 0 OR nb.norm2 = 0
                          THEN CAST(NULL AS DOUBLE)
                          ELSE (CAST(COALESCE(dots.dot, 0) AS DOUBLE)
                                * CAST(COALESCE(dots.dot, 0) AS DOUBLE))
                               / (CAST(na.norm2 AS DOUBLE)
                                  * CAST(nb.norm2 AS DOUBLE))
                     END AS cos2
              FROM pp
              LEFT JOIN dots ON dots.id_a = pp.id_a AND dots.id_b = pp.id_b
              LEFT JOIN norms na ON na.did = pp.id_a
              LEFT JOIN norms nb ON nb.did = pp.id_b
            )
            SELECT id_a, id_b, n_common, cos2,
                   CASE WHEN cos2 IS NULL THEN false
                        ELSE cos2 >= 0.5625 END AS is_match
            FROM fin
        """,
        # Cohesion replay: same (nation, segment) clusters + close-key
        # same-nation match edges; doubled-integer counts, one IEEE
        # division, NULL for singletons.
        "cluster_cohesion": r"""
            WITH mem AS (
              SELECT c_custkey AS id,
                     CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment AS cl
              FROM customer
            ),
            e AS (
              SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
              FROM customer a
              JOIN customer b ON a.c_nationkey = b.c_nationkey
              WHERE a.c_custkey < b.c_custkey
                AND b.c_custkey - a.c_custkey <= 3
                AND (a.c_custkey + b.c_custkey) % 4 <> 0
            ),
            intra AS (
              SELECT ma.cl AS cl, CAST(count(*) AS BIGINT) AS m
              FROM (SELECT DISTINCT id_a, id_b FROM e) e2
              JOIN mem ma ON ma.id = e2.id_a
              JOIN mem mb ON mb.id = e2.id_b
              WHERE ma.cl = mb.cl
              GROUP BY ma.cl
            ),
            sz AS (
              SELECT cl, CAST(count(*) AS BIGINT) AS n FROM mem GROUP BY cl
            )
            SELECT sz.cl AS entity_id,
                   sz.n AS n_members,
                   (sz.n * (sz.n - 1)) // 2 AS n_pairs_possible,
                   CAST(COALESCE(intra.m, 0) AS BIGINT) AS n_match_edges,
                   CASE WHEN sz.n * (sz.n - 1) = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(2 * COALESCE(intra.m, 0) AS DOUBLE)
                             / CAST(sz.n * (sz.n - 1) AS DOUBLE)
                   END AS cohesion
            FROM sz LEFT JOIN intra ON intra.cl = sz.cl
        """,
        # Linear-classifier replay: integer milli-weights ((60-bit md5
        # prefix mod 2001) - 1000), exact BIGINT logit sum (association-
        # free), one IEEE division with an exact double denominator.
        "quality_classifier": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(COALESCE(text, ''))), '[ \t\n\r\f\x0B]+') AS t
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(list_sum(list_transform(t,
                       tok -> (CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 2001) - 1000
                     )) AS BIGINT) AS logit_milli
              FROM toks
            )
            SELECT doc_id, n_tokens, logit_milli,
                   CAST(logit_milli AS DOUBLE) / (1000.0 * CAST(n_tokens AS DOUBLE)) AS score,
                   logit_milli > 0 AS keep
            FROM s
        """,
        # Keep-best dedup replay: the minhash_dedup_clusters CTE (exact
        # all-pairs Jaccard + recursive-CTE transitive closure) plus a
        # row_number pick per cluster (score DESC, id ASC — DuckDB's
        # default NULLS LAST matches the operator's pinned null-ranks-last
        # rule; score is one exact integer->double cast on both sides).
        "dedup_keep_best": r"""
            WITH RECURSIVE g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(
                                 range(0, len(toks) - 2),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
                          ELSE [array_to_string(toks, ' ')] END AS grams
              FROM (SELECT doc_id,
                           regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
                    FROM documents)
            ),
            e AS (
              SELECT a.doc_id AS src, b.doc_id AS dst
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS DOUBLE)
                    / greatest(CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 1.0)
                    >= 0.7
            ),
            sym AS (SELECT src, dst FROM e
                    UNION SELECT dst AS src, src AS dst FROM e),
            nodes AS (SELECT doc_id AS n FROM documents),
            reach(a, b) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
            ),
            clus AS (
              SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
              FROM reach GROUP BY a
            ),
            scored AS (
              SELECT c.doc_id, c.cluster_id, CAST(d.n_chars AS DOUBLE) AS score
              FROM clus c JOIN documents d USING (doc_id)
            ),
            reps AS (
              SELECT cluster_id, doc_id AS rep_id FROM (
                SELECT cluster_id, doc_id,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY score DESC, doc_id ASC) AS rn
                FROM scored)
              WHERE rn = 1
            )
            SELECT s.doc_id, s.cluster_id, s.score,
                   CAST(r.rep_id AS BIGINT) AS rep_id,
                   s.doc_id = r.rep_id AS is_representative
            FROM scored s JOIN reps r USING (cluster_id)
        """,
        # Blocklist replay: a rule matches iff it equals the host or is a
        # dot-suffix of it; the winner is the longest matching rule
        # (suffixes of one host have pairwise-distinct lengths, and equal-
        # length matching rules are the same string — arg_max is tie-free).
        "blocklist_filter": r"""
            WITH h AS (
              SELECT doc_id,
                     'm' || CAST(doc_id % 4 AS VARCHAR) || '.' || source || '.' ||
                     CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'net'
                          ELSE 'org' END AS host
              FROM documents
            ),
            bl(rule) AS (
              VALUES ('src3.com'), ('m1.src5.net'), ('src5.net'), ('org'),
                     ('src19.net')
            ),
            m AS (
              SELECT h.doc_id, arg_max(bl.rule, length(bl.rule)) AS matched_rule
              FROM h JOIN bl
                ON h.host = bl.rule OR h.host LIKE '%.' || bl.rule
              GROUP BY h.doc_id
            )
            SELECT h.doc_id, h.host,
                   m.matched_rule IS NOT NULL AS blocked,
                   m.matched_rule
            FROM h LEFT JOIN m USING (doc_id)
        """,
        # Snapshot-vs-corpus dedup replay: exact = raw-text equality (the
        # sha256 index key is injective up to collisions, so text equality
        # IS the semantics); near = the same distinct-3-gram Jaccard
        # construction as minhash_dedup_clusters, all pairs (the banded
        # MinHash index on the Spark side is candidate GENERATION only —
        # verification decides, so all-pairs replays it exactly as long as
        # banding recall holds at this scale, the same contract the
        # minhash_dedup_clusters oracle already pins).
        "incremental_dedup": r"""
            WITH newd AS (
              SELECT doc_id, COALESCE(text, '') AS text FROM documents
              WHERE doc_id % 5 = 0
            ),
            corp AS (
              SELECT doc_id, COALESCE(text, '') AS text FROM documents
              WHERE doc_id % 5 <> 0
            ),
            ex AS (
              SELECT text, CAST(min(doc_id) AS BIGINT) AS exact_id
              FROM corp GROUP BY text
            ),
            g AS (
              SELECT doc_id, grp, grams FROM (
                SELECT doc_id, grp,
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct(list_transform(
                                   range(0, len(toks) - 2),
                                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')))
                            ELSE [array_to_string(toks, ' ')] END AS grams
                FROM (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'n' ELSE 'c' END AS grp,
                             regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                                   '[ \t\n\r\f\x0B]+') AS toks
                      FROM documents))
            ),
            near AS (
              SELECT n.doc_id,
                     CAST(min(c.doc_id) AS BIGINT) AS near_id,
                     max(CAST(len(list_filter(n.grams, x -> list_contains(c.grams, x))) AS DOUBLE)
                         / greatest(CAST(len(list_distinct(list_concat(n.grams, c.grams))) AS DOUBLE), 1.0)
                     ) AS near_j
              FROM g n JOIN g c ON n.grp = 'n' AND c.grp = 'c'
              WHERE CAST(len(list_filter(n.grams, x -> list_contains(c.grams, x))) AS DOUBLE)
                    / greatest(CAST(len(list_distinct(list_concat(n.grams, c.grams))) AS DOUBLE), 1.0)
                    >= 0.7
              GROUP BY n.doc_id
            )
            SELECT d.doc_id,
                   CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
                        WHEN r.near_id IS NOT NULL THEN 'near_dup'
                        ELSE 'novel' END AS status,
                   CAST(COALESCE(e.exact_id, r.near_id) AS BIGINT) AS matched_id,
                   CASE WHEN e.exact_id IS NOT NULL THEN 1.0
                        ELSE r.near_j END AS max_jaccard
            FROM newd d
            LEFT JOIN ex e ON d.text = e.text
            LEFT JOIN near r ON r.doc_id = d.doc_id
        """,
        # Mixture blending replay: integer certain-copies + integer
        # fractional-acceptance thresholds (0.5 -> 2147483648, 0.25 ->
        # 1073741824 over 2^32) against the same md5-prefix hash — the
        # whole acceptance test is integer-exact on both engines.
        "mixture_sample": """
            WITH p AS (
              SELECT doc_id, lang,
                     CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 2
                               WHEN 'zh' THEN 1 ELSE 0 END AS n_certain,
                     CASE lang WHEN 'en' THEN 2147483648
                               WHEN 'de' THEN 1073741824
                               ELSE 0 END AS thr,
                     CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u32
              FROM documents
            ),
            c AS (
              SELECT doc_id, lang,
                     n_certain + CASE WHEN u32 < thr THEN 1 ELSE 0 END AS n
              FROM p
            )
            SELECT doc_id, lang,
                   CAST(unnest(range(1, n + 1)) AS INT) AS copy_id
            FROM c WHERE n > 0
        """,
        "doc_packing": r"""
            WITH k AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('42:pack:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
                     CAST(CASE WHEN trim(COALESCE(text, '')) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(COALESCE(text, '')), '[ \t\n\r\f\x0B]+'))
                     END AS INT) AS n_tokens
              FROM documents
            ),
            o AS (
              SELECT doc_id, CAST(h % 8 AS INT) AS shard, n_tokens,
                     SUM(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
                                         ROWS UNBOUNDED PRECEDING) AS end_off
              FROM k
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(end_off - n_tokens AS BIGINT) AS start_offset,
                   CAST(floor((end_off - n_tokens) / 256) AS BIGINT)
                     AS chunk_first,
                   CAST(floor(greatest(end_off - 1, end_off - n_tokens) / 256)
                     AS BIGINT) AS chunk_last
            FROM o
        """,
        # T12 decision layer: choices at [offset, offset+n), NOTA at the
        # fixed last slot (128, 1-based), strict > so a choice wins exact
        # ties, confidence renormalized over slice + NOTA. All inputs are
        # k/256 dyadic rationals -> float32 == float64 bit-exactness.
        "decode_probabilities": """
            WITH f AS (
              SELECT event_id,
                     CAST(event_id % 6 AS INT) AS n_defs,
                     CAST((event_id * 13) % 100 AS INT) AS start_offset,
                     list_transform(range(0, 128),
                       i -> CAST((event_id * 1009 + i * 31) % 64 AS DOUBLE)
                            / 256.0) AS p
              FROM events
            ),
            m AS (
              SELECT event_id, n_defs, start_offset,
                     list_slice(p, start_offset + 1, start_offset + n_defs)
                       AS cs,
                     p[128] AS nota
              FROM f
            ),
            a AS (
              SELECT *,
                     list_aggregate(cs, 'max') AS best,
                     COALESCE(list_aggregate(cs, 'sum'), 0.0) + nota AS total
              FROM m
            )
            SELECT event_id, n_defs, start_offset,
                   CASE WHEN NOT (n_defs = 0 OR nota > best)
                        THEN CAST(list_position(cs, best) - 1 AS INT)
                   END AS choice_index,
                   (n_defs = 0 OR nota > best) AS is_nota_pred,
                   CASE WHEN total > 0
                        THEN (CASE WHEN (n_defs = 0 OR nota > best)
                                   THEN nota ELSE best END) / total
                        ELSE 0.0 END AS confidence
            FROM a
        """,
        # End-to-end ER composition replay: same derived inventory + Lesk
        # profiles (gloss tokens minus function words minus the lemma —
        # only 'as'/'about'/'any' can appear from these glosses; no
        # 6-char hex string or digit collides with another function
        # word), same planted mentions/contexts, integer-exact decisions
        # (score < tau iff overlap == 0), argmax by (overlap DESC, k ASC)
        # = the engine's max_by struct order (score is monotone in
        # overlap), same <=40 all-pairs / >40 canopy+fallback star
        # blocking, sense-equality match edges, and min-label components
        # via recursive transitive closure over pair-member nodes only.
        "er_clusters_derived": _ER_DERIVED_CC_SQL,
        # pairwise clustering metrics: contingency-cell combinatorics over
        # the SAME derived-world closure (embedded as pred_cc) vs the
        # generative gold identity base_token:(doc+pos)%3. Counts BIGINT;
        # P/R/F1 single IEEE divisions of exact integers (tp2/sp2, tp2/sg2,
        # 2*tp2/(sp2+sg2)) — bit-identical to the Spark expressions.
        "er_eval_pairwise": f"""
            WITH pred_cc AS ({_ER_DERIVED_CC_SQL}),
            docsplit2 AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
              FROM documents
            ),
            mg AS (
              SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                       AS mention_id,
                     tok || ':' || CAST((doc_id + i) % 3 AS VARCHAR) AS gold
              FROM (
                SELECT doc_id, i, toks[i + 1] AS tok
                FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i
                      FROM docsplit2)
                WHERE regexp_matches(toks[i + 1], '^[a-z]+$')
                  AND length(toks[i + 1]) > 3
                  AND (doc_id + i) % 23 = 0)
            ),
            lab AS (
              SELECT COALESCE(p.entity_id, mg.mention_id) AS pred, mg.gold
              FROM mg LEFT JOIN pred_cc p ON p.mention_id = mg.mention_id
            ),
            cells AS (
              SELECT pred, gold, CAST(count(*) AS BIGINT) AS c
              FROM lab GROUP BY pred, gold
            ),
            tot AS (
              SELECT CAST(sum(c) AS BIGINT) AS n_records,
                     CAST(sum(c * (c - 1)) AS BIGINT) AS tp2
              FROM cells
            ),
            sp AS (
              SELECT CAST(sum(np * (np - 1)) AS BIGINT) AS sp2
              FROM (SELECT CAST(sum(c) AS BIGINT) AS np
                    FROM cells GROUP BY pred)
            ),
            sg AS (
              SELECT CAST(sum(ng * (ng - 1)) AS BIGINT) AS sg2
              FROM (SELECT CAST(sum(c) AS BIGINT) AS ng
                    FROM cells GROUP BY gold)
            )
            SELECT n_records,
                   tp2 // 2 AS tp_pairs,
                   (sp2 - tp2) // 2 AS fp_pairs,
                   (sg2 - tp2) // 2 AS fn_pairs,
                   CASE WHEN sp2 = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(tp2 AS DOUBLE) / CAST(sp2 AS DOUBLE)
                   END AS precision_pw,
                   CASE WHEN sg2 = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(tp2 AS DOUBLE) / CAST(sg2 AS DOUBLE)
                   END AS recall_pw,
                   CASE WHEN sp2 + sg2 = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(2 * tp2 AS DOUBLE) / CAST(sp2 + sg2 AS DOUBLE)
                   END AS f1_pw,
                   CASE WHEN CAST(n_records AS DOUBLE) * (CAST(n_records AS DOUBLE) - 1.0)
                               * (CAST(sp2 AS DOUBLE) + CAST(sg2 AS DOUBLE))
                             - 2.0 * CAST(sp2 AS DOUBLE) * CAST(sg2 AS DOUBLE) = 0.0
                        THEN CAST(NULL AS DOUBLE)
                        ELSE (2.0 * (CAST(n_records AS DOUBLE) * (CAST(n_records AS DOUBLE) - 1.0)
                                       * CAST(tp2 AS DOUBLE)
                                     - CAST(sp2 AS DOUBLE) * CAST(sg2 AS DOUBLE)))
                             / (CAST(n_records AS DOUBLE) * (CAST(n_records AS DOUBLE) - 1.0)
                                  * (CAST(sp2 AS DOUBLE) + CAST(sg2 AS DOUBLE))
                                - 2.0 * CAST(sp2 AS DOUBLE) * CAST(sg2 AS DOUBLE))
                   END AS adjusted_rand
            FROM tot, sp, sg
        """,
        # Size-stats replay: same labeled pred construction, one size
        # aggregate, exact counts, single IEEE divisions.
        "er_size_stats": f"""
            WITH pred_cc AS ({_ER_DERIVED_CC_SQL}),
            docsplit2 AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
              FROM documents
            ),
            mg AS (
              SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                       AS mention_id
              FROM (
                SELECT doc_id, i, toks[i + 1] AS tok
                FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i
                      FROM docsplit2)
                WHERE regexp_matches(toks[i + 1], '^[a-z]+$')
                  AND length(toks[i + 1]) > 3
                  AND (doc_id + i) % 23 = 0)
            ),
            lab AS (
              SELECT COALESCE(p.entity_id, mg.mention_id) AS pred
              FROM mg LEFT JOIN pred_cc p ON p.mention_id = mg.mention_id
            ),
            sizes AS (
              SELECT pred, CAST(count(*) AS BIGINT) AS n
              FROM lab GROUP BY pred
            ),
            agg AS (
              SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_records,
                     CAST(count(*) AS BIGINT) AS n_entities,
                     CAST(COALESCE(max(n), 0) AS BIGINT) AS max_cluster_size,
                     CAST(COALESCE(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS n_singletons
              FROM sizes
            )
            SELECT n_records, n_entities, max_cluster_size, n_singletons,
                   CASE WHEN n_entities = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(n_singletons AS DOUBLE)
                             / CAST(n_entities AS DOUBLE) END AS singleton_share,
                   CASE WHEN n_entities = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(n_records AS DOUBLE)
                             / CAST(n_entities AS DOUBLE) END AS mean_cluster_size,
                   CASE WHEN n_records = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(1.0 AS DOUBLE) - CAST(n_entities AS DOUBLE)
                             / CAST(n_records AS DOUBLE) END AS dedup_ratio
            FROM agg
        """,
        # B-cubed replay: same labeled construction, per-cell INTEGER
        # scaled-DIV contributions (c*((c*10^9)//n)) summed as HUGEINT
        # (Spark sums DECIMAL(38,0) — both exact, both < 2^53 at oracle
        # scale so the final DOUBLE casts are exact), then the operator's
        # fixed IEEE expressions spelled with identical parenthesization.
        "er_eval_bcubed": f"""
            WITH pred_cc AS ({_ER_DERIVED_CC_SQL}),
            docsplit2 AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
              FROM documents
            ),
            mg AS (
              SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                       AS mention_id,
                     tok || ':' || CAST((doc_id + i) % 3 AS VARCHAR) AS gold
              FROM (
                SELECT doc_id, i, toks[i + 1] AS tok
                FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i
                      FROM docsplit2)
                WHERE regexp_matches(toks[i + 1], '^[a-z]+$')
                  AND length(toks[i + 1]) > 3
                  AND (doc_id + i) % 23 = 0)
            ),
            lab AS (
              SELECT COALESCE(p.entity_id, mg.mention_id) AS pred, mg.gold
              FROM mg LEFT JOIN pred_cc p ON p.mention_id = mg.mention_id
            ),
            cells AS (
              SELECT pred, gold, CAST(count(*) AS BIGINT) AS c
              FROM lab GROUP BY pred, gold
            ),
            np AS (
              SELECT pred, CAST(sum(c) AS BIGINT) AS np FROM cells GROUP BY pred
            ),
            ng AS (
              SELECT gold, CAST(sum(c) AS BIGINT) AS ng FROM cells GROUP BY gold
            ),
            j AS (
              SELECT c, np.np AS np, ng.ng AS ng
              FROM cells JOIN np USING (pred) JOIN ng USING (gold)
            ),
            agg AS (
              SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS n_records,
                     sum(CAST((c * CAST(1000000000 AS BIGINT) // np) * c AS HUGEINT)) AS p_num,
                     sum(CAST((c * CAST(1000000000 AS BIGINT) // ng) * c AS HUGEINT)) AS r_num
              FROM j
            )
            SELECT n_records,
                   CASE WHEN n_records = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(p_num AS DOUBLE)
                             / (CAST(n_records AS DOUBLE) * 1000000000.0)
                   END AS b3_precision,
                   CASE WHEN n_records = 0 THEN CAST(NULL AS DOUBLE)
                        ELSE CAST(r_num AS DOUBLE)
                             / (CAST(n_records AS DOUBLE) * 1000000000.0)
                   END AS b3_recall,
                   CASE WHEN n_records = 0
                          OR (CAST(p_num AS DOUBLE)
                              / (CAST(n_records AS DOUBLE) * 1000000000.0))
                             + (CAST(r_num AS DOUBLE)
                                / (CAST(n_records AS DOUBLE) * 1000000000.0)) = 0.0
                        THEN CAST(NULL AS DOUBLE)
                        ELSE (2.0 * (CAST(p_num AS DOUBLE)
                                     / (CAST(n_records AS DOUBLE) * 1000000000.0))
                                  * (CAST(r_num AS DOUBLE)
                                     / (CAST(n_records AS DOUBLE) * 1000000000.0)))
                             / ((CAST(p_num AS DOUBLE)
                                 / (CAST(n_records AS DOUBLE) * 1000000000.0))
                                + (CAST(r_num AS DOUBLE)
                                   / (CAST(n_records AS DOUBLE) * 1000000000.0)))
                   END AS b3_f1
            FROM agg
        """,
        # Incremental ER: the same derived world split by doc parity. Base
        # (even doc_ids) is clustered with the er_clusters_derived closure
        # seeded over ALL base mentions (the snapshot contract: every base
        # mention holds a canonical id); the batch (odd doc_ids) attaches
        # to max(entity_id) over same-(key, sense) representatives (reps =
        # min mention per (key, entity), keys capped at 64 entities), and
        # the residual replays blocking + sense-only edges + a SECOND
        # recursive closure. Sense-only weights keep the attach score an
        # exact 1.0, so best_score hashes bit-for-bit.
        "incremental_er_attach": r"""
            WITH RECURSIVE
            lemmas AS (
              SELECT lemma FROM (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+')) AS lemma
                FROM documents)
              WHERE regexp_matches(lemma, '^[a-z]+$') AND length(lemma) > 3
              GROUP BY lemma HAVING count(*) >= 5
            ),
            sdef AS (
              SELECT lemma, k,
                     lemma || '-s' || CAST(k AS VARCHAR) AS sense_id
              FROM (
                SELECT lemma,
                       unnest(range(CAST(CAST(('0x' || substr(md5('ns:' || lemma), 1, 8)) AS BIGINT) % 3 + 1 AS INTEGER))) AS k
                FROM lemmas)
            ),
            sprof AS (
              SELECT lemma, k, sense_id,
                     list_filter(
                       list_distinct([lemma, 'as', 'sense', CAST(k AS VARCHAR),
                                      'about',
                                      substr(md5('t:' || lemma || CAST(k AS VARCHAR)), 1, 6),
                                      'any', 'involving',
                                      substr(md5('a:' || lemma || CAST(k AS VARCHAR)), 1, 6)]),
                       w -> w <> 'as' AND w <> 'about' AND w <> 'any'
                            AND w <> lemma) AS profile
              FROM sdef
            ),
            docsplit AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\x0B]+') AS toks
              FROM documents
            ),
            m AS (
              SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                       AS mention_id,
                     doc_id % 2 AS par,
                     CASE WHEN (doc_id + i) % 13 = 0 THEN tok || 'q'
                          ELSE tok END AS lemma,
                     CASE WHEN (doc_id + i) % 7 = 0 THEN ['zzzz']
                          ELSE ['sense', CAST((doc_id + i) % 3 AS VARCHAR),
                                substr(md5('t:' || tok
                                           || CAST((doc_id + i) % 3 AS VARCHAR)),
                                       1, 6)]
                     END AS ctx
              FROM (
                SELECT doc_id, i, toks[i + 1] AS tok
                FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i
                      FROM docsplit)
                WHERE regexp_matches(toks[i + 1], '^[a-z]+$')
                  AND length(toks[i + 1]) > 3
                  AND (doc_id + i) % 23 = 0)
            ),
            ranked AS (
              SELECT m.mention_id, m.lemma, s.sense_id, s.k,
                     CASE WHEN s.lemma IS NULL THEN NULL
                          ELSE len(list_intersect(m.ctx, s.profile)) END
                       AS overlap,
                     row_number() OVER (
                       PARTITION BY m.mention_id
                       ORDER BY (CASE WHEN s.lemma IS NULL THEN NULL
                                      ELSE len(list_intersect(m.ctx, s.profile))
                                 END) DESC NULLS LAST,
                                s.k ASC NULLS LAST) AS rn
              FROM m LEFT JOIN sprof s
                ON m.lemma = s.lemma AND s.sense_id IS NOT NULL
            ),
            dec AS (
              SELECT mention_id, lemma,
                     CASE WHEN overlap IS NULL THEN 'no_definitions'
                          WHEN overlap = 0 THEN 'nota'
                          ELSE 'assigned' END AS decision,
                     CASE WHEN overlap > 0 THEN sense_id END AS pred_sense_id
              FROM ranked WHERE rn = 1
            ),
            basem AS (SELECT mention_id, lemma FROM m WHERE par = 0),
            batchm AS (SELECT mention_id, lemma FROM m WHERE par = 1),
            bsize AS (SELECT lemma, count(*) AS bs FROM basem GROUP BY lemma),
            smallp AS (
              SELECT a.mention_id AS id_a, b.mention_id AS id_b
              FROM basem a
              JOIN basem b ON a.lemma = b.lemma AND a.mention_id < b.mention_id
              JOIN bsize s ON s.lemma = a.lemma
              WHERE s.bs <= 40
            ),
            mem AS (
              SELECT m.mention_id, m.lemma, d.decision, d.pred_sense_id
              FROM basem m
              JOIN bsize s ON s.lemma = m.lemma AND s.bs > 40
              JOIN dec d ON d.mention_id = m.mention_id
            ),
            canopye AS (
              SELECT hub AS id_a, mention_id AS id_b FROM (
                SELECT mention_id,
                       min(mention_id) OVER (PARTITION BY lemma, pred_sense_id)
                         AS hub
                FROM mem WHERE decision = 'assigned')
              WHERE mention_id <> hub
            ),
            fallbe AS (
              SELECT hub AS id_a, mention_id AS id_b FROM (
                SELECT mention_id,
                       min(mention_id) OVER (PARTITION BY lemma) AS hub
                FROM mem WHERE decision <> 'assigned')
              WHERE mention_id <> hub
            ),
            allp AS (
              SELECT DISTINCT id_a, id_b FROM (
                SELECT id_a, id_b FROM smallp
                UNION ALL SELECT id_a, id_b FROM canopye
                UNION ALL SELECT id_a, id_b FROM fallbe)
            ),
            edges AS (
              SELECT p.id_a, p.id_b,
                     (da.decision = 'assigned' AND db.decision = 'assigned'
                      AND da.pred_sense_id = db.pred_sense_id) AS is_match
              FROM allp p
              JOIN dec da ON da.mention_id = p.id_a
              JOIN dec db ON db.mention_id = p.id_b
            ),
            sym AS (
              SELECT id_a AS src, id_b AS dst FROM edges WHERE is_match
              UNION SELECT id_b AS src, id_a AS dst FROM edges WHERE is_match
            ),
            breach(a, b) AS (
              SELECT mention_id, mention_id FROM basem
              UNION
              SELECT r.a, s.dst FROM breach r JOIN sym s ON r.b = s.src
            ),
            basecl AS (
              SELECT a AS mention_id, min(b) AS entity_id
              FROM breach GROUP BY a
            ),
            reps AS (
              SELECT m.lemma, c.entity_id, min(m.mention_id) AS rep_id
              FROM basem m JOIN basecl c ON c.mention_id = m.mention_id
              GROUP BY m.lemma, c.entity_id
            ),
            repc AS (SELECT lemma, count(*) AS n_entities FROM reps GROUP BY lemma),
            okreps AS (
              SELECT r.lemma, r.entity_id, r.rep_id
              FROM reps r JOIN repc c ON c.lemma = r.lemma
              WHERE c.n_entities <= 64
            ),
            att AS (
              SELECT bm.mention_id, max(r.entity_id) AS entity_id
              FROM batchm bm
              JOIN dec db ON db.mention_id = bm.mention_id
              JOIN okreps r ON r.lemma = bm.lemma
              JOIN dec dr ON dr.mention_id = r.rep_id
              WHERE db.decision = 'assigned' AND dr.decision = 'assigned'
                AND db.pred_sense_id = dr.pred_sense_id
              GROUP BY bm.mention_id
            ),
            rm AS (
              SELECT mention_id, lemma FROM batchm
              WHERE mention_id NOT IN (SELECT mention_id FROM att)
            ),
            rsize AS (SELECT lemma, count(*) AS bs FROM rm GROUP BY lemma),
            rsmallp AS (
              SELECT a.mention_id AS id_a, b.mention_id AS id_b
              FROM rm a
              JOIN rm b ON a.lemma = b.lemma AND a.mention_id < b.mention_id
              JOIN rsize s ON s.lemma = a.lemma
              WHERE s.bs <= 40
            ),
            rmem AS (
              SELECT m.mention_id, m.lemma, d.decision, d.pred_sense_id
              FROM rm m
              JOIN rsize s ON s.lemma = m.lemma AND s.bs > 40
              JOIN dec d ON d.mention_id = m.mention_id
            ),
            rcanopye AS (
              SELECT hub AS id_a, mention_id AS id_b FROM (
                SELECT mention_id,
                       min(mention_id) OVER (PARTITION BY lemma, pred_sense_id)
                         AS hub
                FROM rmem WHERE decision = 'assigned')
              WHERE mention_id <> hub
            ),
            rfallbe AS (
              SELECT hub AS id_a, mention_id AS id_b FROM (
                SELECT mention_id,
                       min(mention_id) OVER (PARTITION BY lemma) AS hub
                FROM rmem WHERE decision <> 'assigned')
              WHERE mention_id <> hub
            ),
            rallp AS (
              SELECT DISTINCT id_a, id_b FROM (
                SELECT id_a, id_b FROM rsmallp
                UNION ALL SELECT id_a, id_b FROM rcanopye
                UNION ALL SELECT id_a, id_b FROM rfallbe)
            ),
            redges AS (
              SELECT p.id_a, p.id_b,
                     (da.decision = 'assigned' AND db.decision = 'assigned'
                      AND da.pred_sense_id = db.pred_sense_id) AS is_match
              FROM rallp p
              JOIN dec da ON da.mention_id = p.id_a
              JOIN dec db ON db.mention_id = p.id_b
            ),
            rsym AS (
              SELECT id_a AS src, id_b AS dst FROM redges WHERE is_match
              UNION SELECT id_b AS src, id_a AS dst FROM redges WHERE is_match
            ),
            rreach(a, b) AS (
              SELECT mention_id, mention_id FROM rm
              UNION
              SELECT r.a, s.dst FROM rreach r JOIN rsym s ON r.b = s.src
            )
            SELECT mention_id, entity_id, attach_source, best_score FROM (
              SELECT mention_id, entity_id,
                     'attached' AS attach_source,
                     CAST(1.0 AS DOUBLE) AS best_score
              FROM att
              UNION ALL
              SELECT a AS mention_id, min(b) AS entity_id,
                     'minted' AS attach_source,
                     CAST(NULL AS DOUBLE) AS best_score
              FROM rreach GROUP BY a)
        """,
        # The parser reads dimensions out of REAL synthesized PNG/JPEG
        # bytes; the oracle recomputes every field from the planting
        # formulas (png: 33 + filler bytes; jpeg: 41 + filler; dims are
        # doc_id affine maps). A parser that misreads any header byte
        # hash-mismatches.
        "image_header_dims": """
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END
                     AS media_type,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 41 END
                        + doc_id % 7 AS BIGINT) AS n_bytes,
                   CAST(16 + (doc_id * 7) % 1000 AS INT) AS width,
                   CAST(16 + (doc_id * 13) % 1000 AS INT) AS height,
                   1 AS n_frames
            FROM documents
        """,
        # pages_from_documents wraps text in a fixed html template
        # (prefix 41B + escaped title + 30B + escaped body + 24B); the fake
        # decoder reads the first bytes of that template, so width/height/
        # n_frames are template constants and sample_hash is the little-
        # endian md5-u64 of the first 64 bytes (prefix + url head) with the
        # sign bit cleared. html.escape(quote=False) grows '&' by 4 and
        # '<'/'>' by 3 bytes each.
        "media_metadata": """
            WITH base AS (
              SELECT 'https://crawl.example/' || source || '/doc-'
                       || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS url,
                     text
              FROM documents
            ),
            m AS (
              SELECT url,
                     md5(substr('<html><head><meta charset="utf-8"><title>' || url,
                                1, 64)) AS hx,
                     41 + strlen(url) + 30 + strlen(text)
                       + 4 * (strlen(text) - strlen(replace(text, '&', '')))
                       + 3 * (strlen(text) - strlen(replace(text, '<', '')))
                       + 3 * (strlen(text) - strlen(replace(text, '>', '')))
                       + 24 AS n_bytes
              FROM base
            )
            SELECT url, 'image' AS media_type, CAST(n_bytes AS BIGINT) AS n_bytes,
                   2109 AS width, 3445 AS height, 45 AS n_frames,
                   CAST(
                     CAST(('0x' || substr(hx, 1, 2)) AS BIGINT)
                   + CAST(('0x' || substr(hx, 3, 2)) AS BIGINT) * 256
                   + CAST(('0x' || substr(hx, 5, 2)) AS BIGINT) * 65536
                   + CAST(('0x' || substr(hx, 7, 2)) AS BIGINT) * 16777216
                   + CAST(('0x' || substr(hx, 9, 2)) AS BIGINT) * 4294967296
                   + CAST(('0x' || substr(hx, 11, 2)) AS BIGINT) * 1099511627776
                   + CAST(('0x' || substr(hx, 13, 2)) AS BIGINT) * 281474976710656
                   + (CAST(('0x' || substr(hx, 15, 2)) AS BIGINT) & 127)
                       * 72057594037927936
                   AS BIGINT) AS sample_hash
            FROM m
        """,
        # SCD2 replay: the change predicate is IS DISTINCT FROM against
        # the lagged state (first row's NULL lag opens an interval — the
        # query filters NULL event_type, so lag-NULL is unambiguous);
        # within a run every state is identical by construction, so
        # max(event_type) is THE state.
        "scd2_history": """
            WITH base AS (
              SELECT user_id, ts, event_id, event_type
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_type IS NOT NULL
            ),
            chg AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id)
                               IS DISTINCT FROM event_type
                          THEN 1 ELSE 0 END AS c
              FROM base
            ),
            ver AS (
              SELECT *, CAST(SUM(c) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v
              FROM chg
            ),
            runs AS (
              SELECT user_id, v, max(event_type) AS event_type,
                     min(ts) AS valid_from,
                     CAST(count(*) AS BIGINT) AS n_versions
              FROM ver GROUP BY 1, 2
            )
            SELECT user_id, event_type, valid_from,
                   lead(valid_from) OVER w AS valid_to,
                   lead(valid_from) OVER w IS NULL AS is_current,
                   n_versions
            FROM runs
            WINDOW w AS (PARTITION BY user_id ORDER BY v)
        """,
        # Constrained CC replay: identical deterministic fixture graph,
        # anti-join constraint removal, recursive-CTE reachability over
        # the kept symmetric edges, min-id components over the ORIGINAL
        # node set (constrained-away endpoints re-enter as singletons),
        # violation = a cannot-link pair still co-clustered.
        "constrained_clusters": """
            WITH RECURSIVE u AS (
              SELECT DISTINCT CAST(user_id AS BIGINT) AS u FROM events
              WHERE user_id IS NOT NULL
            ),
            raw_e AS (
              SELECT u AS s, u + 1 AS d FROM u WHERE u % 3 = 0
              UNION ALL SELECT u, u + 2 FROM u WHERE u % 6 = 0
              UNION ALL SELECT u + 1, u + 2 FROM u WHERE u % 6 = 0
              UNION ALL SELECT u, u + 5 FROM u WHERE u % 10 = 0
            ),
            e AS (
              SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
              FROM raw_e WHERE s <> d
            ),
            cl AS (
              SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM (
                SELECT u AS s, u + 1 AS d FROM u WHERE u % 6 = 0
                UNION ALL SELECT u, u + 5 FROM u WHERE u % 10 = 0
              ) WHERE s <> d
            ),
            kept AS (
              SELECT e.a, e.b FROM e
              ANTI JOIN cl ON e.a = cl.a AND e.b = cl.b
            ),
            nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e),
            sym AS (
              SELECT a AS src, b AS dst FROM kept WHERE a <> b
              UNION SELECT b, a FROM kept WHERE a <> b
            ),
            reach(x, y) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.x, s.dst FROM reach r JOIN sym s ON r.y = s.src
            ),
            comp AS (
              SELECT x AS node, CAST(min(y) AS BIGINT) AS component
              FROM reach GROUP BY 1
            ),
            viol AS (
              SELECT DISTINCT ca.component
              FROM cl
              JOIN comp ca ON cl.a = ca.node
              JOIN comp cb ON cl.b = cb.node AND ca.component = cb.component
            )
            SELECT c.node, c.component,
                   (v.component IS NOT NULL) AS violated
            FROM comp c LEFT JOIN viol v ON c.component = v.component
        """,
        # Gaps-and-islands replay. The ordering is TOTAL (s, e, eid):
        # the construction is two window passes (running max -> flag ->
        # running sum), and DuckDB sorts each pass independently — under
        # a non-total order, tied rows can sort differently per pass and
        # a flag computed in one order cumulated in another invents
        # phantom islands (caught live at sf0.01).
        "interval_merge": """
            WITH iv AS (
              SELECT event_type,
                     CAST(event_id % 997 AS BIGINT) AS s,
                     CAST(event_id % 997 + 1 + user_id % 7 AS BIGINT) AS e,
                     CAST(event_id AS BIGINT) AS eid
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                AND event_id IS NOT NULL
            ),
            m AS (
              SELECT event_type, s, e, eid,
                     max(e) OVER (PARTITION BY event_type
                                  ORDER BY s, e, eid
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pme
              FROM iv
            ),
            f AS (
              SELECT *, CASE WHEN pme IS NOT NULL AND s <= pme
                        THEN 0 ELSE 1 END AS nw
              FROM m
            ),
            isl AS (
              SELECT *, SUM(nw) OVER (PARTITION BY event_type
                        ORDER BY s, e, eid ROWS UNBOUNDED PRECEDING)
                          AS island
              FROM f
            )
            SELECT event_type, CAST(min(s) AS BIGINT) AS "start",
                   CAST(max(e) AS BIGINT) AS "end",
                   CAST(count(*) AS BIGINT) AS n_intervals
            FROM isl GROUP BY event_type, island
        """,
        # Funnel replay: each step's completion is the row_number()=1
        # row under (ts, event_id) among events strictly after the
        # previous step's completion struct — the tie rule spelled out.
        "funnel_counts": """
            WITH base AS (
              SELECT user_id, ts, event_id, event_type FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_id IS NOT NULL AND event_type IS NOT NULL
            ),
            s0 AS (
              SELECT user_id, ts, event_id FROM (
                SELECT user_id, ts, event_id,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) rn
                FROM base WHERE event_type = 'view') WHERE rn = 1
            ),
            s1 AS (
              SELECT user_id, ts, event_id FROM (
                SELECT b.user_id, b.ts, b.event_id,
                       row_number() OVER (PARTITION BY b.user_id
                         ORDER BY b.ts, b.event_id) rn
                FROM base b JOIN s0 ON b.user_id = s0.user_id
                WHERE b.event_type = 'click'
                  AND (b.ts > s0.ts
                       OR (b.ts = s0.ts AND b.event_id > s0.event_id))
              ) WHERE rn = 1
            ),
            s2 AS (
              SELECT user_id FROM (
                SELECT b.user_id,
                       row_number() OVER (PARTITION BY b.user_id
                         ORDER BY b.ts, b.event_id) rn
                FROM base b JOIN s1 ON b.user_id = s1.user_id
                WHERE b.event_type = 'purchase'
                  AND (b.ts > s1.ts
                       OR (b.ts = s1.ts AND b.event_id > s1.event_id))
              ) WHERE rn = 1
            )
            SELECT 0 AS step_index, 'view' AS step,
                   CAST((SELECT count(*) FROM s0) AS BIGINT) AS n_users
            UNION ALL SELECT 1, 'click',
                   CAST((SELECT count(*) FROM s1) AS BIGINT)
            UNION ALL SELECT 2, 'purchase',
                   CAST((SELECT count(*) FROM s2) AS BIGINT)
        """,
        # Anti-entropy replay: same perturbed replica, same portable
        # 60-bit md5 row hashes (keys inside the content hash), same
        # key-hash bucketing and mod-2^62 checksum fold.
        "snapshot_diff": """
            WITH l AS (SELECT doc_id, text, lang FROM documents),
            r AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 37 = 0 THEN text || 'X'
                          ELSE text END AS text,
                     lang
              FROM documents WHERE doc_id % 41 <> 0
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text, 'xx' AS lang
              FROM documents WHERE doc_id % 43 = 0
            ),
            lh AS (
              SELECT CAST(CAST(('0x' || substr(md5(concat_ws(chr(1),
                       coalesce(concat('v', CAST(doc_id AS VARCHAR)), 'n'))),
                       1, 15)) AS BIGINT) % 64 AS BIGINT) AS bucket,
                     CAST(('0x' || substr(md5(concat_ws(chr(1),
                       coalesce(concat('v', CAST(doc_id AS VARCHAR)), 'n'),
                       coalesce(concat('v', CAST(text AS VARCHAR)), 'n'),
                       coalesce(concat('v', CAST(lang AS VARCHAR)), 'n'))),
                       1, 15)) AS BIGINT) AS h
              FROM l
            ),
            rh AS (
              SELECT CAST(CAST(('0x' || substr(md5(concat_ws(chr(1),
                       coalesce(concat('v', CAST(doc_id AS VARCHAR)), 'n'))),
                       1, 15)) AS BIGINT) % 64 AS BIGINT) AS bucket,
                     CAST(('0x' || substr(md5(concat_ws(chr(1),
                       coalesce(concat('v', CAST(doc_id AS VARCHAR)), 'n'),
                       coalesce(concat('v', CAST(text AS VARCHAR)), 'n'),
                       coalesce(concat('v', CAST(lang AS VARCHAR)), 'n'))),
                       1, 15)) AS BIGINT) AS h
              FROM r
            ),
            la AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS left_n,
                     CAST(sum(h) % 4611686018427387904 AS BIGINT)
                       AS left_checksum
              FROM lh GROUP BY 1
            ),
            ra AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS right_n,
                     CAST(sum(h) % 4611686018427387904 AS BIGINT)
                       AS right_checksum
              FROM rh GROUP BY 1
            )
            SELECT coalesce(la.bucket, ra.bucket) AS bucket,
                   la.left_n, ra.right_n, la.left_checksum,
                   ra.right_checksum,
                   CASE WHEN la.left_n IS NULL THEN 'right_only'
                        WHEN ra.right_n IS NULL THEN 'left_only'
                        WHEN la.left_n = ra.right_n
                             AND la.left_checksum = ra.right_checksum
                          THEN 'equal'
                        ELSE 'mismatch' END AS status
            FROM la FULL OUTER JOIN ra ON la.bucket = ra.bucket
        """,
        # Overlap-join replay: the plain closed-bound inequality join —
        # the engine's bucketization + overlap-start-bucket dedup rule
        # must be invisible in the rows.
        "overlap_join": """
            WITH ev AS (
              SELECT event_type, event_id, user_id FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                AND event_id IS NOT NULL
            ),
            l AS (
              SELECT event_type, CAST(event_id AS BIGINT) AS la,
                     CAST(event_id % 997 AS BIGINT) AS a_lo,
                     CAST(event_id % 997 + 1 + user_id % 5 AS BIGINT) AS a_hi
              FROM ev WHERE event_id % 11 = 0
            ),
            r AS (
              SELECT event_type, CAST(event_id AS BIGINT) AS rb,
                     CAST((event_id * 7) % 991 AS BIGINT) AS b_lo,
                     CAST((event_id * 7) % 991 + 1 + user_id % 3 AS BIGINT)
                       AS b_hi
              FROM ev WHERE event_id % 13 = 0
            )
            SELECT l.event_type, l.la, l.a_lo, l.a_hi, r.rb, r.b_lo, r.b_hi
            FROM l JOIN r ON l.event_type = r.event_type
                         AND l.a_lo <= r.b_hi AND r.b_lo <= l.a_hi
        """,
        # Compaction-plan replay: identical integer ceil-DIV arithmetic
        # (DuckDB // is floor division on exact integers).
        "compaction_plan": """
            WITH agg AS (
              SELECT lang, source,
                     CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(sum(n_chars) AS BIGINT) AS total_bytes
              FROM documents GROUP BY 1, 2
            ),
            f AS (
              SELECT *, CAST(greatest(1, (total_bytes + 4095) // 4096)
                        AS BIGINT) AS n_files
              FROM agg
            )
            SELECT lang, source, n_rows, total_bytes, n_files,
                   CAST((n_rows + n_files - 1) // n_files AS BIGINT)
                     AS rows_per_file,
                   (total_bytes < 512) AS needs_compaction
            FROM f
        """,
        # Markov transition replay: same lag-built transition stream as
        # _click_edges; counts BIGINT, probability is one integer
        # floor-division per row (// on exact integers == Spark DIV).
        "markov_transitions": """
            WITH ev AS (
              SELECT user_id, ts, event_id,
                     event_type || ':' ||
                       CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR) AS node
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                AND value IS NOT NULL
            ),
            seq AS (
              SELECT node, lag(node) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
              FROM ev
            ),
            e AS (
              SELECT prev AS src, node AS dst,
                     CAST(count(*) AS BIGINT) AS n_transitions
              FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
            ),
            t AS (
              SELECT src, CAST(sum(n_transitions) AS BIGINT) AS out_total
              FROM e GROUP BY 1
            )
            SELECT e.src, e.dst, e.n_transitions, t.out_total,
                   CAST((e.n_transitions * 1000000) // t.out_total
                        AS BIGINT) AS p_scaled
            FROM e JOIN t ON e.src = t.src
        """,
        # FK-audit replay: per relation, child contracted to (fk, cnt),
        # parent to distinct keys, one left join + filtered sums. NULL
        # FKs are their own column, never orphans (SQL FK convention).
        "referential_integrity": """
            WITH probe AS (
              SELECT 'lineitem.l_orderkey->orders' AS relation,
                     l_orderkey AS fk FROM lineitem
              UNION ALL
              SELECT 'orders.o_custkey->customer', o_custkey FROM orders
              UNION ALL
              SELECT 'customer.c_nationkey->nation',
                     CAST(c_nationkey AS BIGINT) FROM customer
              UNION ALL
              SELECT 'orders.o_custkey->customer[BUILDING]', o_custkey
              FROM orders
              UNION ALL
              SELECT 'events.user_id->customer', user_id FROM events
            ),
            parent AS (
              SELECT 'lineitem.l_orderkey->orders' AS relation,
                     o_orderkey AS pk FROM orders
              UNION ALL
              SELECT 'orders.o_custkey->customer', c_custkey FROM customer
              UNION ALL
              SELECT 'customer.c_nationkey->nation',
                     CAST(n_nationkey AS BIGINT) FROM nation
              UNION ALL
              SELECT 'orders.o_custkey->customer[BUILDING]', c_custkey
              FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION ALL
              SELECT 'events.user_id->customer', c_custkey FROM customer
            ),
            keyed AS (
              SELECT relation, fk, CAST(count(*) AS BIGINT) AS cnt
              FROM probe GROUP BY 1, 2
            ),
            pkeys AS (
              SELECT DISTINCT relation, pk FROM parent WHERE pk IS NOT NULL
            )
            SELECT k.relation,
                   CAST(COALESCE(SUM(cnt) FILTER (k.fk IS NOT NULL), 0)
                        AS BIGINT) AS n_child,
                   CAST(COALESCE(SUM(cnt) FILTER (k.fk IS NULL), 0)
                        AS BIGINT) AS n_null_fk,
                   CAST(COALESCE(SUM(cnt) FILTER (
                          k.fk IS NOT NULL AND p.pk IS NULL), 0)
                        AS BIGINT) AS n_orphan,
                   CAST(COUNT(*) FILTER (k.fk IS NOT NULL AND p.pk IS NULL)
                        AS BIGINT) AS n_orphan_keys
            FROM keyed k LEFT JOIN pkeys p
              ON k.relation = p.relation AND k.fk = p.pk
            GROUP BY k.relation
        """,
        # Retention replay: floor(epoch) (CAST alone ROUNDS — the
        # hopping_window idiom), BIGINT floor-division period index,
        # count(*) over the deduped (user, period) activity.
        "retention_cohorts": """
            WITH act AS (
              SELECT DISTINCT user_id AS u,
                     CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS p
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ),
            f AS (SELECT u, min(p) AS c FROM act GROUP BY 1)
            SELECT CAST(c AS BIGINT) AS cohort_period,
                   CAST(p - c AS BIGINT) AS periods_since,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM act JOIN f USING (u) GROUP BY 1, 2
        """,
        # Drift replay: identical scaled-DIV fraction arithmetic per
        # category (// on exact integers == Spark DIV), HUGEINT
        # deviation sum, integer halving; empty side -> NULL.
        "distribution_drift": """
            WITH l AS (
              SELECT user_id % 3 AS user_bucket, event_type AS cat,
                     CAST(count(*) AS BIGINT) AS cl
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                AND event_id % 2 = 0
              GROUP BY 1, 2
            ),
            r AS (
              SELECT user_id % 3 AS user_bucket, event_type AS cat,
                     CAST(count(*) AS BIGINT) AS cr
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                AND event_id % 2 = 1
              GROUP BY 1, 2
            ),
            cells AS (
              SELECT COALESCE(l.user_bucket, r.user_bucket) AS user_bucket,
                     COALESCE(l.cat, r.cat) AS cat,
                     COALESCE(cl, 0) AS cl, COALESCE(cr, 0) AS cr
              FROM l FULL OUTER JOIN r
                ON l.user_bucket = r.user_bucket AND l.cat = r.cat
            ),
            tot AS (
              SELECT user_bucket, CAST(sum(cl) AS BIGINT) AS nl,
                     CAST(sum(cr) AS BIGINT) AS nr
              FROM cells GROUP BY 1
            )
            SELECT c.user_bucket,
                   CAST(nl AS BIGINT) AS n_left,
                   CAST(nr AS BIGINT) AS n_right,
                   CAST(count(*) AS BIGINT) AS n_categories,
                   CASE WHEN nl = 0 OR nr = 0 THEN CAST(NULL AS BIGINT)
                        ELSE CAST(sum(CAST(abs(
                          (CASE WHEN nl = 0 THEN 0
                                ELSE (cl * 1000000) // nl END)
                          - (CASE WHEN nr = 0 THEN 0
                                  ELSE (cr * 1000000) // nr END)
                        ) AS HUGEINT)) // 2 AS BIGINT) END AS tv_scaled
            FROM cells c JOIN tot t ON c.user_bucket = t.user_bucket
            GROUP BY c.user_bucket, nl, nr
        """,
        # Path-rollup replay: same derived urls, same explicit-class
        # regex (Java == RE2 on these classes), list_filter'd segments,
        # generate_series depths, 1-based inclusive slice for prefixes.
        # array_to_string([]) is NULL in DuckDB but '' in Spark's
        # array_join — the depth-0 root needs the COALESCE.
        "path_rollup": """
            WITH u AS (
              SELECT CASE
                WHEN doc_id % 5 = 0
                  THEN 'https://' || source || '.example.com/'
                WHEN doc_id % 5 = 1
                  THEN 'https://' || source || '.example.com/' || lang
                ELSE 'https://' || source || '.example.com/' || lang
                     || '/sec-' || CAST(doc_id % 13 AS VARCHAR)
                     || '/doc-' || CAST(doc_id AS VARCHAR)
                END AS url, n_chars
              FROM documents
            ),
            p AS (
              SELECT
                regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host,
                list_filter(string_split(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/'),
                  s -> s <> '') AS segs,
                n_chars
              FROM u
            ),
            e AS (
              SELECT host, n_chars, segs,
                     unnest(generate_series(0, least(3, len(segs))))
                       AS depth
              FROM p WHERE host <> ''
            )
            SELECT host, CAST(depth AS INTEGER) AS depth,
                   '/' || COALESCE(array_to_string(segs[1:depth], '/'), '')
                     AS path_prefix,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
            FROM e GROUP BY 1, 2, 3
        """,
        # Native-session replay: lag-island construction on EXACT
        # microseconds with the pinned strict-> gap rule (exactly-gap
        # events merge, measured); the two window passes share one
        # TOTAL order (tus, event_id) — the phantom-island trap.
        # end = last_ts + gap, bounds floored to epoch seconds.
        "session_rollup": """
            WITH ev AS (
              SELECT user_id, epoch_us(ts) AS tus, event_id
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ),
            m AS (
              SELECT user_id, tus, event_id,
                     CASE WHEN tus - lag(tus) OVER (
                            PARTITION BY user_id ORDER BY tus, event_id)
                          > 1800000000 THEN 1 ELSE 0 END AS nw
              FROM ev
            ),
            isl AS (
              SELECT *, SUM(nw) OVER (PARTITION BY user_id
                          ORDER BY tus, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
              FROM m
            )
            SELECT user_id,
                   CAST(min(tus) // 1000000 AS BIGINT) AS session_start_s,
                   CAST((max(tus) + 1800000000) // 1000000 AS BIGINT)
                     AS session_end_s,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(min(event_id) AS BIGINT) AS first_event_id,
                   CAST(max(event_id) AS BIGINT) AS last_event_id
            FROM isl GROUP BY user_id, sess
        """,
        # Cascade-audit replay: plain IN-subquery semi-joins; NULL FKs
        # never match; lineitem keys come from the AFFECTED orders.
        "deletion_impact": """
            WITH seedk AS (
              SELECT DISTINCT c_custkey AS k FROM customer
              WHERE c_custkey % 10 = 3
            ),
            o AS (
              SELECT o_orderkey, o_custkey FROM orders
              WHERE o_custkey IN (SELECT k FROM seedk)
            ),
            l AS (
              SELECT l_orderkey FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM o)
            ),
            e AS (
              SELECT user_id FROM events
              WHERE user_id IN (SELECT k FROM seedk)
            )
            SELECT 'orders' AS table_name, CAST(1 AS INTEGER) AS step,
                   CAST(count(*) AS BIGINT) AS n_rows_affected,
                   CAST(count(DISTINCT o_custkey) AS BIGINT)
                     AS n_matched_keys
            FROM o
            UNION ALL
            SELECT 'lineitem', CAST(2 AS INTEGER),
                   CAST(count(*) AS BIGINT),
                   CAST(count(DISTINCT l_orderkey) AS BIGINT)
            FROM l
            UNION ALL
            SELECT 'events', CAST(1 AS INTEGER),
                   CAST(count(*) AS BIGINT),
                   CAST(count(DISTINCT user_id) AS BIGINT)
            FROM e
        """,
        # Link-graph ground truth from the planting formulas (not a
        # mirrored regex): m==0 docs emit (t1, t2) at positions (0, 1)
        # — relative decoy skipped; m==1 docs emit t1 at 0 — mailto
        # decoy skipped; m==2 docs emit nothing.
        "link_graph": """
            WITH d AS (
              SELECT doc_id, lang, source,
                     'https://' || source || '.example.com/doc-'
                       || CAST(doc_id AS VARCHAR) AS src_url,
                     source || '.example.com' AS src_host,
                     'https://hub.example.net/t-'
                       || CAST(doc_id % 17 AS VARCHAR) AS t1,
                     'http://' || lang || '.example.org/p-'
                       || CAST(doc_id % 5 AS VARCHAR) AS t2
              FROM documents
            )
            SELECT src_url, src_host, t1 AS dst_url,
                   'hub.example.net' AS dst_host,
                   CAST(0 AS INTEGER) AS position
            FROM d WHERE doc_id % 3 IN (0, 1)
            UNION ALL
            SELECT src_url, src_host, t2,
                   lang || '.example.org', CAST(1 AS INTEGER)
            FROM d WHERE doc_id % 3 = 0
        """,
        # Anchor-profile ground truth from the planting formulas: per
        # target the exact inlink count (whitespace-only anchors count
        # as inlinks, never as top), distinct referring hosts, and the
        # (count DESC, anchor ASC) argmax replayed as a row_number.
        "anchor_signal": """
            WITH d AS (
              SELECT doc_id, lang, source,
                     source || '.example.com' AS src_host,
                     'https://hub.example.net/t-'
                       || CAST(doc_id % 17 AS VARCHAR) AS t1,
                     'http://' || lang || '.example.org/p-'
                       || CAST(doc_id % 5 AS VARCHAR) AS t2
              FROM documents
            ),
            raw AS (
              SELECT t1 AS dst_url, src_host,
                     CASE WHEN doc_id % 3 = 0 THEN 'alpha ' || lang
                          ELSE 'gamma' END AS anchor
              FROM d WHERE doc_id % 3 IN (0, 1)
              UNION ALL
              SELECT t2, src_host, 'beta' FROM d WHERE doc_id % 3 = 0
              UNION ALL
              SELECT t2, src_host, '' FROM d WHERE doc_id % 3 = 1
            ),
            ba AS (
              SELECT dst_url, anchor, CAST(count(*) AS BIGINT) AS cnt
              FROM raw GROUP BY 1, 2
            ),
            tot AS (
              SELECT dst_url, CAST(sum(cnt) AS BIGINT) AS n_inlinks
              FROM ba GROUP BY 1
            ),
            top AS (
              SELECT dst_url, anchor AS top_anchor FROM (
                SELECT dst_url, anchor,
                       row_number() OVER (PARTITION BY dst_url
                                          ORDER BY cnt DESC, anchor ASC)
                         AS rn
                FROM ba WHERE anchor <> ''
              ) WHERE rn = 1
            ),
            h AS (
              SELECT dst_url, CAST(count(*) AS BIGINT) AS n_src_hosts
              FROM (SELECT DISTINCT dst_url, src_host FROM raw)
              GROUP BY 1
            )
            SELECT t.dst_url, t.n_inlinks, h.n_src_hosts, top.top_anchor
            FROM tot t
            JOIN h ON h.dst_url = t.dst_url
            LEFT JOIN top ON top.dst_url = t.dst_url
        """,
    }
