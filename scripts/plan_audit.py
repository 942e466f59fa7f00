"""Regenerate PLANS.md: the formatted physical plan of every headline
query plus the plan-shape facts the engine guarantees (and tests).

The audit exists so a reviewer can check the 100-TB story against the
ACTUAL plans, not prose: broadcast vs shuffle joins, exchange count,
ArrowEvalPython placement, pushed filters, pruned columns. Run at sf0.01
(plan shapes are scale-invariant; only statistics change).

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# PLANS — physical-plan audit of the headline queries

Regenerated by `python scripts/plan_audit.py` (sf0.01 input; plan shapes
are scale-invariant). Each section: the guarantees the engine makes for
that query — all of them enforced by tests — followed by the
`explain("formatted")` output to check them against.

"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import pyspark.sql.functions as F

    from word_sense_disambiguation_spark.datagen import build_world, world_to_spark
    from word_sense_disambiguation_spark.operators.blocking import er_scored_edges
    from word_sense_disambiguation_spark.operators.dedup import (
        duplicate_span_stats,
        minhash_near_duplicate_clusters,
        prefix_filter_pairs,
    )
    from word_sense_disambiguation_spark.operators.cdc import latest_snapshot
    from word_sense_disambiguation_spark.operators.zorder import (
        minmax_rank_exprs,
        zorder_chunk_stats,
    )
    from word_sense_disambiguation_spark.operators.quantiles import (
        group_quantiles,
        rank_buckets,
    )
    from word_sense_disambiguation_spark.operators.temporal import (
        asof_join,
        hopping_window_agg,
        interval_coalesce,
        interval_overlap_join,
        range_join,
        time_bucket_rollup,
    )
    from word_sense_disambiguation_spark.operators.cdc import scd2_history
    from word_sense_disambiguation_spark.operators.profiling import (
        checksum_diff,
    )
    from word_sense_disambiguation_spark.operators.zorder import (
        compaction_plan,
    )
    from word_sense_disambiguation_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )
    from word_sense_disambiguation_spark.operators.evaluation import (
        b_cubed_metrics,
    )
    from word_sense_disambiguation_spark.operators.similarity_search import (
        brute_force_topk,
        ivf_index,
        ivf_topk,
        lsh_index,
        lsh_topk,
    )
    from word_sense_disambiguation_spark.operators.textstats import (
        build_vocabulary,
        cooccurrence_counts,
        script_profile,
        text_profile,
        token_diversity,
    )
    from word_sense_disambiguation_spark.operators.webfilters import (
        pack_documents,
        quality_classifier_scores,
        redact_pii,
        site_quota_sample,
    )
    from word_sense_disambiguation_spark.plans.pipeline import sense_assignments
    from word_sense_disambiguation_spark.session import get_spark
    from word_sense_disambiguation_spark.sources.pages import pages_from_documents

    spark = get_spark(app_name="plan_audit", master="local[4]")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    world = world_to_spark(spark, build_world(n_pages=200, seed=42))
    pages = pages_from_documents(docs).unionByName(world["pages"])
    senses = world["senses"]

    def formatted(df) -> str:
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # strip volatile ids so regeneration diffs stay readable
        p = re.sub(r"#\d+L?", "#N", p)
        p = re.sub(r"plan_id=\d+", "plan_id=X", p)
        # keep the tree + only the detail blocks that carry scale facts
        # (scan pushdown/pruning, exchange partitioning) — the per-node
        # Output/Input column dumps would bloat the audit 10x
        tree, _, details = p.partition("\n\n")
        kept = [
            blk
            for blk in re.split(r"\n\n(?=\()", details)
            if re.match(
                r"\(\d+\) (Scan parquet|Exchange|BroadcastExchange)", blk
            )
        ]
        return tree + "\n\n" + "\n\n".join(kept) + "\n" if kept else tree + "\n"

    assignments = sense_assignments(pages, senses)
    a = assignments.filter(F.col("decision") != "no_definitions").select(
        "mention_id", "lemma", "pos", "norm_surface", "surface",
        "context_words", "pred_sense_id", "decision",
    )
    er_edges = er_scored_edges(a)
    qvecs = [(int(r.vec_id), list(r.embedding)) for r in emb.orderBy("vec_id").limit(2).collect()]
    ivf = ivf_index(emb, n_lists=8, lloyd_iters=1)
    lsh = lsh_index(emb)

    sections = [
        (
            "sense_assign (flagship: pages -> assignments)",
            "One parquet+union scan (html pruned when unused), codegen "
            "mention extractor with LINEAR sentence ids, ONE broadcast "
            "hash join against the sense inventory, exactly one shuffle "
            "exchange between a PARTIAL and FINAL max_by aggregate "
            "(physically SortAggregate — struct agg buffers are not "
            "hash-mutable — but the shuffle carries one row per mention; "
            "never a sort WINDOW, which would ship every candidate row). "
            "The cosine term is the single documented ArrowEvalPython. "
            "Tests: test_skew_and_plans.test_flagship_plan_shape.",
            assignments,
        ),
        (
            "er_cluster edges (blocking -> pair scoring)",
            "blocking.er_scored_edges: ONE shuffle of the assignments on "
            "the block key into one MapInPandas pass that enumerates each "
            "block's candidate pairs (within the cap: hub star, same "
            "sense, same context direction; over it: canopy-aware stars "
            "— linear, no silent caps) and scores them in numpy (JW, "
            "cosine over one embedding per member, sense agreement); no "
            "join back to mention attributes, no distinct. The same "
            "pass labels each block's matched components, so "
            "blocking.er_clusters is a narrow projection of these "
            "edges (no Exchange, no MapInPandas).",
            er_edges,
        ),
        (
            "dedup_minhash clusters",
            "mapInPandas signatures (checkpointed once), banded-bucket "
            "self-join through the capped-block helper, JVM token-3-gram "
            "Jaccard verify, singleton-free adaptive CC.",
            minhash_near_duplicate_clusters(docs, "doc_id", "text", threshold=0.7),
        ),
        (
            "ann_topk (brute force)",
            "Per-batch GEMM local top-k inside mapInPandas, then a "
            "global top-k over partitions*k*q rows — the scan dominates, "
            "the shuffle is O(partitions).",
            brute_force_topk(emb, qvecs, k=5),
        ),
        (
            "ann_ivf probe (prebuilt index)",
            "Broadcast probe join against the materialized list "
            "assignment (no corpus rescan), JVM zip_with cosine, "
            "windowed top-k over probed lists only.",
            ivf_topk(emb, qvecs, k=5, n_lists=8, n_probe=2, index=ivf),
        ),
        (
            "ann_lsh probe (prebuilt signature table)",
            "Broadcast query-side join on (table_id, bucket) against the "
            "persisted signature table, dropDuplicates on (query, vid), "
            "exact cosine re-rank.",
            lsh_topk(emb, qvecs, k=5, index=lsh),
        ),
        (
            "text_profile",
            "Single scan, whole-stage codegen end-to-end: zero shuffles, "
            "zero Python.",
            text_profile(docs, "doc_id", "text"),
        ),
        (
            "site_quota_sample",
            "Two salted row_number windows (spill-safe buffers; level-2 "
            "group hard-bounded at salts*quota) — no collect_list "
            "aggregation buffer anywhere. Tests: "
            "test_site_quota_plan_is_window_not_collect_list.",
            site_quota_sample(pages_from_documents(docs), "url", quota=7),
        ),
        (
            "redact_pii",
            "Single scan, pure codegen replace-and-count — zero "
            "shuffles, zero Python.",
            redact_pii(docs),
        ),
        (
            "pack_documents",
            "Deterministic shard hash, ONE running-sum window per shard "
            "(the parallel unit), chunk arithmetic in codegen.",
            pack_documents(docs, capacity=256, shards=8),
        ),
        (
            "substring_span_dedup (ExactSubstr spans)",
            "Map-side window explode, ONE partial-combined groupBy(h) "
            "for duplicate detection + canonical pick (SortAggregate — "
            "struct min buffer; a hot boilerplate hash costs one row "
            "per map partition), join back with one build row per hash "
            "(no amplification), doc-bounded gaps-and-islands window.",
            duplicate_span_stats(docs, n=8),
        ),
        (
            "quality_classifier (hash-weights path)",
            "ZERO shuffle: one codegen'd higher-order aggregate per row "
            "inside the scan stage — no explode, no join, no Python. "
            "Tests: test_quality_classifier_default_plan_no_shuffle.",
            quality_classifier_scores(docs),
        ),
        (
            "asof_join (point-in-time)",
            "Union of both sides, ONE hash exchange (the key "
            "partitioning), running last(ignoreNulls) frame — "
            "O(|L_k|+|R_k|) per key, never an inequality join. Tests: "
            "test_asof_plan_single_exchange.",
            asof_join(
                docs.select(F.col("doc_id").alias("event_id"),
                            (F.col("doc_id") % 50).alias("user_id"),
                            F.col("n_chars").cast("timestamp").alias("ts")),
                docs.select((F.col("doc_id") + 1000).alias("event_id"),
                            (F.col("doc_id") % 50).alias("user_id"),
                            (F.col("n_chars") + 3).cast("timestamp").alias("ts")),
                on="user_id", right_cols=["event_id"], tie_col="event_id",
            ),
        ),
        (
            "range_join (interval containment)",
            "Bucketized EQUI-join (hash/SMJ on keys+bucket) with exact "
            "re-check — never BroadcastNestedLoop/cartesian; exactly-"
            "once pairs by construction, oversized intervals in a side "
            "table. Tests: test_range_join_plan_is_equi_join.",
            range_join(
                docs.select("doc_id", (F.col("doc_id") % 50).alias("k"),
                            F.col("n_chars").cast("double").alias("v")),
                docs.select((F.col("doc_id") + 1000).alias("i_id"),
                            (F.col("doc_id") % 50).alias("k"),
                            F.col("n_chars").cast("double").alias("lo"),
                            (F.col("n_chars") + 40.0).alias("hi")),
                "v", "lo", "hi", keys=["k"], bucket_width=32.0,
            )[0],
        ),
        (
            "time_rollup (hypertable continuous aggregate)",
            "ONE scan feeds every granularity: Expand (grouping sets) "
            "-> one partial+final aggregation -> ONE exchange. Tests: "
            "test_time_bucket_rollup_one_scan_one_shuffle.",
            time_bucket_rollup(
                docs.select(F.col("source").alias("event_type"),
                            F.col("doc_id").cast("timestamp").alias("ts"),
                            F.col("n_chars").cast("double").alias("value")),
                "ts", ["event_type"], "value",
            ),
        ),
        (
            "latest_snapshot (CDC compaction)",
            "max_by over an explicit (ts, tiebreak) order struct: two "
            "HashAggregates around ONE exchange (map-side partial "
            "combine — a hot re-crawled key contributes one row per map "
            "partition), never the row_number window that buffers the "
            "key's full history in one task. Tests: "
            "test_plan_is_aggregate_not_window.",
            latest_snapshot(
                docs.select(
                    F.col("source").alias("key"),
                    F.col("doc_id").cast("timestamp").alias("ts"),
                    F.col("doc_id").alias("seq"),
                    F.col("n_chars").alias("payload"),
                ),
                ["key"], "ts", "seq",
            ),
        ),
        (
            "hopping_window (sliding aggregate)",
            "Offset explode (Generate) creates each row's L/S window "
            "memberships locally, then ONE partial-combined groupBy — "
            "no inequality join against a window table, no Join node "
            "at all. Tests: test_hopping_window_guard_and_plan.",
            hopping_window_agg(
                docs.select(
                    F.col("source").alias("event_type"),
                    F.col("doc_id").cast("timestamp").alias("ts"),
                    F.col("n_chars").cast("double").alias("value"),
                ),
                "ts", ["event_type"], "value", length_s=900, slide_s=300,
            ),
        ),
        (
            "zorder_layout (Morton chunk audit)",
            "The Morton key is straight-line BIGINT bit arithmetic "
            "inside the scan projection (no UDF), the chunk id a "
            "row-local div, the stats ONE partial-combined groupBy — "
            "no global sort, no window, a single exchange carrying "
            "<= n_chunks rows per map partition. Tests: "
            "test_guards_and_codegen (Exchange count == 1).",
            zorder_chunk_stats(
                docs,
                minmax_rank_exprs(docs, ["doc_id", "n_chars"], bits=8),
                bits=8,
                n_chunks=64,
            ),
        ),
        (
            "group_quantiles (exact order statistics)",
            "Group sizes from a partial-combined groupBy (never a "
            "count-over-full-partition window), broadcast back; ONE "
            "row_number window — the irreducible cost of an EXACT rank "
            "selection (document the percentile_approx trade at scales "
            "where a hot key's sort task is unacceptable). Integer-only "
            "rank arithmetic. Tests: test_quantiles_plan_shape.",
            group_quantiles(docs, ["source"], "n_chars"),
        ),
        (
            "er_eval_bcubed (B-cubed clustering metrics)",
            "One partial-combined contingency groupBy over the labeled "
            "input is the only full-data shuffle; per-cluster / "
            "per-class size tables and the final metric row all derive "
            "from the contracted cells (integer scaled-DIV "
            "contributions, DECIMAL(38,0) sums, fixed IEEE trees). No "
            "Window, no cartesian. Tests: "
            "test_pipeline_e2e.test_b_cubed_no_window_no_cartesian.",
            b_cubed_metrics(
                docs.select(
                    (F.col("doc_id") % 50).alias("pred"),
                    (F.col("doc_id") % 37).alias("gold"),
                ),
                materialize=False,
            ),
        ),
        (
            "tfidf_cosine (token-weighted pair verify)",
            "ONE (doc, token) tf aggregate; df from the tf table "
            "(second partial-combined groupBy — never countDistinct "
            "over the raw explode); norms contract per doc, dots attach "
            "pair ids and contract per pair; DECIMAL-exact sums, one "
            "fixed IEEE cos^2 tree, no sqrt, no window, no cartesian. "
            "Tests: test_dedup.test_tfidf_cosine_invariance_and_plan.",
            tfidf_cosine_pairs(
                docs, "doc_id", "text",
                docs.select(
                    F.col("doc_id").alias("id_a"),
                    (F.col("doc_id") + 1).alias("id_b"),
                ),
            ),
        ),
        (
            "similarity_join (exact prefix-filter Jaccard join)",
            "Distinct membership + global rarity counts: partial-combined "
            "groupBys; rarity rank a DOC-bounded window; hot prefix-token "
            "blocks excluded by broadcast anti-join (capped, surfaced); "
            "token-linear intersection contraction; integer cross-multiply "
            "verify — completeness-guaranteed, zero floats. Tests: "
            "test_dedup.test_prefix_filter_pairs_cap_invariance_and_plan.",
            prefix_filter_pairs(docs, "doc_id", "text", threshold_pct=70)[0],
        ),
        (
            "ccnet_buckets (exact rank bucketing)",
            "Cuts from group_quantiles contract to n_buckets-1 rows per "
            "group and broadcast back; the per-row assignment is a "
            "codegen CASE over strict-> indicators — the data side never "
            "sorts or windows. Tests: test_quantiles."
            "test_rank_buckets_invariance_and_plan.",
            rank_buckets(
                docs.select("doc_id", "lang", (F.col("doc_id") % 97).alias("score")),
                ["lang"], "score", n_buckets=3,
            ),
        ),
        (
            "token_diversity (Simpson index)",
            "Explode -> two partial-combined groupBys -> left join back "
            "(empty docs keep NULL rows); DECIMAL-exact sum of squares, "
            "one IEEE division. No window.",
            token_diversity(docs, "doc_id", "text"),
        ),
        (
            "script_profile (Unicode script composition)",
            "Pure codegen, one scan, zero shuffle: literal BMP range "
            "deletion counts, fixed-priority dominant CASE, one IEEE "
            "division. Tests: "
            "test_similarity_textstats.test_script_profile_plan_no_shuffle.",
            script_profile(docs, "doc_id", "text"),
        ),
        (
            "vocabulary (corpus top-N token table)",
            "One partial-combined token-count groupBy; the global top-N "
            "is TakeOrderedAndProject (bounded per-partition heaps, "
            "never a full sort shuffle); the contiguous rank window runs "
            "over the already-limited N rows. Tests: "
            "test_similarity_textstats.test_build_vocabulary_plan_take_ordered.",
            build_vocabulary(docs, "doc_id", "text", min_count=5, top_n=500),
        ),
        (
            "cooccurrence (skip-gram pairs + exp-PMI ratio)",
            "Window membership is an offset explode + ONE equi-join on "
            "(doc, pos+k) — the hopping_window move, never an inequality "
            "join; pair/unigram counts partial-combine; corpus totals "
            "ride broadcast one-row joins; the ratio is one fixed IEEE "
            "tree. Tests: "
            "test_similarity_textstats.test_cooccurrence_invariance_and_plan.",
            cooccurrence_counts(docs, "doc_id", "text", window=2, min_count=5),
        ),
        (
            "scd2_history (changelog -> validity intervals)",
            "Both windows and the run aggregate share ONE key-partitioned "
            "Exchange; run collapse is a null-safe lag struct compare. "
            "Tests: test_cdc.test_scd2_parallelism_invariance_and_one_exchange.",
            scd2_history(
                docs.select(
                    "lang",
                    F.col("doc_id").alias("seq"),
                    (F.col("doc_id") % 7).alias("state"),
                ),
                ["lang"],
                "seq",
                "seq",
                ["state"],
            ),
        ),
        (
            "interval_merge (gaps-and-islands coalesce)",
            "Running max(end) over the incremental UNBOUNDED..-1 frame + "
            "island running sum, one key Exchange; ordering is TOTAL "
            "(tiebreak col) for oracle parity. Tests: "
            "test_temporal.test_interval_coalesce_invariance_and_plan.",
            interval_coalesce(
                docs.select(
                    "lang",
                    (F.col("doc_id") % 97).alias("s"),
                    (F.col("doc_id") % 97 + 3).alias("e"),
                    F.col("doc_id").alias("tb"),
                ),
                ["lang"],
                "s",
                "e",
                ["tb"],
            ),
        ),
        (
            "overlap_join (interval x interval)",
            "Bucketized equi-join; exactly-once via the overlap-start-"
            "bucket predicate (no dedup shuffle); oversized intervals "
            "excluded into a side table. Tests: "
            "test_temporal.test_interval_overlap_join_matches_bruteforce_exactly_once.",
            interval_overlap_join(
                docs.select(
                    "lang",
                    (F.col("doc_id") % 97).cast("double").alias("a_lo"),
                    (F.col("doc_id") % 97 + 3).cast("double").alias("a_hi"),
                ),
                docs.select(
                    F.col("lang").alias("lang_r"),
                    ((F.col("doc_id") * 3) % 89).cast("double").alias("b_lo"),
                    ((F.col("doc_id") * 3) % 89 + 2).cast("double").alias("b_hi"),
                ).withColumnRenamed("lang_r", "lang"),
                "a_lo",
                "a_hi",
                "b_lo",
                "b_hi",
                keys=["lang"],
            )[0],
        ),
        (
            "snapshot_diff (merkle anti-entropy buckets)",
            "Two partial-combined checksum aggregates (one per snapshot) "
            "contract each side to n_buckets rows before the full-outer "
            "compare join — no row ever crosses the network. Tests: "
            "test_profiling.test_checksum_diff_order_and_partitioning_invariant.",
            checksum_diff(
                docs.select("doc_id", "lang"),
                docs.select("doc_id", "lang"),
                ["doc_id"],
                ["lang"],
                n_buckets=16,
            ),
        ),
        (
            "markov_transitions (first-order transition model)",
            "ONE map-side-combined groupBy(src, dst) is the only shuffle "
            "that sees input cardinality; outflow totals re-aggregate the "
            "contracted pair table and join back on src (compile-time "
            "plan shows two derivations; at runtime AQE substitutes a "
            "ReusedExchange, so the input is scanned once — verified on "
            "the executed plan); the probability is one integer DIV per "
            "row — no window, no float sums (a sum-over-src window would "
            "buffer a hub source's full dst fan-out in one task). "
            "Tests: test_temporal.test_transition_model_exact_probabilities.",
            __import__(
                "word_sense_disambiguation_spark.operators.temporal",
                fromlist=["transition_model"],
            ).transition_model(
                docs.select(
                    F.col("lang").alias("src"), F.col("source").alias("dst")
                )
            ),
        ),
        (
            "referential_integrity (FK orphan audit)",
            "Per relation the child contracts to (fk, cnt) via ONE "
            "map-side-combined groupBy BEFORE any join (raw fact rows "
            "never enter a join; a hot dimension key combines map-side); "
            "the parent contracts to distinct keys (AQE broadcasts small "
            "dims); verdict is one left join + a 1-row aggregate. Tests: "
            "test_profiling.test_referential_integrity_audit_counts.",
            __import__(
                "word_sense_disambiguation_spark.operators.profiling",
                fromlist=["referential_integrity_audit"],
            ).referential_integrity_audit(
                [("docs.lang->docs", docs, "lang",
                  docs.select(F.col("lang").alias("pk")), "pk")]
            ),
        ),
        (
            "retention_cohorts (cohort retention triangle)",
            "ONE repartition on the user key is the only "
            "input-cardinality shuffle: the (user, period) distinct and "
            "the per-user min both run inside that clustering with no "
            "further exchange (key-prefix partitioning satisfies the "
            "aggregates' distribution); the executed plan substitutes a "
            "ReusedExchange for the second branch derivation (verified), "
            "and the final (cohort, k) rollup partial-combines with NO "
            "count-distinct Expand (each user is at most one row per "
            "period by construction). Tests: "
            "test_temporal.test_retention_cohorts_semantics.",
            __import__(
                "word_sense_disambiguation_spark.operators.temporal",
                fromlist=["retention_cohorts"],
            ).retention_cohorts(
                docs.select(
                    (F.col("doc_id") % 50).alias("u"),
                    (F.col("doc_id") * 3600).cast("timestamp").alias("ts"),
                ),
                "u", "ts", period_s=86_400,
            ),
        ),
        (
            "distribution_drift (categorical TV distance)",
            "Each snapshot contracts to (slice, category, count) via ONE "
            "map-side-combined groupBy — the only input-cardinality "
            "shuffles; the full-outer pairing, totals re-aggregation, "
            "and per-slice fold all run on alphabet-sized data; "
            "scaled-DIV fractions, DECIMAL deviation sum, one integer "
            "halving — zero floats, no window. Tests: "
            "test_profiling.test_distribution_drift_exact_tv.",
            __import__(
                "word_sense_disambiguation_spark.operators.profiling",
                fromlist=["distribution_drift"],
            ).distribution_drift(
                docs.filter(F.col("doc_id") % 2 == 0).select("lang", "source"),
                docs.filter(F.col("doc_id") % 2 == 1).select("lang", "source"),
                "source", ["lang"],
            ),
        ),
        (
            "path_rollup (URL site-map hierarchy aggregate)",
            "One scan; the prefix explosion is a row-local posexplode "
            "over a transform/sequence array (bounded at max_depth + 1 "
            "rows per doc — never a per-level self-join), then ONE "
            "map-side-combined groupBy; a hot directory contracts "
            "map-side. Pure-codegen regex parsing (explicit classes, "
            "the Java-vs-RE2 discipline). Tests: "
            "test_webfilters.test_path_rollup_prefix_tree.",
            __import__(
                "word_sense_disambiguation_spark.operators.webfilters",
                fromlist=["path_rollup"],
            ).path_rollup(
                docs.select(
                    F.concat(
                        F.lit("https://"), F.col("source"),
                        F.lit(".example.com/"), F.col("lang"),
                        F.lit("/doc-"), F.col("doc_id").cast("string"),
                    ).alias("url"),
                    "n_chars",
                ),
                "url", "n_chars", max_depth=3,
            ),
        ),
        (
            "session_rollup (native session_window aggregate)",
            "Partial HashAggregate BELOW the exchange collapses "
            "duplicate-timestamp rows map-side (the crawl burst case); "
            "the shuffle carries one row per DISTINCT candidate window "
            "and the post-shuffle sorted MergingSessions welds them — "
            "never a window function buffering a hot user's raw events; "
            "the SAME expression streams under a watermark "
            "(stream_session_stats). Pinned strict-> gap boundary "
            "(exactly-gap events merge). Tests: "
            "test_temporal.test_session_window_stats_gap_boundary_pinned, "
            "test_streaming.test_stream_session_watermark_finalization.",
            __import__(
                "word_sense_disambiguation_spark.operators.temporal",
                fromlist=["session_window_stats"],
            ).session_window_stats(
                docs.select(
                    F.col("doc_id").alias("event_id"),
                    (F.col("doc_id") % 50).alias("u"),
                    (F.col("doc_id") * 600).cast("timestamp").alias("ts"),
                ),
                "u", "ts", "event_id",
            ),
        ),
        (
            "deletion_impact (GDPR cascade audit)",
            "Each fact table contracts ONCE to (fk[, next_key], cnt) "
            "via a map-side-combined groupBy — the only fact-cardinality "
            "shuffle; the seed probe is a left-semi join against the "
            "contracted table (AQE broadcasts the seed side); each hit "
            "table is eagerly localCheckpointed (TWO consumers: its "
            "count row and the next stage — the attach_mentions "
            "multi-consumer rule). Tests: "
            "test_profiling.test_deletion_impact_cascade.",
            __import__(
                "word_sense_disambiguation_spark.operators.profiling",
                fromlist=["deletion_impact"],
            ).deletion_impact(
                docs.filter(F.col("doc_id") % 10 == 3).select("doc_id"),
                "doc_id",
                [
                    ("docs_by_mod",
                     docs.select((F.col("doc_id") % 500).alias("fk"),
                                 F.col("doc_id").alias("nxt")),
                     "fk", "nxt"),
                    ("docs_terminal",
                     docs.select(F.col("doc_id").alias("fk")), "fk", None),
                ],
            ),
        ),
        (
            "link_graph (HTML outlink extraction)",
            "ONE regexp_extract_all pass (quotes stripped by a per-match "
            "substring, never a second regex scan) + posexplode inside "
            "whole-stage codegen — no Python, no shuffle, no window; a "
            "10^5-link hub page is row-local explode rows. Explicit-class "
            "regex only ([hH][rR][eE][fF], WS_CLASS — never (?i) or "
            "backslash-s, whose scope/membership differ across engines). "
            "Tests: test_webfilters.test_extract_links_scope_and_order.",
            __import__(
                "word_sense_disambiguation_spark.operators.webfilters",
                fromlist=["extract_links"],
            ).extract_links(
                docs.select(
                    F.concat(F.lit("https://"), F.col("source"),
                             F.lit(".example.com/doc-"),
                             F.col("doc_id").cast("string")).alias("url"),
                    F.concat(F.lit('<a href="https://hub.example.net/t-'),
                             (F.col("doc_id") % 17).cast("string"),
                             F.lit('">x</a>')).alias("html"),
                ),
                "url", "html",
            ),
        ),
        (
            "anchor_signal (inlink anchor-text profiles)",
            "ONE regex pass per document (group-0 matches; per-match "
            "field parsing on short strings, never a second html scan); "
            "two map-side-combined contractions — (dst, anchor) counts "
            "and distinct (dst, src_host) — re-aggregated per dst and "
            "equi-joined; top anchor is a partial-combined min_by over "
            "the (-count, anchor) struct (the assign_senses invariant), "
            "never a row_number window: a 10^9-inlink boilerplate "
            "target contracts map-side twice. Tests: "
            "test_webfilters.test_anchor_profile_counts_hosts_and_top.",
            __import__(
                "word_sense_disambiguation_spark.operators.webfilters",
                fromlist=["anchor_profile"],
            ).anchor_profile(
                docs.select(
                    F.concat(F.lit("https://"), F.col("source"),
                             F.lit(".example.com/doc-"),
                             F.col("doc_id").cast("string")).alias("url"),
                    F.concat(F.lit('<a href="https://hub.example.net/t-'),
                             (F.col("doc_id") % 17).cast("string"),
                             F.lit('">alpha</a>')).alias("html"),
                ),
                "url", "html",
            ),
        ),
        (
            "compaction_plan (integer file sizing)",
            "One map-side-combined aggregate; ceil via integer DIV, never "
            "IEEE division (precision past 2^53). Tests: "
            "test_zorder.test_compaction_plan_div_precision_past_double.",
            compaction_plan(docs, ["lang", "source"], "n_chars"),
        ),
    ]

    out = [HEADER]
    for title, guarantees, df in sections:
        out.append(f"## {title}\n\n{guarantees}\n\n```\n{formatted(df)}```\n\n")
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"),
        "w",
    ) as fp:
        fp.write("".join(out))
    print("wrote PLANS.md,", sum(len(s) for s in out), "chars")


if __name__ == "__main__":
    main()
