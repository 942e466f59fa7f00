"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Queries (each timed end-to-end, action = count on the final stage):

* ``sense_assign``   — flagship pipeline over the full pages table
  (documents lifted to page shape + synthetic gold world at sf scale)
* ``prompt_assign``  — the prompted inference path over the same pages
  (prompt build -> batched 128-way scorer -> decode)
* ``er_cluster``     — blocking -> pair scoring -> connected components
  over the synthetic mention graph
* ``dedup_minhash``  — MinHash-LSH near-dup clustering of documents
* ``ann_topk``       — brute-force cosine top-10, 8 queries over embeddings
* ``ann_ivf``        — IVF ANN probe over a prebuilt (amortized) index
* ``ann_lsh``        — hyperplane-LSH ANN probe over a prebuilt signature table
* ``text_profile``   — one-pass lang-id/quality/token-count profile

The whole suite runs TWICE (two in-process measurement windows) and the
reported number per query is the min across windows — single-window
numbers on this shared host swing 20-40% with neighbor steal time; the
JSON carries ``windows`` and the raw ``per_window`` figures.

``docs_per_sec`` is pages through the flagship pipeline per second — the
throughput number BASELINE.md tracks; scripts/scaling.py reruns this at two
parallelism levels for the scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from word_sense_disambiguation_spark.datagen import (
        build_world,
        pages_for_scale,
        world_to_spark,
    )
    from word_sense_disambiguation_spark.operators.blocking import (
        er_candidate_pairs,
    )
    from word_sense_disambiguation_spark.operators.clustering import cluster_mentions
    from word_sense_disambiguation_spark.operators.dedup import (
        minhash_near_duplicate_clusters,
    )
    from word_sense_disambiguation_spark.operators.pairs import score_mention_pairs
    from word_sense_disambiguation_spark.operators.similarity_search import (
        brute_force_topk,
        ivf_index,
        ivf_topk,
        lsh_index,
        lsh_topk,
    )
    from word_sense_disambiguation_spark.operators.textstats import text_profile
    from word_sense_disambiguation_spark.operators.tokenize import (
        mentions_from_pages_sql,
    )
    from word_sense_disambiguation_spark.plans.pipeline import (
        sense_assignments,
        sense_assignments_prompted,
    )
    from word_sense_disambiguation_spark.session import get_spark
    from word_sense_disambiguation_spark.sources.pages import pages_from_documents

    spark = get_spark(
        app_name="wsd_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )

    # Stage inputs with explicit parallelism: the testdata tables are single
    # parquet files (1-2 scan partitions) and the synthetic world starts as
    # a driver-local table — neither resembles a real multi-file crawl
    # table. A 100 TB input arrives in thousands of splits; repartitioning
    # the staged inputs reproduces that, so the timings measure the
    # operators' scaling, not an artificial 1-partition scan.
    par = cpus * 4
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).repartition(par).persist()
    docs.count()
    # embeddings partition count tracks DATA SIZE, not cores: this table is
    # a few thousand rows at bench sf, and slicing it into cpus*4 slivers
    # pays one python-worker/Arrow round-trip per sliver in the GEMM scan —
    # measured 1.62s at 128 partitions vs 0.56s at 4-8 (the r2 ann_topk
    # "+87% regression" was exactly this staging, not the operator). A real
    # 100 TB embedding table arrives with size-proportional splits anyway.
    emb_raw = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb_par = max(1, cpus // 4, emb_raw.count() // 2000)
    emb = emb_raw.repartition(emb_par).persist()
    emb.count()
    n_pages = pages_for_scale(sf)
    world = world_to_spark(spark, build_world(n_pages=n_pages, seed=42))
    world_pages = world["pages"].repartition(par).persist()
    pages = pages_from_documents(docs).unionByName(world_pages).persist()
    total_pages = pages.count()
    senses = world["senses"].persist()
    senses.count()

    # ANN indexes built ONCE (untimed — they are amortized over every query
    # batch, which is the point of an index); probes are timed per window.
    q_rows = emb.orderBy("vec_id").limit(8).collect()
    queries_vec = [(int(r.vec_id), list(r.embedding)) for r in q_rows]
    ivf = ivf_index(emb, n_lists=32, lloyd_iters=1)
    lsh = lsh_index(emb).persist()
    lsh.count()

    def materialize(df):
        # noop sink: full column materialization — count() would let
        # Catalyst prune the scoring computation away
        df.write.mode("overwrite").format("noop").save()
        return 1

    def suite_pass() -> dict[str, float]:
        """One full pass over the headline queries (min-of-2 reps each).
        Run twice (two in-process measurement windows minutes apart) and
        min-merged: single-window numbers on this shared host swing
        20-40% with neighbor steal time (r3's sense_assign '+55%
        regression' was exactly such a window)."""
        timings: dict[str, float] = {}

        def timed(name, fn, reps: int = 2):
            best = float("inf")
            n = None
            for _ in range(reps):
                t0 = time.monotonic()
                n = fn()
                best = min(best, time.monotonic() - t0)
            timings[name] = round(best, 3)
            return n

        # warm-up (codegen/JIT + python worker spawn) so the measured
        # number is steady-state throughput, not first-run compilation.
        # No persist inside the timed path — Spark's CacheManager
        # substitutes logically-identical plans, which would turn rep 2
        # into a cache read (and the pass-2 assignments cache below is
        # unpersisted between passes for the same reason).
        materialize(sense_assignments(pages, senses))
        timed(
            "sense_assign", lambda: materialize(sense_assignments(pages, senses))
        )
        # the prompted inference path (prompt build -> batched mapInPandas
        # scorer -> decode) gets its own headline row so a regression in
        # the scorer machinery or prompt construction is visible to BENCH;
        # python workers are already warm from the sense_assign reps.
        timed(
            "prompt_assign",
            lambda: materialize(sense_assignments_prompted(pages, senses)),
        )
        # cache the assignments only AFTER measurement, for the ER stage
        assignments = sense_assignments(pages, senses).persist()
        assignments.count()

        def run_er():
            # prune unlinkable mentions (guaranteed singletons), then the
            # ER job's one blocking stage (blocking.er_candidate_pairs)
            import pyspark.sql.functions as F

            # materialize the pruned projection ONCE: the blocking stage +
            # scorer below consume `a` many times (blocking branches, both
            # scorer sides, block counts), and each consumer would
            # otherwise re-scan the full 128-partition assignments cache
            # through the filter. One eager checkpoint (38k rows at sf0.1)
            # halves the cold er_cluster wall: 9.66s -> 4.29s measured,
            # evidence in BASELINE.md. localCheckpoint, not persist —
            # CacheManager would substitute a persist()ed plan into rep 2
            # and turn it into a cache read (the r4 bench artifact).
            a = assignments.filter(
                F.col("decision") != "no_definitions"
            ).select(
                "mention_id", "lemma", "pos", "norm_surface", "surface",
                "context_words", "pred_sense_id", "decision",
            ).localCheckpoint(eager=True)
            edges = score_mention_pairs(er_candidate_pairs(a, a), a)
            out = cluster_mentions(edges)  # returns a caller-owned cache
            n = out.count()
            out.unpersist(blocking=False)
            return n

        timed("er_cluster", run_er)
        timed(
            "dedup_minhash",
            lambda: minhash_near_duplicate_clusters(
                docs, "doc_id", "text", threshold=0.7
            ).count(),
        )
        timed(
            "ann_topk", lambda: brute_force_topk(emb, queries_vec, k=10).count()
        )
        # n_probe=8/32 lists; recall vs brute force is pytest-gated in
        # tests/test_similarity_textstats.py.
        timed(
            "ann_ivf",
            lambda: ivf_topk(
                emb, queries_vec, k=10, n_lists=32, n_probe=8, index=ivf
            ).count(),
        )
        # third ANN shape: multi-table hyperplane LSH probe against the
        # prebuilt persisted signature table (broadcast join + windowed
        # re-rank only).
        timed(
            "ann_lsh",
            lambda: lsh_topk(emb, queries_vec, k=10, index=lsh).count(),
        )
        timed(
            "text_profile", lambda: text_profile(docs, "doc_id", "text").count()
        )
        assignments.unpersist()
        return timings

    def _drop_rep_blocks():
        # free per-window intermediate cache blocks (cluster_mentions'
        # edge cache etc.) between windows — ContextCleaner only acts on
        # its 30-min periodic GC otherwise, and lingering blocks pressure
        # the block manager at the larger scale factors
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)

    try:
        from scripts._hoststat import bandwidth_probe, cpu_sample, steal_pct
    except Exception:  # standalone copy of bench.py without scripts/
        cpu_sample = lambda: (0, 0)  # noqa: E731
        steal_pct = lambda a, b: 0.0  # noqa: E731
        bandwidth_probe = lambda: 0.0  # noqa: E731

    windows = []
    window_steal = []
    window_bw = []
    for _ in range(2):
        # both host-noise axes, sampled OUTSIDE the timed span: steal%
        # (cpu contention) brackets the window; the ~2s DRAM copy probe
        # (bandwidth pressure — the axis steal% cannot see, and the one
        # the composite is actually bound by) runs just before it
        window_bw.append(bandwidth_probe())
        s0 = cpu_sample()
        windows.append(suite_pass())
        window_steal.append(steal_pct(s0, cpu_sample()))
        _drop_rep_blocks()
    timings = {
        q: min(w[q] for w in windows) for q in windows[0]
    }

    total = round(sum(timings.values()), 3)
    docs_per_sec = round(total_pages / timings["sense_assign"], 1)
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "windows": len(windows),
                "per_window": windows,
                "steal_pct_per_window": window_steal,
                "bw_gbps_per_window": window_bw,
                "sf": sf,
                "cpus": cpus,
                "pages": total_pages,
                "docs_per_sec": docs_per_sec,
            }
        )
    )


if __name__ == "__main__":
    main()
