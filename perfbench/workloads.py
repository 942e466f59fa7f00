"""The benchmark's workloads: seeded inputs, the measured operation, its
correctness checks, and a traced re-composition of the same operation.

Every input comes from ``--seed``. ``build_world(seed=...)`` supplies the
pages, the sense inventory and the gold rows; disjoint page-index slices of
one world feed the job and the increment, so ``mention_id``s stay globally
unique and near-duplicates of job pages really attach. The crawl documents
mixed into ``wsd_prompted`` are generated here with the shape of the sf0.1
``documents`` table (30-word vocabulary, 10-100 words per document, five
language labels, twenty sources), because the benchmark may read nothing
outside its checkout. Gold rows are restricted to the pages a job
processes; gold of unprocessed pages would enter the evaluation join as
misses.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from word_sense_disambiguation_spark.datagen import (
    GOLD_SCHEMA,
    PAGES_SCHEMA,
    SENSES_SCHEMA,
    build_world,
)
from word_sense_disambiguation_spark.operators.blocking import (
    oversized_star_pairs,
    surface_key_pairs,
)
from word_sense_disambiguation_spark.operators.candidates import (
    candidates_for_mentions,
    prepare_senses,
)
from word_sense_disambiguation_spark.operators.clustering import cluster_mentions
from word_sense_disambiguation_spark.operators.evaluation import accuracy, pairwise_f1
from word_sense_disambiguation_spark.operators.incremental_er import (
    attach_mentions_to_clusters,
)
from word_sense_disambiguation_spark.operators.mlm_scorer import (
    decode_probabilities,
    score_prompts,
)
from word_sense_disambiguation_spark.operators.pairs import score_mention_pairs
from word_sense_disambiguation_spark.operators.profiling import table_checksum
from word_sense_disambiguation_spark.operators.prompts import build_prompts
from word_sense_disambiguation_spark.operators.scoring import (
    assign_senses,
    score_candidates,
)
from word_sense_disambiguation_spark.operators.tokenize import mentions_from_pages_sql
from word_sense_disambiguation_spark.plans.checkpoint import StageRunner, run_er_pipeline
from word_sense_disambiguation_spark.plans.pipeline import sense_assignments_prompted
from word_sense_disambiguation_spark.sources.pages import pages_from_documents
from word_sense_disambiguation_spark.streaming.ingest import stream_attach_to_clusters

ER_PAGES = 200  # world pages per er_batch job
WARMUP_PAGES = 20  # pages of the er_batch warm-up job
INCREMENT_PAGES = 50  # world pages in the traced attach increment
WSD_WORLD_PAGES = 1000  # world pages per wsd_prompted job
WSD_DOCUMENTS = 500  # crawl documents per wsd_prompted job
WSD_WARM_JOBS = 3  # unchecked warm-up jobs after the checked one
MAX_BLOCK_SIZE = 256  # run_er_pipeline's default
DECISIONS = {"assigned", "nota", "no_definitions"}
ER_STAGES = ("mentions", "assignments", "pairs", "edges", "clusters")

_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DOC_LANGS = ["en", "zh", "es", "fr", "de"]
_DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


class CheckFailed(Exception):
    """An output of the program is wrong."""


def documents(seed: int, n: int) -> pd.DataFrame:
    """Crawl documents in the shape of the sf0.1 ``documents`` table."""
    rng = np.random.default_rng([seed, 0xD0C5])
    n_words = rng.integers(10, 101, size=n)
    words = np.asarray(_DOC_VOCAB)
    text = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in n_words]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": rng.choice(_DOC_LANGS, size=n, p=_DOC_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.asarray([len(t) for t in text], dtype=np.int64),
        }
    )


def _stage(spark: SparkSession, df: pd.DataFrame, ddl: str | None, path: str,
           parts: int = 1) -> DataFrame:
    """Write a generated table (schema ``ddl``, or inferred) as ``parts``
    parquet files, the shape of a multi-file crawl table, and open it with
    Spark. No Spark job runs until the table is read."""
    os.makedirs(path, exist_ok=True)
    schema = to_arrow_schema(StructType.fromDDL(ddl)) if ddl else None
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    step = -(-len(df) // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return spark.read.parquet(path)


def _checksum(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    row = table_checksum(df, cols).collect()[0]
    return int(row["n"]), int(row["checksum"])


def _quality(assignments: DataFrame, gold: DataFrame) -> dict[str, float]:
    return {
        "sense_accuracy": float(accuracy(assignments, gold).collect()[0]["accuracy"]),
        "sense_pair_f1": float(pairwise_f1(assignments, gold).collect()[0]["f1"]),
    }


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Workload:
    """One workload: ``stage`` builds the inputs, ``warmup`` runs the
    set-up's warm-up work, ``op`` is the measured operation (``check``
    verifies what it returns), and ``traced_op`` re-composes ``op`` from the
    layers' public functions inside spans."""

    name = ""
    pages_per_op = 0

    def __init__(self, spark: SparkSession, seed: int, cores: int):
        self.spark = spark
        self.seed = seed
        self.cores = cores

    def traced_increment(self, tr, work: str) -> None:
        """Only ``er_batch`` traces an increment after its jobs."""


class ErBatch(Workload):
    """The checkpointed three-stage ER job ``run_er_pipeline`` on world
    pages, each job into a fresh ``run_dir``."""

    name = "er_batch"
    pages_per_op = ER_PAGES

    def stage(self, path: str) -> None:
        world = build_world(n_pages=ER_PAGES + INCREMENT_PAGES, seed=self.seed)
        pages = world["pages"]
        job_urls = set(pages["url"].iloc[:ER_PAGES])
        gold = world["gold_pairs"]
        sp = self.spark
        self.pages = _stage(
            sp, pages.iloc[:ER_PAGES], PAGES_SCHEMA, os.path.join(path, "pages"), 2 * self.cores
        )
        self.warmup_pages = _stage(
            sp, pages.iloc[:WARMUP_PAGES], PAGES_SCHEMA, os.path.join(path, "warmup")
        )
        self.increment = pages.iloc[ER_PAGES:]
        self.senses = _stage(sp, world["senses"], SENSES_SCHEMA, os.path.join(path, "senses"))
        self.gold = _stage(
            sp, gold[gold["url"].isin(job_urls)], GOLD_SCHEMA, os.path.join(path, "gold")
        )
        self.reference: dict | None = None

    def op(self, run_dir: str) -> dict:
        return run_er_pipeline(self.spark, self.pages, self.senses, run_dir)

    def check(self, out: dict) -> None:
        clusters = out["clusters"]
        got = {
            "clusters": _checksum(clusters, ["mention_id", "entity_id"]),
            "assignments": _checksum(
                out["assignments"], ["mention_id", "decision", "pred_sense_id"]
            ),
        }
        if self.reference is None:
            n_ids = clusters.select("mention_id").distinct().count()
            _expect(n_ids == got["clusters"][0], "er_batch: a mention has two cluster rows")
            orphans = clusters.join(out["mentions"], "mention_id", "left_anti").count()
            _expect(orphans == 0, "er_batch: cluster row for an unknown mention")
            self.reference = got
            self.quality = _quality(out["assignments"], self.gold)
        _expect(got == self.reference, f"er_batch: checksums differ across jobs: {got} != {self.reference}")

    def warmup(self, run_dir: str) -> None:
        """One job over the first ``WARMUP_PAGES`` pages: it compiles the
        same plans as a full job at a fraction of its cost. The measured
        jobs' outputs are the ones checked."""
        run_er_pipeline(self.spark, self.warmup_pages, self.senses, run_dir)

    def traced_op(self, tr, index: int, run_dir: str) -> None:
        """``run_er_pipeline`` stage by stage, each layer and each commit in
        its own span."""
        sp = self.spark
        r = StageRunner(sp, run_dir, "traced")
        with tr.op("job", index) as root:
            with tr.span("tokenize"):
                m = mentions_from_pages_sql(self.pages).localCheckpoint(eager=True)
            with tr.span("checkpoint.mentions"):
                mentions = r.stage_partitioned("mentions", lambda: m, bucket_col="url")
            with tr.span("candidates"):
                cands = candidates_for_mentions(mentions, self.senses).localCheckpoint(eager=True)
            with tr.span("scoring"):
                scored = assign_senses(score_candidates(cands)).localCheckpoint(eager=True)
            with tr.span("checkpoint.assignments"):
                assignments = r.stage("assignments", lambda: scored)
            with tr.span("blocking"):
                small, oversized = surface_key_pairs(mentions, max_block_size=MAX_BLOCK_SIZE)
                recovered = oversized_star_pairs(mentions, oversized, assignments)
                blocked = (
                    small.select("id_a", "id_b").unionByName(recovered).distinct()
                    .localCheckpoint(eager=True)
                )
            with tr.span("checkpoint.pairs"):
                pairs = r.stage("pairs", lambda: blocked)
            with tr.span("pairs"):
                scored_pairs = score_mention_pairs(pairs, assignments).localCheckpoint(eager=True)
            with tr.span("checkpoint.edges"):
                edges = r.stage("edges", lambda: scored_pairs)
            with tr.span("clustering"):
                clustered = cluster_mentions(edges)  # returned materialized
            with tr.span("checkpoint.clusters"):
                clusters = r.stage("clusters", lambda: clustered)

        # layer counters, outside every span
        n_mentions = m.count()
        decisions = {r_["decision"]: r_["count"] for r_ in scored.groupBy("decision").count().collect()}
        n_scored = scored_pairs.count()
        n_edges = scored_pairs.filter("is_match").count()
        sizes = clusters.groupBy("entity_id").count()
        hits = cands.filter(F.col("sense_id").isNotNull()).select("mention_id").distinct().count()
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(run_dir) for f in fs
        )
        for k, v in {
            "tokenize.pages": ER_PAGES,
            "tokenize.mentions": n_mentions,
            "candidates.rows": cands.count(),
            "candidates.hit_ratio": hits / max(n_mentions, 1),
            "scoring.assigned": decisions.get("assigned", 0),
            "scoring.nota": decisions.get("nota", 0),
            "scoring.no_definitions": decisions.get("no_definitions", 0),
            "blocking.pairs": blocked.count(),
            "blocking.oversized_blocks": oversized.count(),
            "pairs.scored": n_scored,
            "pairs.edges": n_edges,
            "pairs.edge_yield": n_edges / max(n_scored, 1),
            "clustering.edges_in": n_edges,
            "clustering.clusters": sizes.count(),
            "clustering.max_cluster": sizes.agg(F.max("count")).collect()[0][0] or 0,
            "checkpoint.bytes_written": written,
            "checkpoint.bytes_per_page": written / ER_PAGES,
        }.items():
            tr.count(root["op"], k, v)
        self.check({"clusters": clusters, "assignments": assignments, "mentions": mentions})
        self.base = (assignments, clusters)
        clustered.unpersist()

    def traced_increment(self, tr, work: str) -> None:
        """One crawl increment (the next world pages after the job's)
        resolved against the last traced job's frozen clusters through the
        streaming attach; then the same increment through the inner layers
        directly, each in its own span. The stream's rows must equal the
        direct ``attach_mentions_to_clusters`` rows."""
        sp = self.spark
        base_a, base_c = self.base
        pages_dir = os.path.join(work, "increment", "pages")
        out_dir = os.path.join(work, "increment", "out")
        inc_pages = _stage(sp, self.increment, PAGES_SCHEMA, pages_dir)
        with tr.op("increment", 0) as root:
            with tr.span("ingest") as ingest:
                written = stream_attach_to_clusters(
                    sp, pages_dir, self.senses, base_a, base_c, out_dir,
                    os.path.join(work, "increment", "checkpoint"),
                )
            with tr.span("tokenize") as s_tok:
                m = mentions_from_pages_sql(inc_pages).localCheckpoint(eager=True)
            with tr.span("candidates") as s_cand:
                cands = candidates_for_mentions(m, self.senses).localCheckpoint(eager=True)
            with tr.span("scoring") as s_score:
                a = assign_senses(score_candidates(cands)).localCheckpoint(eager=True)
            with tr.span("incremental_er") as s_inc:
                resolved, oversized = attach_mentions_to_clusters(a, base_a, base_c)
                resolved = resolved.localCheckpoint(eager=True)

        inner = sum(s["end"] - s["start"] for s in (s_tok, s_cand, s_score, s_inc))
        n_inc = m.count()
        keys = a.select("norm_surface", "pos").distinct()
        n_base = base_a.count()
        kept = base_a.join(F.broadcast(keys), ["norm_surface", "pos"], "left_semi").count()
        attached = resolved.filter(F.col("attach_source") == "attached").count()
        for k, v in {
            "ingest.overhead_s": (ingest["end"] - ingest["start"]) - inner,
            "ingest.rows_written": written,
            "incremental_er.base_rows_pruned": kept / max(n_base, 1),
            "incremental_er.attach_ratio": attached / max(n_inc, 1),
            "incremental_er.oversized_keys": oversized.count(),
        }.items():
            tr.count(root["op"], k, v)

        cols = ["mention_id", "entity_id", "attach_source", "best_score"]
        streamed = _checksum(sp.read.parquet(out_dir), cols)
        direct = _checksum(resolved, cols)
        _expect(written == n_inc, f"attach: {written} resolved rows for {n_inc} increment mentions")
        _expect(streamed == direct, f"attach: streamed rows {streamed} != direct attach {direct}")


class WsdPrompted(Workload):
    """The prompted inference path ``sense_assignments_prompted`` (prompt ->
    128-way scorer -> decode) into the noop sink, over crawl documents
    mixed with world pages."""

    name = "wsd_prompted"
    pages_per_op = WSD_WORLD_PAGES + WSD_DOCUMENTS

    def stage(self, path: str) -> None:
        world = build_world(n_pages=WSD_WORLD_PAGES, seed=self.seed)
        sp = self.spark
        self.docs = _stage(sp, documents(self.seed, WSD_DOCUMENTS), None,
                           os.path.join(path, "documents"))
        self.world_pages = _stage(sp, world["pages"], PAGES_SCHEMA, os.path.join(path, "world"))
        self.senses = _stage(sp, world["senses"], SENSES_SCHEMA, os.path.join(path, "senses"))
        self.gold = _stage(sp, world["gold_pairs"], GOLD_SCHEMA, os.path.join(path, "gold"))
        self.reference: tuple | None = None

    def op(self, run_dir: str) -> None:
        """Into the noop sink, which keeps no rows: the rows are checked on
        the warm-up job's materialized output, and every traced job must
        reproduce them."""
        sense_assignments_prompted(self.pages, self.senses).write.mode(
            "overwrite"
        ).format("noop").save()

    def _check_rows(self, out: DataFrame) -> tuple[int, int]:
        got = _checksum(out, ["mention_id", "decision", "pred_sense_id", "confidence"])
        if self.reference is None:
            n_mentions = mentions_from_pages_sql(self.pages).count()
            n_ids = out.select("mention_id").distinct().count()
            _expect(got[0] == n_mentions == n_ids, f"wsd_prompted: {got[0]} rows, {n_ids} ids, {n_mentions} mentions")
            bad = out.filter(~F.col("decision").isin(*DECISIONS)).count()
            _expect(bad == 0, f"wsd_prompted: {bad} rows with an unknown decision")
            self.reference = got
            self.quality = _quality(out, self.gold)
        _expect(got == self.reference, f"wsd_prompted: checksum {got} != {self.reference}")
        return got

    def warmup(self, run_dir: str) -> None:
        """Lift the documents to pages and stage them with the world pages
        (once: it is the set-up's only Spark job), then run a checked job and
        ``WSD_WARM_JOBS`` more: job time keeps falling over the first jobs
        of a fresh JVM."""
        mixed = os.path.join(run_dir, "pages")
        pages_from_documents(self.docs).unionByName(self.world_pages).repartition(
            2 * self.cores
        ).write.parquet(mixed)
        self.pages = self.spark.read.parquet(mixed)
        self._check_rows(
            sense_assignments_prompted(self.pages, self.senses).localCheckpoint(eager=True)
        )
        for _ in range(WSD_WARM_JOBS):
            self.op(run_dir)

    def traced_op(self, tr, index: int, run_dir: str) -> None:
        """``sense_assignments_prompted`` layer by layer."""
        with tr.op("job", index) as root:
            with tr.span("tokenize"):
                mentions = (
                    mentions_from_pages_sql(self.pages)
                    .select("url", "mention_id", "position", "surface", "lemma", "pos", "context_words")
                    .localCheckpoint(eager=True)
                )
            with tr.span("candidates"):
                dim = prepare_senses(self.senses)
                key = (mentions["lemma"] == dim["s_lemma"]) & (mentions["pos"] == dim["join_pos"])
                matched = mentions.join(F.broadcast(dim), key, "inner").drop("s_lemma", "join_pos")
                grouped = (
                    matched.groupBy("url", "mention_id", "position", "surface", "lemma", "pos", "context_words")
                    .agg(F.array_sort(F.collect_list(
                        F.struct("sense_rank", "sense_id", "sense_definition"))).alias("cands"))
                    .withColumn("definitions", F.transform("cands", lambda c: c["sense_definition"]))
                    .withColumn("sense_ids", F.transform("cands", lambda c: c["sense_id"]))
                    .withColumn("n_defs", F.size("definitions"))
                    .withColumn("marked_sentence", F.concat(
                        F.lit("*"), F.col("surface"), F.lit("* "), F.concat_ws(" ", "context_words")))
                    .drop("cands")
                    .localCheckpoint(eager=True)
                )
            with tr.span("prompts"):
                prompted = build_prompts(grouped, word_col="surface").localCheckpoint(eager=True)
            with tr.span("mlm_scorer") as s_mlm:
                decoded = decode_probabilities(
                    score_prompts(prompted.drop("context_words", "definitions", "marked_sentence")),
                    n_defs_col="n_defs",
                ).localCheckpoint(eager=True)
            with tr.span("scoring"):
                from_scorer = decoded.select(
                    "url", "mention_id", "position", "surface", "lemma", "pos",
                    F.when(F.col("is_nota_pred"), F.lit("nota")).otherwise(F.lit("assigned")).alias("decision"),
                    F.when(~F.col("is_nota_pred"),
                           F.element_at(F.col("sense_ids"), F.col("choice_index") + 1)).alias("pred_sense_id"),
                    "confidence",
                )
                no_defs = mentions.join(
                    F.broadcast(dim.select("s_lemma", "join_pos")), key, "left_anti"
                ).select(
                    "url", "mention_id", "position", "surface", "lemma", "pos",
                    F.lit("no_definitions").alias("decision"),
                    F.lit(None).cast("string").alias("pred_sense_id"),
                    F.lit(0.0).alias("confidence"),
                )
                out = from_scorer.unionByName(no_defs).localCheckpoint(eager=True)

        n_mentions = mentions.count()
        n_grouped = grouped.count()
        built = prompted.filter(F.col("prompt").isNotNull()).count()
        decisions = {r["decision"]: r["count"] for r in out.groupBy("decision").count().collect()}
        for k, v in {
            "tokenize.pages": self.pages_per_op,
            "tokenize.mentions": n_mentions,
            "candidates.rows": matched.count(),
            "candidates.hit_ratio": n_grouped / max(n_mentions, 1),
            "prompts.built": built,
            "prompts.null": n_grouped - built,
            "mlm_scorer.prompts_per_s": n_grouped / max(s_mlm["end"] - s_mlm["start"], 1e-9),
            "scoring.assigned": decisions.get("assigned", 0),
            "scoring.nota": decisions.get("nota", 0),
            "scoring.no_definitions": decisions.get("no_definitions", 0),
        }.items():
            tr.count(root["op"], k, v)
        self._check_rows(out)


WORKLOADS = {w.name: w for w in (ErBatch, WsdPrompted)}
