"""spark-submit entry point for the checkpointed ER pipeline.

Cluster launch (the north rule's deployment shape):

    spark-submit --master <cluster> \
        --py-files wsd_spark.zip \
        scripts/run_pipeline.py \
        --pages <iceberg/parquet pages dir> \
        --senses <inventory dir> \
        --run-dir <checkpoint root> --run-id run1

Local smoke: same command with --master local[4]. The script only parses
args and calls :func:`run_er_pipeline`; all physics (AQE, Arrow, shuffle
partitions) comes from the shared session factory, overridable with
``--conf`` at submit time.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet dir")
    ap.add_argument("--senses", required=True, help="senses parquet dir")
    ap.add_argument("--run-dir", required=True, help="checkpoint/output root")
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--max-block-size", type=int, default=256)
    ap.add_argument("--use-html", action="store_true")
    args = ap.parse_args()

    from word_sense_disambiguation_spark.plans.checkpoint import run_er_pipeline
    from word_sense_disambiguation_spark.session import get_spark

    spark = get_spark(app_name=f"wsd_er_{args.run_id}")
    pages = spark.read.parquet(args.pages)
    senses = spark.read.parquet(args.senses)
    out = run_er_pipeline(
        spark,
        pages,
        senses,
        run_dir=args.run_dir,
        run_id=args.run_id,
        max_block_size=args.max_block_size,
        use_html=args.use_html,
    )
    summary = {
        name: out[name].count()
        for name in ("mentions", "assignments", "edges", "clusters")
    }
    print(json.dumps({"run_id": args.run_id, "rows": summary}))
    spark.stop()


if __name__ == "__main__":
    main()
