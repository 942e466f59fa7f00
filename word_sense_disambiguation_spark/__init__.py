"""PySpark-native entity-resolution / word-sense-disambiguation engine.

A from-scratch Spark re-expression of the semantics of the reference
``sign/word-sense-disambiguation`` service (see SURVEY.md): pages become
mentions, each mention gets a sense (the columnar Lesk + cosine path or
the prompted 128-way path), and a three-stage record-linkage pipeline
resolves the mentions to entities —

1. **blocking**   — normalized (surface, POS) keys, pruned to the pairs the
   scorer can match,
2. **scoring**    — vectorized pairwise scoring of each block's pairs:
   sense agreement, Jaro-Winkler and context cosine (blocking and scoring
   are one keyed pass, ``operators.blocking.er_scored_edges``),
3. **clustering** — connected components per block (no edge crosses a
   block), canonical entity id = minimum member
   (``operators.clustering.block_clusters``),

with each stage committed by ``plans.checkpoint.run_er_pipeline`` so a
killed run resumes, and ``streaming.ingest`` attaching new crawl
increments to a frozen cluster snapshot. The corpus-analysis operators
(text statistics, quantiles, temporal joins, CDC, Z-order layout, media
headers) serve the driver-contract queries, not the pipeline.

Everything is DataFrame-first: built-in ``pyspark.sql.functions`` on the hot
path, Arrow-batched pandas UDFs only where Spark has no native operator.
"""

__version__ = "0.2.0"
