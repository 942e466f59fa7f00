"""Data-quality profiling and anti-entropy verification.

Two operational primitives every 100 TB pipeline runs constantly but
Spark has no named operator for:

* :func:`profile_columns` — per-column profile (rows, nulls, exact
  distincts, lexicographic min/max as strings) from ONE aggregation
  statement. Spark plans the multi-column distincts via its Expand
  rewrite (the audited sf0.01 plan: two parquet scans — one per
  distinct-vs-plain aggregate family — and partial-combined exchanges of
  1-row partials; no row ever reaches the driver). At 10^12 rows swap
  exact distincts for ``approx_count_distinct`` per column, same output
  shape. Output is long-form (one row per column, via one
  explode — never a per-column union, which would re-plan the aggregate
  subtree per column) so a new column never changes the schema of the
  profile table downstream jobs read.
* :func:`table_checksum` — ORDER-INSENSITIVE content fingerprint per
  group: sum of portable 60-bit md5 row hashes (BIGINT, wraps are fine —
  equality is what matters). Comparing checksums verifies a replicated /
  re-partitioned / migrated table WITHOUT moving or sorting it: the sum
  is commutative so ``local[1] == local[32] ==`` any cluster layout, and
  per-group rows make the comparison incremental (only mismatched groups
  re-sync — the Merkle-tree idea flattened one level). The same
  construction the engine's CC convergence checksum uses internally
  (``clustering.py:_checksum``), promoted to a public operator.

Both are pure codegen single-aggregation plans (map-side partial
combine); neither ever collects row data.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-form profile: (column, n, n_null, n_distinct, min_repr,
    max_repr) per named column, from one scan.

    min/max compare the STRING representation (portable across engines
    and column types; the profile is for drift detection, not
    arithmetic).
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, c in enumerate(cols):
        s = F.col(c).cast("string")
        aggs.extend(
            [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"_null_{i}"),
                F.countDistinct(F.col(c)).cast("long").alias(f"_dist_{i}"),
                F.min(s).alias(f"_min_{i}"),
                F.max(s).alias(f"_max_{i}"),
            ]
        )
    row = df.agg(*aggs)
    # ONE explode over a struct array, not a per-column union of selects:
    # a union re-plans (and re-scans) the aggregate subtree once per
    # column — the fan-out re-evaluation trap (incremental_er lesson).
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_null_{i}").alias("n_null"),
                F.col(f"_dist_{i}").alias("n_distinct"),
                F.col(f"_min_{i}").alias("min_repr"),
                F.col(f"_max_{i}").alias("max_repr"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return row.select(F.col("_n").alias("n"), F.explode(entries).alias("e")).select(
        F.col("e.column").alias("column"),
        "n",
        F.col("e.n_null").alias("n_null"),
        F.col("e.n_distinct").alias("n_distinct"),
        F.col("e.min_repr").alias("min_repr"),
        F.col("e.max_repr").alias("max_repr"),
    )


def _row_hash_sql(cols: list[str]) -> str:
    """Portable 60-bit md5 of the row's string image. NULLs are encoded
    as a sentinel distinct from any string value (concat_ws drops NULLs,
    which would collide ('a', NULL) with ('a', '') — so each field is
    coalesced to a tagged form first). Separator is chr(1), spelled as a
    function call on both engines — never a backslash escape in an
    F.expr string (the Java-vs-RE2 escape trap, CLAUDE.md). Restrict
    ``cols`` to string/integer columns: float/timestamp string images
    are not engine-portable.
    """
    fields = ", ".join(
        f"coalesce(concat('v', CAST({c} AS STRING)), 'n')" for c in cols
    )
    return (
        "CAST(conv(substr(md5(concat_ws(chr(1), "
        + fields
        + ")), 1, 15), 16, 10) AS BIGINT)"
    )


CHECKSUM_MOD = 1 << 62


def table_checksum(
    df: DataFrame, cols: list[str], group_cols: list[str] | None = None
) -> DataFrame:
    """(group..., n, checksum): per-row portable hashes summed in
    DECIMAL(38,0) (ANSI-safe — a BIGINT sum of 60-bit hashes overflows
    after ~8 rows and Spark 4 ANSI mode would throw), folded to
    ``mod 2**62`` BIGINT.

    Equal content <=> equal (n, checksum) per group, independent of row
    order, partitioning, or engine — the replication-verification
    primitive. The oracle replays via DuckDB's HUGEINT sum with the same
    mod.
    """
    h = F.expr(_row_hash_sql(cols)).cast("decimal(38,0)")
    gb = df.groupBy(*(group_cols or []))
    return gb.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum(h) % F.lit(CHECKSUM_MOD).cast("decimal(38,0)"))
        .cast("long")
        .alias("checksum"),
    )


def referential_integrity_audit(
    relations: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Foreign-key integrity audit across a star/snowflake layout: for
    each named relation ``(name, child, fk_col, parent, pk_col)``, one
    row ``(relation, n_child, n_null_fk, n_orphan, n_orphan_keys)`` —
    the third standing data-quality primitive next to
    :func:`profile_columns` (shape drift) and :func:`checksum_diff`
    (replica drift): does every fact row still land on a dimension row
    after an ingest / partial dimension snapshot / late-arriving-facts
    window. All counts BIGINT; integrity semantics are
    NULL-FK-is-not-an-orphan (SQL FK convention — NULLs are reported in
    their own column, never silently folded into either side).

    Scale shape per relation: the child is contracted to ``(fk, cnt)``
    by ONE map-side-combined aggregate — the only shuffle that sees
    fact-table cardinality, and a hot key (the dimension row every
    crawl page points at) combines map-side; the parent is contracted
    to distinct keys (dimension-cardinality, broadcastable when small —
    AQE picks it up from the post-aggregate size); the verdict is one
    left join between the two CONTRACTED tables plus a single-row
    aggregate. Raw fact rows never enter a join. Relations are a small
    audit list, so the final union of 1-row results is driver-trivial.
    """
    outs = []
    for name, child, fk_col, parent, pk_col in relations:
        keyed = child.groupBy(F.col(fk_col).alias("_fk")).agg(
            F.count(F.lit(1)).cast("long").alias("_cnt")
        )
        pkeys = parent.select(F.col(pk_col).alias("_pk")).filter(
            F.col("_pk").isNotNull()
        ).distinct()
        j = keyed.join(pkeys, keyed["_fk"] == pkeys["_pk"], how="left")
        fk_null = F.col("_fk").isNull()
        orphan = F.col("_fk").isNotNull() & F.col("_pk").isNull()
        outs.append(
            j.agg(
                F.coalesce(
                    F.sum(F.when(~fk_null, F.col("_cnt"))), F.lit(0)
                ).cast("long").alias("n_child"),
                F.coalesce(
                    F.sum(F.when(fk_null, F.col("_cnt"))), F.lit(0)
                ).cast("long").alias("n_null_fk"),
                F.coalesce(
                    F.sum(F.when(orphan, F.col("_cnt"))), F.lit(0)
                ).cast("long").alias("n_orphan"),
                F.sum(F.when(orphan, 1).otherwise(0))
                .cast("long")
                .alias("n_orphan_keys"),
            ).select(F.lit(name).alias("relation"), "*")
        )
    return reduce(DataFrame.unionByName, outs)


def deletion_impact(
    seeds: DataFrame,
    seed_col: str,
    chain: list[tuple[str, DataFrame, str, str | None]],
) -> DataFrame:
    """Cascade-deletion impact audit (GDPR/erasure planning): given a
    seed key set, walk an FK chain ``(table_name, df, fk_col,
    next_key_col | None)`` and report, per table, how many rows an
    erasure would touch and through how many distinct keys — the
    INVERSE of :func:`referential_integrity_audit` (that one asks "do
    children point at real parents", this one asks "what do these
    parents drag along"). Each stage's affected ``next_key_col`` values
    become the key set for the following stage (orders hit via
    customer seeds feed the lineitem stage by orderkey).

    Output: ``(table_name, step, n_rows_affected, n_matched_keys)``,
    ``step`` 1-based along the chain; all counts BIGINT, NULL FKs never
    match (SQL semantics).

    Scale shape: each fact table contracts ONCE to ``(fk[, next_key],
    cnt)`` via a map-side-combined groupBy — the only shuffle seeing
    fact cardinality; the seed probe is a left-semi join against the
    contracted table (seed side dimension-sized, AQE broadcasts); the
    contracted hit table is eagerly localCheckpointed because it has
    TWO consumers (its own count row and the next stage's key set) and
    the next stage's semi-join would otherwise re-derive the whole
    upstream DAG per consumer (the attach_mentions multi-consumer
    rule). Chains are short audit lists; the 1-row-per-table union is
    driver-trivial.
    """
    cur = (
        seeds.filter(F.col(seed_col).isNotNull())
        .select(F.col(seed_col).alias("_k"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outs = []
    for step, (name, df, fk_col, next_col) in enumerate(chain, start=1):
        group_cols = [F.col(fk_col).alias("_fk")]
        if next_col:
            group_cols.append(F.col(next_col).alias("_n"))
        keyed = (
            df.filter(F.col(fk_col).isNotNull())
            .groupBy(*group_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
        )
        hit = keyed.join(
            cur, keyed["_fk"] == cur["_k"], how="left_semi"
        ).localCheckpoint(eager=True)
        outs.append(
            hit.agg(
                F.coalesce(F.sum("_cnt"), F.lit(0))
                .cast("long")
                .alias("n_rows_affected"),
                F.countDistinct("_fk").cast("long").alias("n_matched_keys"),
            ).select(
                F.lit(name).alias("table_name"),
                F.lit(step).cast("int").alias("step"),
                "n_rows_affected",
                "n_matched_keys",
            )
        )
        if next_col:
            cur = (
                hit.select(F.col("_n").alias("_k"))
                .filter(F.col("_k").isNotNull())
                .distinct()
                .localCheckpoint(eager=True)
            )
    return reduce(DataFrame.unionByName, outs)


def distribution_drift(
    left: DataFrame,
    right: DataFrame,
    cat_col: str,
    slice_cols: list[str] | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Categorical distribution drift between two snapshots, per slice:
    the total-variation distance ``TV = (1/2) * sum_i |p_i - q_i|`` in
    EXACT scaled-integer arithmetic — the DISTRIBUTIONAL monitor next to
    :func:`checksum_diff`'s content-equality view (a re-crawl whose
    language mix shifted 30% has near-zero row overlap AND a drifted
    distribution; checksum_diff flags the first, this flags the second,
    and only the second tells you the new corpus is differently shaped).

    Semantics (the operator's defined recurrence, not a float
    approximation): per category, each side's probability is the floored
    scaled fraction ``(cnt * scale) DIV n_side`` (the b_cubed_metrics
    discipline — a sum of per-category IEEE quotients would depend on
    aggregation order); deviations are BIGINT, summed as DECIMAL(38,0),
    and ``tv_scaled = sum DIV 2``. Truncation error is < n_categories /
    scale of the real-valued TV — size ``scale`` to the category
    alphabet. A slice empty on either side reports ``tv_scaled`` NULL
    (drift from "nothing" is undefined — explicit CASE, never a
    divide-by-zero crash under ANSI). Overflow bound: ``cnt * scale <
    2^63`` — cells to ~9.2e9 rows at the default scale, lower it beyond.

    Scale shape: each snapshot contracts to (slice, category, count)
    via ONE map-side-combined groupBy — the only shuffles that see
    input cardinality; the full-outer category join, the per-slice
    totals re-aggregation (AQE ReusedExchange), and the final per-slice
    fold all run on alphabet-sized data. No window, no raw-row join.

    Slice keys must be non-null: the full-outer join pairs slices by
    SQL equality, so a NULL slice on one side would never meet its
    counterpart (it would split into two one-sided rows) — coalesce
    slice keys before calling (NULL categories are simply excluded,
    both sides).
    """
    slice_cols = list(slice_cols or [])
    scale = int(scale)

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.filter(F.col(cat_col).isNotNull()).groupBy(
            *slice_cols, F.col(cat_col).alias("_cat")
        ).agg(F.count(F.lit(1)).cast("long").alias(f"_c{tag}"))

    l, r = side(left, "l"), side(right, "r")
    cells = (
        l.join(r, on=slice_cols + ["_cat"], how="full_outer")
        .withColumn("_cl", F.coalesce(F.col("_cl"), F.lit(0).cast("long")))
        .withColumn("_cr", F.coalesce(F.col("_cr"), F.lit(0).cast("long")))
    )
    totals = cells.groupBy(*slice_cols).agg(
        F.sum("_cl").cast("long").alias("_nl"),
        F.sum("_cr").cast("long").alias("_nr"),
    )
    j = cells.join(totals, on=slice_cols) if slice_cols else (
        cells.crossJoin(F.broadcast(totals))
    )
    dev = F.expr(
        f"abs(CASE WHEN _nl = 0 THEN 0L ELSE (_cl * {scale}L) DIV _nl END"
        f" - CASE WHEN _nr = 0 THEN 0L ELSE (_cr * {scale}L) DIV _nr END)"
    ).cast("decimal(38,0)")
    summed = j.groupBy(*slice_cols).agg(
        F.max("_nl").cast("long").alias("n_left"),
        F.max("_nr").cast("long").alias("n_right"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.sum(dev).alias("_sumdev"),
    )
    return summed.select(
        *slice_cols,
        "n_left",
        "n_right",
        "n_categories",
        F.when(
            (F.col("n_left") == 0) | (F.col("n_right") == 0),
            F.lit(None).cast("long"),
        )
        .otherwise(F.expr("CAST(_sumdev DIV 2 AS BIGINT)"))
        .alias("tv_scaled"),
    )


def checksum_diff(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    cols: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Merkle-style anti-entropy diff of two table snapshots WITHOUT
    moving rows: bucket each side by a portable hash of the KEY columns,
    checksum each bucket's CONTENT columns, and report per-bucket status
    — the primitive that localizes which 1/n_buckets key range of a
    replicated / migrated 100 TB table needs re-sync, at the cost of two
    aggregation scans and one n_buckets-row join.

    Bucketing is by KEY hash (not row hash) so a changed row stays in
    its bucket and shows as ONE ``mismatch``, never a phantom
    delete+insert pair. Buckets with no rows on one side report
    ``left_only`` / ``right_only``; ``n_buckets`` output rows at most —
    the comparison join is trivially broadcastable.

    Output: ``(bucket, left_n, right_n, left_checksum, right_checksum,
    status)`` with status in {equal, mismatch, left_only, right_only}.
    """
    key_hash = F.expr(_row_hash_sql(key_cols))
    bucket = F.pmod(key_hash, F.lit(n_buckets)).cast("long").alias("bucket")

    def side(df: DataFrame, prefix: str) -> DataFrame:
        # keys ride inside the row hash too: a content swap between two
        # keys of one bucket must not cancel out
        cs = table_checksum(df.withColumn("bucket", bucket),
                            key_cols + cols, group_cols=["bucket"])
        return cs.select(
            "bucket",
            F.col("n").alias(f"{prefix}_n"),
            F.col("checksum").alias(f"{prefix}_checksum"),
        )

    l, r = side(left, "left"), side(right, "right")
    j = l.join(r, on="bucket", how="full_outer")
    status = (
        F.when(F.col("left_n").isNull(), F.lit("right_only"))
        .when(F.col("right_n").isNull(), F.lit("left_only"))
        .when(
            (F.col("left_n") == F.col("right_n"))
            & (F.col("left_checksum") == F.col("right_checksum")),
            F.lit("equal"),
        )
        .otherwise(F.lit("mismatch"))
    )
    return j.select(
        "bucket", "left_n", "right_n", "left_checksum", "right_checksum",
        status.alias("status"),
    )
