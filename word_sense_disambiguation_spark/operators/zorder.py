"""Z-order (Morton) data layout: interleave the bits of several scan
dimensions into one sort/cluster key so parquet min/max pruning works on
ALL of them at once.

The 100 TB problem: a crawl table laid out by ``warc_ts`` alone answers
time-range scans with tight file skipping but host-targeted scans read
everything (every file spans every host), and vice versa. Writing files
in Z-value order bounds EVERY dimension's min/max span per file — the
standard lakehouse layout trick (Delta ``OPTIMIZE ZORDER BY``, Iceberg
``sort_order`` with a z transform; public technique, Morton 1966).

What this module provides, all pure codegen (no UDF, no shuffle for the
key itself):

* :func:`zorder_sql` / :func:`zorder_key_col` — the interleaved key of C
  already-integer dimension expressions at ``bits`` bits each, as ONE SQL
  template rendered for either engine (Spark ``shiftleft/shiftright``
  functions vs DuckDB ``<<``/``>>`` operators, the only dialect
  knob). Dimensions must be rank-like
  non-negative ints; :func:`minmax_rank_exprs` builds such ranks from raw
  numeric columns with two collected literals per column (bounded driver
  work, same class as the IVF centroid pull).
* :func:`zorder_chunk_stats` — the SKIPPING EVIDENCE: partition the key
  space into ``n_chunks`` equal Z-ranges (``z div width`` — pure
  arithmetic, NO global sort and NO single-task row_number window; a
  write path would instead ``repartitionByRange(z)`` which samples
  rather than sorts globally) and report each chunk's per-dimension
  min/max span. Z-ordered chunks have spans ~``range/side``, a
  single-dimension layout has full-range spans on every other dimension
  — the difference IS the files a scan skips.

Determinism: the key is a bijective bit shuffle of its inputs — no
hashing, no sampling; integer-exact in any engine (totals capped at 62
bits so BIGINT arithmetic never overflows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_TOTAL_BITS = 62


def _shl(x: str, n: int, dialect: str) -> str:
    return f"({x} << {n})" if dialect == "duckdb" else f"shiftleft({x}, {n})"


def _shr(x: str, n: int, dialect: str) -> str:
    return f"({x} >> {n})" if dialect == "duckdb" else f"shiftright({x}, {n})"


def zorder_sql(col_exprs: list[str], bits: int, dialect: str = "spark") -> str:
    """Morton-interleaved key of ``col_exprs`` (each a non-negative
    integer expression < 2**bits) as one SQL string.

    Bit b of dimension c lands at position ``b*C + c`` — dimension 0
    owns the least-significant lane. The expansion is ``bits*C`` add
    terms of ``((x >> b) & 1) << (b*C + c)``; whole-stage codegen folds
    this into straight-line long arithmetic.
    """
    c_count = len(col_exprs)
    if c_count < 2:
        raise ValueError("z-ordering needs at least 2 dimensions")
    if bits * c_count > MAX_TOTAL_BITS:
        raise ValueError(
            f"bits*dims = {bits * c_count} exceeds {MAX_TOTAL_BITS} "
            "(BIGINT key contract)"
        )
    terms = []
    for ci, x in enumerate(col_exprs):
        xl = f"CAST(({x}) AS BIGINT)"
        for b in range(bits):
            bit = f"({_shr(xl, b, dialect)} & 1)"
            terms.append(_shl(bit, b * c_count + ci, dialect))
    return "(" + " + ".join(terms) + ")"


def zorder_key_col(col_exprs: list[str], bits: int) -> Column:
    """The Z key as a Spark Column (pure codegen)."""
    return F.expr(zorder_sql(col_exprs, bits, "spark"))


def minmax_rank_exprs(
    df: DataFrame, cols: list[str], bits: int
) -> list[str]:
    """Scale each raw numeric column to an integer rank in [0, 2**bits)
    by its global min/max: ``(x - min) * (2**bits - 1) div (max - min)``.

    One tiny aggregate job collects 2 literals per column (bounded —
    never row data); constant columns rank 0. Integer-exact: the scale
    is computed in BIGINT ``div`` arithmetic, replayable verbatim in the
    oracle with the same two literals.
    """
    row = df.select(
        *[F.min(F.col(c).cast("long")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("long")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    out = []
    top = (1 << bits) - 1
    for i, c in enumerate(cols):
        mn, mx = row[f"mn_{i}"], row[f"mx_{i}"]
        if mn is None or mx is None or mx == mn:
            out.append("0")
        else:
            out.append(
                f"((CAST({c} AS BIGINT) - {mn}) * {top} div {mx - mn})"
            )
    return out


def zorder_chunk_stats(
    df: DataFrame,
    rank_exprs: list[str],
    bits: int,
    n_chunks: int,
) -> DataFrame:
    """Per-Z-range chunk min/max of every dimension — the layout-quality
    audit (tight spans == skippable files).

    ``chunk = z div ceil(2**(bits*C) / n_chunks)`` is pure row-local
    arithmetic; the only shuffle is the partial-combined groupBy on the
    chunk id (≤ n_chunks result rows). Emits n per chunk plus
    ``dim{i}_min/max`` for each dimension.
    """
    space = 1 << (bits * len(rank_exprs))
    width = -(-space // n_chunks)  # ceil
    z_sql = zorder_sql(rank_exprs, bits, "spark")
    keyed = df.select(
        F.expr(f"({z_sql}) div {width}").alias("chunk"),
        *[
            F.expr(f"CAST(({e}) AS BIGINT)").alias(f"_d{i}")
            for i, e in enumerate(rank_exprs)
        ],
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(len(rank_exprs)):
        aggs.append(F.min(f"_d{i}").alias(f"dim{i}_min"))
        aggs.append(F.max(f"_d{i}").alias(f"dim{i}_max"))
    return keyed.groupBy("chunk").agg(*aggs)


def compaction_plan(
    df: DataFrame,
    slice_cols: list[str],
    bytes_col: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_file_bytes: int | None = None,
) -> DataFrame:
    """Lakehouse small-file compaction planner: per output slice
    (partition directory), how many files to write and how many rows
    per file so files land near ``target_file_bytes`` — the sizing pass
    that runs before every large parquet rewrite (a 10^12-row table
    written with one-file-per-task produces millions of KB files; one
    file per slice produces unsplittable multi-GB ones).

    Pure integer arithmetic from ONE map-side-combined aggregate:
    ``n_files = ceil(total_bytes / target)`` (minimum 1 — empty-ish
    slices still get a file), ``rows_per_file = ceil(n_rows /
    n_files)``; ``needs_compaction`` flags slices whose CURRENT average
    row-group would fall under ``min_file_bytes`` (default target/8) if
    left at one row per input row-group. Ceil is the integer identity
    ``(a + b - 1) DIV b`` — no floats anywhere.

    Output: ``(slice..., n_rows, total_bytes, n_files, rows_per_file,
    needs_compaction)``. Feed ``n_files`` to a
    ``repartitionByRange(n_files, ...)``/``repartition(n_files)`` write.
    """
    tgt = int(target_file_bytes)
    mn = int(min_file_bytes if min_file_bytes is not None else tgt // 8)
    agg = df.groupBy(*slice_cols).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col(bytes_col)).cast("long").alias("total_bytes"),
    )
    # DIV, never `/`+cast: Spark `/` is IEEE double division and loses
    # integer precision past 2^53 — real at 10^12-row byte totals.
    with_files = agg.withColumn(
        "n_files",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(total_bytes + {tgt - 1}) DIV {tgt}"),
        ),
    )
    return with_files.select(
        *slice_cols,
        "n_rows",
        "total_bytes",
        "n_files",
        F.expr("(n_rows + n_files - 1) DIV n_files").alias("rows_per_file"),
        (F.col("total_bytes") < F.lit(mn)).alias("needs_compaction"),
    )
