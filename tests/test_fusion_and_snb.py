"""Sorted-neighborhood blocking: brute-force identities and plan-shape
guards for the two-level rank construction."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from word_sense_disambiguation_spark.operators.blocking import (
    sorted_neighborhood_pairs,
)


def _brute_pairs(rows, window):
    srt = sorted((k, i) for i, k in rows if k is not None)
    return {
        (srt[i][1], srt[j][1], j - i)
        for i in range(len(srt))
        for j in range(i + 1, min(i + window, len(srt)))
    }


SNB_ROWS = [
    (1, "alpha"), (2, "alpine"), (3, "beta"), (4, "beta"), (5, "bison"),
    (6, None), (7, "aa"), (8, "ab"), (9, "ba"), (10, "bb"), (11, "zz"),
    (12, "a"),
]


@pytest.mark.parametrize("window,bucket_len", [(2, 1), (3, 1), (4, 2), (5, 4), (12, 1)])
def test_snb_equals_brute_force(spark, window, bucket_len):
    """Two-level rank + chunk join == the textbook global-sort definition,
    across window sizes, bucket granularities, duplicate keys (ties broken
    by id), bucket-boundary-straddling neighbors, and a NULL key (never
    pairs). window > n degrades to all-pairs, not an error."""
    df = spark.createDataFrame(SNB_ROWS, "id long, k string")
    got = {
        (r.id_a, r.id_b, r.rank_gap)
        for r in sorted_neighborhood_pairs(
            df, "id", "k", window=window, bucket_len=bucket_len
        ).collect()
    }
    assert got == _brute_pairs(SNB_ROWS, window)


def test_snb_pair_count_is_linear(spark):
    """n rows emit exactly sum over gaps = n*(w-1) - (w-1)w/2 pairs — the
    linear-output contract (never B(B-1)/2 of a naive key block)."""
    n, w = 500, 5
    df = spark.range(n).select(
        F.col("id"), F.format_string("k%05d", F.col("id")).alias("k")
    )
    cnt = sorted_neighborhood_pairs(df, "id", "k", window=w, bucket_len=3).count()
    g = w - 1
    assert cnt == n * g - g * (g + 1) // 2


def test_snb_plan_has_no_global_row_window_and_no_cartesian(spark):
    """The ONLY unpartitioned window runs over the per-bucket COUNT table
    (one row per bucket), never over row data: every windowspecdefinition
    in the optimized plan that lacks a partition column must consume the
    aggregated count, and the pair join must be an equi-join (no
    CartesianProduct / BroadcastNestedLoop)."""
    df = spark.range(2000).select(
        F.col("id"), F.format_string("k%05d", F.col("id")).alias("k")
    )
    pairs = sorted_neighborhood_pairs(df, "id", "k", window=4, bucket_len=2)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the row-data window is partitioned by the bucket column _b
    assert "partitionBy=[_b]" in plan.replace(" ", "") or "_b" in plan
    # level-1 (running offsets) consumes the aggregate, so a HashAggregate
    # must appear below the unpartitioned window in the plan tree
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_snb_rejects_degenerate_window():
    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(None, "id", "k", window=1)
