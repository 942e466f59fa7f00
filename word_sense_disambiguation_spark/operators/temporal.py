"""Temporal joins Spark's DataFrame API lacks: as-of (point-in-time) join.

The classic union-and-running-window construction, not a per-key
`collect`+bisect and not an inequality join: both sides union into one
stream, ONE shuffle partitions by key, and a running `last(payload,
ignoreNulls)` frame carries the most recent right-side row forward into
every left row. Wall-clock is a single pass per key; the running frame
(UNBOUNDED PRECEDING .. CURRENT ROW) is evaluated incrementally by
WindowExec — it never buffers the whole partition the way a full-partition
min/count window does (the `exact_duplicates` r4 lesson does not apply to
running frames).

Scale notes:
- One Exchange on the key columns, total. The left table never joins the
  right table row-for-row (a naive `l.key = r.key AND r.ts <= l.ts` join
  is O(|L_k| * |R_k|) per key and explodes on crawl-sized keys before its
  row_number prunes); the union form is O(|L_k| + |R_k|).
- A pathologically hot key serializes its single partition through one
  task (window semantics need the key's total time order). That is
  inherent to as-of semantics; if a key is hot enough to matter, bucket
  it upstream by coarse time range and as-of join within buckets, seeding
  each bucket with the key's last row from the previous bucket.
- Determinism: ties are totally ordered — right rows sort BEFORE left
  rows at equal timestamps (inclusive `<=` semantics), and equal-ts right
  rows resolve to the largest tie-break id. `local[1] == local[32]`
  bit-for-bit, same as every other operator here.

Reference parity anchor: the reference resolves each mention against the
inventory state its batch was built from (`/root/reference/wsd/
word_sense_disambiguation.py:384-387`, a point-in-time lookup by
construction); this operator is that semantics lifted to explicit
event-time. DuckDB replays it either with native ASOF JOIN or an explicit
argmax window — the oracle uses the explicit form so the tie rule is
pinned in SQL, not in an engine default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str = "ts",
    right_ts: str | None = None,
    right_cols: list[str] | None = None,
    tie_col: str | None = None,
    direction: str = "backward",
    prefix: str = "asof_",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For every left row, attach the most recent right row at-or-before
    its timestamp (``direction='backward'``) or the earliest right row
    at-or-after it (``'forward'``), per key. Unmatched left rows keep
    NULL ``asof_*`` columns; with ``tolerance_seconds`` set, matches
    further than the tolerance are nulled out too (pandas
    ``merge_asof`` semantics).

    ``right_cols`` (default: all non-key, non-ts right columns) are
    emitted as ``<prefix><col>``; the right timestamp is always emitted
    as ``<prefix><right_ts>``. ``tie_col`` (default: first of
    ``right_cols``) breaks equal-timestamp ties deterministically —
    largest wins for backward, smallest for forward. Right rows with a
    NULL timestamp are dropped (they have no position on the time
    axis); left rows with NULL timestamps match nothing.
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c not in keys and c != right_ts
        ]
    if tie_col is None:
        if not right_cols:
            raise ValueError("need right_cols or tie_col for deterministic ties")
        tie_col = right_cols[0]
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction: {direction!r}")

    payload_fields = [right_ts] + [c for c in right_cols if c != right_ts]
    r = right.filter(F.col(right_ts).isNotNull()).select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.col(tie_col).alias("_tie"),
        F.struct(*[F.col(c) for c in payload_fields]).alias("_payload"),
    )
    left_cols = [c for c in left.columns]
    l = left.select(
        *left_cols,
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_tie"].dataType).alias("_tie"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
    )
    u = l.unionByName(r, allowMissingColumns=True)

    # Backward: scan time ascending; at equal ts the right row must be
    # visible to the left row (inclusive <=), so _side=0 sorts first;
    # equal-ts right rows resolve to the largest tie id (it sorts last,
    # and `last()` takes the latest in frame order). Forward mirrors it.
    if direction == "backward":
        order = [F.col("_t").asc(), F.col("_side").asc(), F.col("_tie").asc()]
    else:
        order = [F.col("_t").desc(), F.col("_side").asc(), F.col("_tie").desc()]
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = F.last("_payload", ignorenulls=True).over(w)

    out = (
        u.withColumn("_m", matched)
        .filter(F.col("_side") == 1)
        .drop("_t", "_side", "_tie", "_payload")
    )
    if tolerance_seconds is not None:
        age = (
            F.col(left_ts).cast("double")
            - F.col(f"_m.{right_ts}").cast("double")
        )
        if direction == "forward":
            age = -age
        out = out.withColumn(
            "_m",
            F.when(age <= F.lit(float(tolerance_seconds)), F.col("_m")),
        )
    return out.select(
        *left_cols,
        *[
            F.col(f"_m.{c}").alias(f"{prefix}{c}")
            for c in payload_fields
        ],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    keys: list[str] | None = None,
    bucket_width: float = 4.0,
    max_buckets: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Interval containment join (``lo <= v <= hi``) as a bucketized
    EQUI-join — the second join family Spark's API lacks (Catalyst plans
    a raw inequality join as BroadcastNestedLoop/cartesian: O(|P|*|I|)
    per key, the scale killer this operator exists to avoid).

    Construction: every point lands in exactly ONE bucket
    (``floor(v / bucket_width)``); every interval explodes into the
    buckets it covers (bounded by ``max_buckets``). The equi-join on
    ``keys + [bucket]`` then finds each containing pair exactly once —
    in the point's own bucket — so there is NO dedup shuffle, by the
    same no-distinct argument as the blocking pair union
    (``blocking.py``): multiplicity is structurally impossible, not
    merely tolerated. Exact containment is re-checked on the raw
    bounds, so bucketing affects cost only, never the result.

    Returns ``(pairs, oversized_intervals)``: intervals spanning more
    than ``max_buckets`` buckets are EXCLUDED from pairing and reported
    in the side table — no silent caps, same contract as every blocker
    here. Route them through a broadcast inequality join if they
    matter: there are few of them by definition, and each is cheap to
    broadcast. Degenerate intervals (``lo > hi`` or NULL bounds) match
    nothing, per containment semantics. Pick ``bucket_width`` near the
    TYPICAL interval span: width >> span wastes bucket selectivity,
    width << span explodes rows (span/width buckets per interval).

    Column names pass through from both inputs — alias collisions away
    before calling. All bucket arithmetic is internal; the output
    depends only on IEEE comparisons against the raw bounds, so a
    DuckDB inequality-join replay is exact.
    """
    keys = list(keys or [])
    W = float(bucket_width)
    p = points.withColumn(
        "_b", F.floor(F.col(point_col) / F.lit(W)).cast("long")
    )
    lo_b = F.floor(F.col(lo_col) / F.lit(W)).cast("long")
    hi_b = F.floor(F.col(hi_col) / F.lit(W)).cast("long")
    iv = intervals.withColumn("_nb", hi_b - lo_b + 1)
    oversized = iv.filter(F.col("_nb") > max_buckets).drop("_nb")
    expl = (
        iv.filter(
            (F.col("_nb") <= max_buckets)
            & (F.col(lo_col) <= F.col(hi_col))
        )
        .withColumn("_b", F.explode(F.sequence(lo_b, hi_b)))
        .drop("_nb")
    )
    pairs = (
        p.join(expl, on=keys + ["_b"])
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("_b")
    )
    return pairs, oversized


def time_bucket_rollup(
    events: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    granularities: tuple[str, ...] = ("minute", "hour", "day"),
    int_scale: int = 100,
) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the SAME scan feeds
    every granularity at once (TimescaleDB's multi-resolution cagg
    shape) via GROUPING SETS — one Expand, one partial-combined
    aggregation, ONE shuffle, instead of one scan+shuffle per
    granularity. At 100 TB the scan is the dominant cost, so an N-level
    rollup for one scan is the whole point.

    Output, one row per (keys, granularity, bucket): ``(*key_cols,
    granularity, bucket_start, n, min_value, max_value, sum_scaled)``.
    The aggregates are chosen to be hash-exact by construction: count
    is integral; min/max over doubles are order-free; the sum is taken
    over ``floor(value * int_scale)`` BIGINTs (exact, association-free
    — a raw double sum is partition-order dependent and can never be
    oracle-hashed; the same discipline as the classifier logits).
    Consumers reconstruct an approximate mean as
    ``sum_scaled / (int_scale * n)`` — one IEEE division.

    Rows with NULL timestamps are dropped up front: a grouping-set NULL
    is how the active granularity is detected (coalesce over the bucket
    columns), so a genuine NULL bucket would be ambiguous — excluding
    them keeps the contract total and is what a time-series rollup
    means anyway. NULL values aggregate with SQL skip-null semantics
    under a total row count.
    """
    b = {g: F.date_trunc(g, F.col(ts_col)).alias(f"_b_{g}") for g in granularities}
    base = events.filter(F.col(ts_col).isNotNull()).select(
        *[F.col(k) for k in key_cols],
        *b.values(),
        F.col(value_col).alias("_v"),
    )
    sets = [key_cols + [f"_b_{g}"] for g in granularities]
    agg = base.groupingSets(
        sets, *[F.col(c) for c in key_cols + [f"_b_{g}" for g in granularities]]
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("_v").alias("min_value"),
        F.max("_v").alias("max_value"),
        F.sum(F.floor(F.col("_v") * int_scale).cast("long"))
        .cast("long")
        .alias("sum_scaled"),
    )
    gran = None
    for g in granularities:
        cond = F.col(f"_b_{g}").isNotNull()
        gran = F.when(cond, F.lit(g)) if gran is None else gran.when(cond, F.lit(g))
    return agg.select(
        *key_cols,
        gran.alias("granularity"),
        F.coalesce(*[F.col(f"_b_{g}") for g in granularities]).alias("bucket_start"),
        "n",
        "min_value",
        "max_value",
        "sum_scaled",
    )


def hopping_window_agg(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    length_s: int,
    slide_s: int,
    int_scale: int = 100,
) -> DataFrame:
    """Overlapping (hopping/sliding) window aggregate: every event lands
    in exactly ``length_s/slide_s`` windows of length ``length_s`` whose
    starts are multiples of ``slide_s``.

    The scale shape is the OFFSET EXPLODE, never a window-table range
    join: each row generates its L/S (row, window_start) memberships
    locally (``window_start = floor(epoch/S)*S - i*S``), then ONE
    partial-combined groupBy — replication factor is the small constant
    L/S, and a naive ``w.start <= ts < w.start + L`` join against a
    generated window table is an inequality join that rescans the fact
    per window. This is the batch twin of Structured Streaming's
    ``F.window(ts, length, slide)`` (same window-start convention for
    non-negative epochs), kept as explicit arithmetic so the DuckDB
    oracle replays it bit-for-bit.

    Aggregates are the hash-exact set (count, min/max, scaled-BIGINT
    sum — the engine's float-sum discipline); epoch seconds are
    truncated identically in both engines (UTC session, floor).
    """
    if length_s <= 0 or slide_s <= 0 or length_s % slide_s:
        raise ValueError("length_s must be a positive multiple of slide_s")
    n_offsets = length_s // slide_s
    base = F.expr(
        f"(unix_timestamp({ts_col}) div {slide_s}) * {slide_s}"
    )
    exploded = (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("_off", F.explode(F.sequence(F.lit(0), F.lit(n_offsets - 1))))
        .withColumn(
            "window_start",
            F.timestamp_seconds(base - F.col("_off").cast("long") * slide_s),
        )
    )
    return exploded.groupBy(*key_cols, "window_start").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.sum(
            F.expr(f"CAST(floor({value_col} * {int_scale}) AS BIGINT)")
        ).cast("long").alias("sum_scaled"),
    )


def interval_coalesce(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Gaps-and-islands: merge overlapping-or-touching intervals per key
    into maximal disjoint islands — the validity-interval compaction a
    crawl scheduler runs on fetch windows, and the natural consumer of
    :func:`~.cdc.scd2_history` output (collapse a flapping state's
    intervals back to coverage spans).

    Semantics, per key over intervals ordered by ``(start, end)``: an
    interval opens a new island iff its start is strictly greater than
    the running maximum of all previous ends (touching intervals —
    ``start == prev_end`` — merge; half-open callers pre-decrement).
    Output: ``(key..., start, end, n_intervals)`` per island.

    Scale shape: ONE key-partitioned Exchange; the running
    ``max(end)`` uses the incremental UNBOUNDED PRECEDING..-1 frame
    (WindowExec evaluates running frames incrementally — the
    full-partition-buffer trap does not apply), and the island
    aggregate reuses the same clustering. Per-key interval counts are
    bounded by ingest cadence, the same skew argument as
    :func:`~.cdc.scd2_history`.

    ``tiebreak_cols`` must make the ordering TOTAL when duplicate
    ``(start, end)`` rows exist and the result is mirrored into a SQL
    oracle: the operator is two window passes (running max, then
    running island sum), and an engine that sorts each pass
    independently (DuckDB) may order full ties differently per pass —
    nw flags computed under one tie order cumulated under another
    invent phantom islands. Spark itself is immune (one Window spec =
    one sort), so the parameter is about cross-engine replayability,
    not Spark correctness — but island membership of tied rows is
    only well-defined under a total order anyway.

    Reference parity: the reference merges adjacent sentence spans into
    one context window per mention (wsd/word_sense_disambiguation.py
    context assembly); this is that span-merge over arbitrary keys.
    """
    order = [F.col(start_col).asc(), F.col(end_col).asc()] + [
        F.col(c).asc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "_new",
        F.when(
            prev_max_end.isNotNull()
            & (F.col(start_col) <= prev_max_end),
            F.lit(0),
        ).otherwise(F.lit(1)),
    ).withColumn("_island", F.sum("_new").over(w))
    return flagged.groupBy(*key_cols, "_island").agg(
        F.min(F.col(start_col)).alias("start"),
        F.max(F.col(end_col)).alias("end"),
        F.count("*").cast("long").alias("n_intervals"),
    ).drop("_island")


def funnel_counts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    tiebreak_col: str,
) -> DataFrame:
    """Ordered funnel: how many users reached step i — step i counts only
    if it happens STRICTLY AFTER the user's earliest completion of step
    i-1 (the classic clickstream conversion report).

    Deterministic under burst timestamps: each step's completion time is
    the minimum ``(ts, tiebreak)`` struct among qualifying events, and
    "after" compares the full struct — equal-timestamp events resolve by
    the tiebreak, never by partition order.

    Scale shape: one map-side-combined groupBy on the user key per step,
    joined to the previous step's (user, reached-time) table on the same
    clustering; no windows, no per-user buffering beyond one row. Each
    step is eagerly localCheckpointed before its scalar count — without
    it step k re-evaluates the whole chain (O(steps^2) scans), and the
    counts themselves are the CC-checksum class of driver action: one
    scalar per step, never row data.

    Output: ``(step_index, step, n_users)`` — one row per step.
    """
    u = F.col(user_col)
    order = F.struct(F.col(ts_col).alias("_t"), F.col(tiebreak_col).alias("_i"))
    # step 0: earliest qualifying event per user
    cur = (
        events.filter(F.col(type_col) == F.lit(steps[0]))
        .groupBy(u.alias("_user"))
        .agg(F.min(order).alias("_reached"))
        .localCheckpoint(eager=True)
    )
    counts = [cur.count()]
    for step in steps[1:]:
        cur = (
            events.filter(F.col(type_col) == F.lit(step))
            .select(u.alias("_user"), order.alias("_o"))
            .join(cur, on="_user")
            .filter(F.col("_o") > F.col("_reached"))
            .groupBy("_user")
            .agg(F.min(F.col("_o")).alias("_reached"))
            .localCheckpoint(eager=True)
        )
        counts.append(cur.count())
    spark = events.sparkSession
    rows = [(i, s, int(c)) for i, (s, c) in enumerate(zip(steps, counts))]
    return spark.createDataFrame(
        rows, "step_index int, step string, n_users long"
    )


def session_window_stats(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-user session statistics via Spark's NATIVE ``session_window``
    aggregate — the engine-level twin of the lag-island
    ``sessionization`` query (same gap semantics, different machinery):
    the built-in merges events into [min_ts, last_ts + gap) windows
    inside ONE partial-combinable aggregate, and the SAME expression
    runs unchanged under Structured Streaming with a watermark
    (:func:`streaming.ingest.stream_session_stats`), which the window
    construction cannot.

    Pinned boundary semantics (measured, test-enforced): two events
    exactly ``gap`` apart MERGE — a new session starts only when the
    diff is STRICTLY greater than the gap, the same ``> gap`` rule the
    lag-island oracle uses. Session end is ``last_ts + gap``
    (microsecond-exact); output bounds are floored epoch seconds
    (``unix_timestamp``, NTZ-safe under the pinned UTC session), counts
    and id extrema BIGINT — hash-portable, no raw timestamps.

    Scale shape (audited): a partial HashAggregate BELOW the exchange
    collapses duplicate-timestamp rows map-side (exactly the crawl
    burst case), then the shuffle carries one row per DISTINCT
    candidate window and the post-shuffle sorted ``MergingSessions``
    pass welds adjacent candidates into sessions — never a window
    function buffering a hot user's raw events, and no self-join.
    Oracle mirrors spell the same gap in exact units (e.g.
    1800000000 µs for "30 minutes").
    """
    u = F.col(user_col)
    return (
        events.filter(u.isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.session_window(F.col(ts_col), gap).alias("_w"), u)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(id_col).cast("long").alias("first_event_id"),
            F.max(id_col).cast("long").alias("last_event_id"),
        )
        .select(
            u,
            F.unix_timestamp(F.col("_w.start")).alias("session_start_s"),
            F.unix_timestamp(F.col("_w.end")).alias("session_end_s"),
            "n_events",
            "first_event_id",
            "last_event_id",
        )
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    period_s: int = 604_800,
) -> DataFrame:
    """Cohort retention triangle: users cohorted by their FIRST active
    period, counted in every period they return — the standing
    product/crawl-health report next to :func:`funnel_counts` (ordered
    steps) and ``sessionization`` (gap splitting): of the users first
    seen in week W, how many were active W+k.

    Semantics (exact, engine-portable): a user's period index is
    ``unix_timestamp(ts) DIV period_s`` — BIGINT epoch seconds under the
    engine's pinned UTC session (works on TIMESTAMP and TIMESTAMP_NTZ
    alike; the DuckDB mirror is ``floor(epoch(ts))``, the established
    hopping-window idiom — never ``CAST(epoch(..))``, which ROUNDS),
    then one integer floor-division (nonnegative epochs; 1970+ data).
    Sub-second components cannot flip a period: floor(sec/P) ==
    floor(floor(micros/1e6)/P) for nonneg inputs (nested-floor
    identity). ``cohort_period = min(period)`` per user; output one row
    per ``(cohort_period, periods_since)`` with the EXACT distinct-user
    count. All BIGINT.

    Scale shape: ONE repartition on the user key is the only
    input-cardinality shuffle — the (user, period) distinct and the
    per-user min both run inside that clustering with no further
    exchange (hash partitioning on a key prefix satisfies the
    aggregates' required distribution); the compile-time plan derives
    the activity branch twice (join of act with its own aggregate), and
    the executed plan substitutes a ReusedExchange for the second
    derivation, so the input is scanned and shuffled ONCE at runtime
    (verified). The final (cohort, k) rollup partial-combines from
    per-user-period rows — distinct-user counting is FREE there (each
    user contributes at most one row per period by construction), so no
    count-distinct Expand ever runs. A bot user active in every period
    costs rows bounded by the CALENDAR (periods elapsed), not by its
    event volume.
    """
    u = F.col(user_col)
    act = (
        events.filter(u.isNotNull() & F.col(ts_col).isNotNull())
        .select(
            u.alias("_u"),
            F.expr(
                f"unix_timestamp({ts_col}) DIV {int(period_s)}L"
            ).alias("_p"),
        )
        .repartition(F.col("_u"))
        .distinct()
    )
    first = act.groupBy("_u").agg(F.min("_p").alias("_c"))
    return (
        act.join(first, on="_u")
        .groupBy(
            F.col("_c").cast("long").alias("cohort_period"),
            (F.col("_p") - F.col("_c")).cast("long").alias("periods_since"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def transition_model(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 1_000_000,
) -> DataFrame:
    """First-order Markov transition model over an observed-transition
    edge stream: per ``(src, dst)`` state pair, the transition count,
    the source's total outflow, and the transition probability as an
    EXACT scaled integer ``(n * scale) DIV out_total`` — the trainable
    click-model / session-model weight table next to
    :func:`funnel_counts`' fixed-pattern view (reference parity: public
    semantics under the repo's integer-oracle discipline; the reference
    itself has no sequence-model stage).

    Exactness: counts are BIGINT, the probability is one integer DIV
    per row (no float sums, no reassociation surface), so any engine
    replays the table bit-for-bit. ``sum(p_scaled) per src`` is <=
    scale with deficit < n_dst (floor truncation) — callers needing a
    strict simplex renormalize at read time.

    Scale shape: ONE map-side-combined ``groupBy(src, dst)`` over the
    raw transitions (the only shuffle that sees input-cardinality
    data), then a re-aggregation of that already-contracted pair table
    to per-``src`` totals and an equi-join back on ``src`` — both
    operate on distinct-pair cardinality, and a hot source state
    (every crawler hits the homepage) contracts map-side in the first
    aggregate, never through a window or a raw-row join.
    """
    e = (
        edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .groupBy(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )
    tot = e.groupBy("src").agg(
        F.sum("n_transitions").cast("long").alias("out_total")
    )
    return e.join(tot, on="src").select(
        "src",
        "dst",
        "n_transitions",
        "out_total",
        F.expr(f"(n_transitions * {int(scale)}L) DIV out_total")
        .cast("long")
        .alias("p_scaled"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    keys: list[str] | None = None,
    bucket_width: float = 4.0,
    max_buckets: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Interval x interval OVERLAP join (``a_lo <= b_hi AND b_lo <=
    a_hi``, closed bounds) as a bucketized equi-join — the third
    temporal-join family next to :func:`asof_join` (latest-before) and
    :func:`range_join` (point containment). Crawl uses: which fetch
    windows collided with which outage windows; which session spans
    overlap which experiment exposures.

    Exactly-once without a dedup shuffle: a pair's overlap, when it
    exists, STARTS at ``greatest(a_lo, b_lo)`` — a coordinate lying
    inside BOTH intervals, hence inside both bucket explosions. The
    equi-join on ``keys + [bucket]`` meets each overlapping pair in
    every shared bucket, and the ``bucket == floor(greatest(a_lo,
    b_lo) / W)`` predicate keeps exactly the one where the overlap
    starts — multiplicity is structurally impossible (the
    ``range_join``/blocking no-distinct argument).

    Returns ``(pairs, oversized)``: intervals spanning more than
    ``max_buckets`` buckets are excluded and reported in the side
    table tagged with ``side`` ('left'/'right') and their bounds —
    no silent caps; route the few giants through a broadcast
    inequality join. Degenerate (``lo > hi`` or NULL-bound) intervals
    match nothing. Exact overlap is re-checked on raw bounds, so
    bucketing affects cost only; a DuckDB inequality-join replay is
    exact.
    """
    keys = list(keys or [])
    W = float(bucket_width)

    def prep(df: DataFrame, lo: str, hi: str):
        lo_b = F.floor(F.col(lo) / F.lit(W)).cast("long")
        hi_b = F.floor(F.col(hi) / F.lit(W)).cast("long")
        tagged = df.withColumn("_nb", hi_b - lo_b + 1)
        over = tagged.filter(F.col("_nb") > max_buckets).drop("_nb")
        kept = (
            tagged.filter(
                (F.col("_nb") <= max_buckets) & (F.col(lo) <= F.col(hi))
            )
            .withColumn("_b", F.explode(F.sequence(lo_b, hi_b)))
            .drop("_nb")
        )
        return kept, over

    lk, lo_over = prep(left, left_lo, left_hi)
    rk, ro_over = prep(right, right_lo, right_hi)
    start_bucket = F.floor(
        F.greatest(F.col(left_lo), F.col(right_lo)) / F.lit(W)
    ).cast("long")
    pairs = (
        lk.join(rk, on=keys + ["_b"])
        .filter(
            (F.col(left_lo) <= F.col(right_hi))
            & (F.col(right_lo) <= F.col(left_hi))
            & (F.col("_b") == start_bucket)
        )
        .drop("_b")
    )
    oversized = lo_over.select(
        F.lit("left").alias("side"),
        *[F.col(c) for c in keys],
        F.col(left_lo).cast("double").alias("lo"),
        F.col(left_hi).cast("double").alias("hi"),
    ).unionByName(
        ro_over.select(
            F.lit("right").alias("side"),
            *[F.col(c) for c in keys],
            F.col(right_lo).cast("double").alias("lo"),
            F.col(right_hi).cast("double").alias("hi"),
        )
    )
    return pairs, oversized
