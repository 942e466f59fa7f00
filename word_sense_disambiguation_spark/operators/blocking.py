"""Stage-1 blocking: candidate-pair generation without the O(n^2) cross join.

Two complementary blockers, exactly as the north star prescribes:

* :func:`surface_key_pairs` — normalized-surface-form equi-blocking (the
  relational analogue of the reference's ``(lemma, pos)`` definition lookup
  key, ``/root/reference/wsd/word_sense_disambiguation.py:384-387``);
* :func:`minhash_lsh_pairs` — MinHash-LSH banding over token/char shingles
  (no reference analogue; semantics per the classic banding construction,
  MMDS ch.3), for near-duplicate and fuzzy-mention candidates.

Both are skew-aware: hot blocks are the scale killer (a block of size B
emits B(B-1)/2 pairs), so both blockers take ``max_block_size`` and emit a
side table of the blocks they dropped — **no silent caps**; the caller can
route oversized blocks to a salted/sampled path. The reference's analogue
of this discipline is its length-bucketed batching
(``wsd/masked_language_model.py:113-126``) — bounding worst-case work per
unit, never dropping silently (it warns, ``training/train.py:374-396``).

The ER job composes its candidate pairs in ONE place,
:func:`er_candidate_pairs`: capped all-pairs inside small surface blocks,
plus linear canopy-aware star edges for every block over the cap, then a
``distinct()``. ``run_er_pipeline``, the incremental attach residual, the
driver-contract ER queries and the bench/scaling harnesses all call it, so
every ER job runs the same blocking policy under the same cap
(:data:`ER_MAX_BLOCK`).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from word_sense_disambiguation_spark.functions.hashing import (
    char_shingles,
    lsh_bands,
    minhash_signature,
)

DEFAULT_NUM_PERM = 128
DEFAULT_BANDS = 16
DEFAULT_MAX_BLOCK = 64
# surface-block cap of the ER job (run_er_pipeline) and its incremental
# residual (attach_mentions_to_clusters): one cap, one blocking policy
ER_MAX_BLOCK = 256


def _pairs_within_blocks(
    keyed: DataFrame, id_col: str, key_cols: list[str], max_block_size: int
) -> tuple[DataFrame, DataFrame]:
    """(id, key) -> (id_a < id_b) pairs within each key block, skew-capped.

    One shuffle on the block key; the self-join is co-partitioned because
    both sides hash on the same key (Catalyst reuses the exchange). Blocks
    larger than ``max_block_size`` are excluded from pairing and returned in
    ``oversized`` with their sizes.
    """
    counts = keyed.groupBy(*key_cols).agg(F.count("*").alias("block_size"))
    oversized = counts.filter(F.col("block_size") > max_block_size)
    ok = keyed.join(
        F.broadcast(oversized.select(*key_cols)), on=key_cols, how="left_anti"
    )
    a = ok.select(*key_cols, F.col(id_col).alias("id_a"))
    b = ok.select(*key_cols, F.col(id_col).alias("id_b"))
    pairs = (
        a.join(b, on=key_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *key_cols)
    )
    return pairs, oversized


def surface_key_pairs(
    mentions: DataFrame,
    id_col: str = "mention_id",
    key_cols: tuple[str, ...] = ("norm_surface", "pos"),
    max_block_size: int = DEFAULT_MAX_BLOCK,
) -> tuple[DataFrame, DataFrame]:
    """Equi-blocking on the normalized surface key -> distinct id pairs."""
    keyed = mentions.select(id_col, *key_cols)
    return _pairs_within_blocks(keyed, id_col, list(key_cols), max_block_size)


def sense_block_star_pairs(assignments: DataFrame) -> DataFrame:
    """Linear-size pair generation for huge blocks: within each
    ``(lemma, pos, pred_sense_id)`` canopy, pair every mention with the
    block's minimum mention (a star), instead of enumerating all
    B(B-1)/2 pairs.

    Why this is the 10^12-row path: connected components only needs a
    *spanning* structure per true cluster — a verified star gives exactly
    that with O(B) edges, and the downstream pair scorer still vets every
    edge, so a wrong canopy assignment cannot silently merge clusters.
    This is the ER analogue of the reference's decoder pruning (compute
    only what the decision needs, ``wsd/model_surgery.py:31-70``).

    Only ``decision = 'assigned'`` mentions participate (NOTA/no-inventory
    mentions have no canopy; small-block all-pairs still covers them).
    Emitted pairs satisfy ``id_a < id_b`` because the hub is the minimum.
    """
    assigned = assignments.filter(F.col("decision") == "assigned")
    return _star_pairs(assigned, "mention_id", ["lemma", "pos", "pred_sense_id"])


def _star_pairs(df: DataFrame, id_col: str, part_cols: list[str]) -> DataFrame:
    """(id, partition key) -> (hub=min_id, id) edges, one per non-hub member.

    groupBy + join, NOT a window: ``Window.partitionBy`` funnels an entire
    hot block through one task (the exact skew this path exists to survive),
    while the aggregate is map-side-combined to one row per block and the
    re-join is auto-broadcast / AQE-skew-splittable.
    """
    hubs = df.groupBy(*part_cols).agg(F.min(id_col).alias("_hub"))
    return (
        df.select(id_col, *part_cols)
        .join(hubs, on=part_cols)
        .filter(F.col(id_col) != F.col("_hub"))
        .select(F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"))
    )


def oversized_star_pairs(
    mentions: DataFrame,
    oversized: DataFrame,
    assignments: DataFrame | None = None,
    id_col: str = "mention_id",
    key_cols: tuple[str, ...] = ("norm_surface", "pos"),
) -> DataFrame:
    """Linear-size recovery edges for the blocks ``surface_key_pairs``
    excluded as oversized — the no-silent-caps contract's second half: a
    block bigger than ``max_block_size`` degrades to O(B) star edges, never
    to zero edges.

    * With ``assignments``: members assigned a sense star within their
      (block key, lemma, pred_sense_id) canopy, so a mixed hot block cannot
      strand one entity's members just because the block hub belongs to
      another entity; unassigned members fall back to a block-key star.
    * Without: every member stars within the block key; the downstream pair
      scorer vets each edge, so these are candidates, not merges.
    """
    members = mentions.join(
        F.broadcast(oversized.select(*key_cols)), on=list(key_cols), how="left_semi"
    ).select(id_col, *key_cols)
    if assignments is None:
        return _star_pairs(members, id_col, list(key_cols))

    asg = assignments.select(id_col, "decision", "lemma", "pred_sense_id")
    m = members.join(asg, on=id_col, how="left")
    canopy = _star_pairs(
        m.filter(F.col("decision") == "assigned"),
        id_col,
        list(key_cols) + ["lemma", "pred_sense_id"],
    )
    fallback = _star_pairs(
        m.filter(F.col("decision").isNull() | (F.col("decision") != "assigned")),
        id_col,
        list(key_cols),
    )
    return canopy.unionByName(fallback)


def er_candidate_pairs(
    mentions: DataFrame,
    assignments: DataFrame,
    max_block_size: int = ER_MAX_BLOCK,
) -> DataFrame:
    """The ER job's blocking stage -> distinct ``(id_a < id_b)`` pairs.

    Small-block all-pairs from :func:`surface_key_pairs` ∪ the
    assignment-aware :func:`oversized_star_pairs` recovery of every block
    over ``max_block_size`` (no silent caps: a hot block degrades to
    linear star edges, never to zero edges), deduplicated. ``mentions``
    needs ``mention_id`` and the surface key columns; ``assignments``
    needs ``mention_id, decision, lemma, pred_sense_id``.
    """
    pairs, oversized = surface_key_pairs(mentions, max_block_size=max_block_size)
    recovered = oversized_star_pairs(mentions, oversized, assignments)
    return pairs.select("id_a", "id_b").unionByName(recovered).distinct()


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, text) -> exploded (id, band_id, band_hash) rows.

    Signature computation is an Arrow-batched ``mapInPandas`` (pure NumPy,
    executor-parallel, no shuffle); the band explosion multiplies rows by
    ``bands`` *before* the shuffle, which is the point: the join key is
    (band_id, band_hash), small and hash-distributable.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bids, bhashes = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                sig = minhash_signature(char_shingles(t or "", k=shingle_k), num_perm)
                for band_id, band_hash in lsh_bands(sig, bands):
                    ids.append(i)
                    bids.append(band_id)
                    # store as signed 64-bit for Spark LongType
                    bhashes.append(band_hash - (1 << 63))
            yield pd.DataFrame(
                {"id": ids, "band_id": bids, "band_hash": bhashes}
            )

    id_type = dict(df.dtypes)[id_col]
    return df.select(F.col(id_col).alias(id_col), text_col).mapInPandas(
        run, schema=f"id {id_type}, band_id int, band_hash long"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 5,
    max_block_size: int = DEFAULT_MAX_BLOCK,
    dedup: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs: ids colliding in >=1 band, deduplicated.

    Returns ``(pairs(id_a, id_b), oversized_buckets)``. With b bands of
    r = num_perm/b rows, collision probability is 1-(1-s^r)^b — the usual
    S-curve; defaults (b=16, r=8) put the knee near Jaccard ~0.7.

    ``dedup=False`` skips the cross-band ``distinct()`` — a pure extra
    shuffle stage over the pair table — for DUPLICATE-TOLERANT consumers
    only (a deterministic row-wise verifier feeding connected components,
    e.g. ``minhash_near_duplicate_clusters``: re-verifying a pair changes
    no cluster — the r3 bench-pair-union argument, guide §2.4). The
    default stays deduplicated: pair-table CONSUMERS that emit rows
    (``ngram_jaccard_block`` etc.) would otherwise change output.
    """
    # materialize the signatures ONCE: the band table fans out to four
    # consumers (block counts, the oversized anti-join, and both self-join
    # sides) — without a checkpoint Catalyst re-runs the signature UDF for
    # each subtree (measured 4x MapInPandas in the physical plan).
    banded = minhash_bands(
        df, id_col, text_col, num_perm, bands, shingle_k
    ).localCheckpoint(eager=True)
    pairs, oversized = _pairs_within_blocks(
        banded, "id", ["band_id", "band_hash"], max_block_size
    )
    pairs = pairs.select("id_a", "id_b")
    return (pairs.distinct() if dedup else pairs, oversized)


def blocking_quality(
    candidates: DataFrame,
    gold: DataFrame,
    records: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Blocking-scheme audit: pair completeness and reduction ratio, the
    two standard record-linkage blocking metrics (Christen 2012 §7.5 —
    the numbers Splink/recordlinkage report before anyone trusts a
    blocker).

    * ``pair_completeness`` = |candidates ∩ gold| / |gold| — the recall
      of the blocker against known true matches (1.0 when gold is
      empty: an empty truth set is vacuously covered);
    * ``reduction_ratio`` = 1 - |candidates| / (n(n-1)/2) — how much of
      the quadratic comparison space the blocker prunes.

    Both pair tables are normalized to unordered distinct pairs
    (least/greatest + distinct, self-pairs dropped) so orientation and
    duplicates can't skew the counts. Output is ONE row:
    ``(n_records, total_pairs, n_candidates, n_gold, n_hit,
    pair_completeness, reduction_ratio)``. ``total_pairs`` is exact
    integer arithmetic (``div 2`` — n(n-1) is even; routing it through
    a double would round above 2^53, i.e. for any corpus past ~10^8
    records); the two metrics are each one IEEE division.

    Scale shape: three independent aggregations (each partial-combined
    to one row) joined on a constant key — the candidate table is never
    materialized to the driver. The gold∩candidate probe is a LEFT join
    from gold (the small side at crawl scale: labeled truth sets are
    thousands of pairs) into the normalized candidates. This is an
    AUDIT operator: run it on a labeled sample, not the full crawl —
    the normalization ``distinct`` shuffles the candidate table once.
    """
    from pyspark.sql import functions as F

    def norm(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.least(F.col(id_a), F.col(id_b)).alias("pa"),
                F.greatest(F.col(id_a), F.col(id_b)).alias("pb"),
            )
            .filter(F.col("pa") != F.col("pb"))
            .distinct()
        )

    c = norm(candidates)
    g = norm(gold)
    nrec = records.agg(F.count(F.lit(1)).cast("long").alias("n_records")).withColumn(
        "_k", F.lit(1)
    )
    ncand = c.agg(F.count(F.lit(1)).cast("long").alias("n_candidates")).withColumn(
        "_k", F.lit(1)
    )
    hits = (
        g.join(c.withColumn("_hit", F.lit(1)), on=["pa", "pb"], how="left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gold"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .withColumn("_k", F.lit(1))
    )
    out = nrec.join(ncand, "_k").join(hits, "_k").drop("_k")
    total = F.expr("(n_records * (n_records - 1)) div 2")
    return out.select(
        "n_records",
        total.cast("long").alias("total_pairs"),
        "n_candidates",
        "n_gold",
        "n_hit",
        F.when(
            F.col("n_gold") > 0,
            F.col("n_hit").cast("double") / F.col("n_gold").cast("double"),
        )
        .otherwise(F.lit(1.0))
        .alias("pair_completeness"),
        (
            F.lit(1.0)
            - F.col("n_candidates").cast("double")
            / F.greatest(total, F.lit(1)).cast("double")
        ).alias("reduction_ratio"),
    )


def phonetic_key_pairs(
    df: DataFrame,
    id_col: str,
    name_expr: str,
    max_block_size: int = DEFAULT_MAX_BLOCK,
) -> tuple[DataFrame, DataFrame]:
    """Phonetic (Soundex) blocking -> (id_a < id_b) candidate pairs.

    The third member of the blocking family: surface equi-keys catch
    exact normalized matches, MinHash-LSH catches token-bag overlap, and
    the phonetic key catches *spelling-variant* names ("Ashcraft" /
    "Ashcroft") that share no surface key and too few shingles — the
    classic census-linkage blocker (Fellegi-Sunter era; see
    ``operators/pairs.py`` for the scoring stage it feeds).

    ``name_expr`` is a SQL expression string (column name or derivation)
    so the exact same text feeds :func:`soundex_sql` on the oracle side.
    The key is pure codegen (translate/regexp chains — no UDF); the
    pairing reuses the skew-capped ``_pairs_within_blocks`` (hot blocks
    excluded and RETURNED, never silently dropped — a B-sized block
    emits B(B-1)/2 pairs, so phonetic keys over web-scale name columns
    MUST be capped: soundex collapses hard, ~26^1*7^3 possible keys).

    Returns ``(pairs, oversized)``; rows whose key is NULL (no letters
    in the name) never pair — a NULL phonetic key is a non-key, the
    same consumer contract as ``canonical_url`` (webfilters.py).
    """
    from word_sense_disambiguation_spark.functions.phonetic import soundex_col

    keyed = df.select(
        F.col(id_col), soundex_col(name_expr).alias("phonetic_key")
    ).filter(F.col("phonetic_key").isNotNull())
    return _pairs_within_blocks(keyed, id_col, ["phonetic_key"], max_block_size)


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_expr: str,
    window: int = 4,
    bucket_len: int = 4,
) -> DataFrame:
    """Sorted-neighborhood blocking (merge/purge, Hernández & Stolfo 1995):
    sort all records by a key and pair each record with the next
    ``window - 1`` records in global sort order — the fourth member of the
    blocking family (equi-key / MinHash-LSH / phonetic / sorted
    neighborhood), catching near-misses that straddle *different* equi-key
    or phonetic blocks but sort adjacently ("Smith, J" / "Smith, Jo").
    No reference analogue (the reference blocks only on the ``(lemma,
    pos)`` lookup key, ``/root/reference/wsd/word_sense_disambiguation.py:384-387``);
    semantics per the classic formulation.

    Scale shape — the naive construction is a single-task global
    ``row_number`` window (the exact plan this engine bans); this one is a
    TWO-LEVEL rank that equals the global rank exactly:

    1. bucket = the key's leading ``bucket_len`` chars — prefix grouping is
       contiguous under lexicographic order, so ranks compose;
    2. level 1: per-bucket counts -> running-sum offsets. The window input
       is ONE ROW PER BUCKET (aggregate-before-the-hot-window, the
       ``boilerplate_dedup`` discipline), never row data;
    3. level 2: ``row_number`` partitioned by bucket (worst task = hottest
       bucket, tuned by ``bucket_len``), ordered by ``(key, id)`` — a total
       order, so ranks are unique and the output is parallelism-invariant
       bit-for-bit regardless of where bucket boundaries land.

    Pairing is then an equi-join on ``floor((rank-1)/g)`` chunks with the
    probe side exploded to its own and the next chunk (``g = window - 1``;
    a neighbor at gap <= g lives in one of exactly those two chunks, and in
    only one, so no dedup shuffle) — output is n*(window-1) rows, linear.

    Rows with a NULL sort key never pair (a NULL key is a non-key — the
    ``phonetic_key_pairs`` / ``canonical_url`` consumer contract). The key
    should be ASCII-normalized upstream: Spark and any UTF-8-byte-collating
    oracle agree on binary ASCII order (the ``levenshtein`` pin,
    CLAUDE.md). Returns ``(id_a, id_b, rank_gap)`` with ``rank_a < rank_b``.
    """
    if window < 2:
        raise ValueError("window must be >= 2 (a record plus >=1 neighbor)")
    g = window - 1
    keyed = df.select(
        F.col(id_col).alias("_snb_id"), F.expr(key_expr).alias("_k")
    ).filter(F.col("_k").isNotNull())
    keyed = keyed.withColumn("_b", F.substring(F.col("_k"), 1, bucket_len))

    counts = keyed.groupBy("_b").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "_b", (F.sum("_n").over(w_off) - F.col("_n")).alias("_off")
    )
    w_in = Window.partitionBy("_b").orderBy("_k", "_snb_id")
    ranked = (
        keyed.join(F.broadcast(offsets), on="_b")
        .select(
            "_snb_id",
            (F.col("_off") + F.row_number().over(w_in)).alias("_r"),
        )
    )
    probe = ranked.select(
        F.col("_snb_id").alias("id_a"),
        F.col("_r").alias("_ra"),
        F.explode(
            F.array(
                F.floor((F.col("_r") - 1) / g),
                F.floor((F.col("_r") - 1) / g) + 1,
            )
        ).alias("_chunk"),
    )
    build = ranked.select(
        F.col("_snb_id").alias("id_b"),
        F.col("_r").alias("_rb"),
        F.floor((F.col("_r") - 1) / g).alias("_chunk"),
    )
    return (
        probe.join(build, on="_chunk")
        .filter(
            (F.col("_rb") > F.col("_ra")) & (F.col("_rb") <= F.col("_ra") + g)
        )
        .select(
            "id_a",
            "id_b",
            (F.col("_rb") - F.col("_ra")).cast("long").alias("rank_gap"),
        )
    )


def blocking_cost_estimate(
    records: DataFrame,
    key_cols: list[str],
    max_block_size: int = 64,
) -> DataFrame:
    """Pre-flight cost audit of a PROPOSED blocking key, before anyone
    materializes a pair: one partial-combined groupBy over the key gives
    the exact pair bill ``candidate_pairs = Σ_k C(n_k, 2)`` (the number
    every blocked self-join will explode into), block-count/max-size
    skew facts, and how many blocks an engine cap at ``max_block_size``
    would divert to the oversized side table. Run it at 10^12 rows for
    the price of one aggregate — THEN decide whether the key needs
    another attribute, a cap, or canopies (Christen 2012 §7.2's quality/
    cost framework, the cost half of ``blocking_quality`` above).

    NULL key components count as a real block value on purpose
    (groupBy's NULL-equality): a mostly-null proposed key shows up here
    as one monster block — exactly the pathology the estimate exists to
    catch (same NULL contract as ``canonical_url``'s documented
    groupBy caveat). All BIGINT-exact doubled forms (DECIMAL(38,0) sum
    for the pair bill: a 10^9 hot block contributes ~10^18 before the
    halving); one row out.

    Output: ``(n_records, n_blocks, candidate_pairs, max_block_size_obs,
    n_oversized_blocks, oversized_pair_share)`` — the share is ONE IEEE
    division of the exact doubled sums (NULL when there are no pairs).
    """
    sizes = records.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count("*").cast("long").alias("n")
    )
    return sizes.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_records"),
        F.count("*").cast("long").alias("n_blocks"),
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias(
            "max_block_size_obs"
        ),
        F.coalesce(
            F.sum(F.when(F.col("n") > int(max_block_size), 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_oversized_blocks"),
        F.sum(
            F.when(
                F.col("n") > int(max_block_size),
                F.expr("CAST(n * (n - 1) AS DECIMAL(38,0))"),
            ).otherwise(F.expr("CAST(0 AS DECIMAL(38,0))"))
        ).alias("_over2"),
        F.sum(F.expr("CAST(n * (n - 1) AS DECIMAL(38,0))")).alias("_all2"),
    ).select(
        "n_records",
        "n_blocks",
        # the doubled sum halves evenly; DIV on the exact DECIMAL stays
        # integer-exact, then the BIGINT cast bounds output at 9.2e18
        # pairs (an estimate that large has already made the decision)
        F.expr("CAST(coalesce(_all2, 0) DIV 2 AS BIGINT)").alias(
            "candidate_pairs"
        ),
        "max_block_size_obs",
        "n_oversized_blocks",
        F.expr(
            "CASE WHEN _all2 IS NULL OR _all2 = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE CAST(coalesce(_over2, 0) AS DOUBLE)"
            "      / CAST(_all2 AS DOUBLE) END"
        ).alias("oversized_pair_share"),
    )


def meta_blocking_prune(
    records: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_block_size: int = 256,
    min_token_len: int = 2,
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Token blocking + CBS meta-blocking with Weighted Edge Pruning
    (Papadakis et al., "Comparison and generalization of blocking and
    meta-blocking" family): every shared token is a block; a candidate
    pair's weight is the NUMBER OF BLOCKS IT SHARES (Common Blocks
    Scheme); pairs below the global mean weight are pruned — the
    schema-agnostic recall-keeper that turns dirty token blocking's
    quadratic candidate soup into a high-precision edge set before any
    expensive pair scorer runs.

    Exactness discipline: WEP's mean-weight threshold is the one place
    this family usually goes float — here it never does. "cbs >= S/P"
    is evaluated as the integer cross-multiply ``cbs * P >= S`` (S =
    sum of weights, P = pair count, both BIGINT; ties at the mean KEEP
    the pair), so the kept set is bit-deterministic on any engine.
    Overflow bound: cbs <= blocks-per-record and P <= capped pair
    count; cbs * P stays under 2^63 until ~10^14 candidate pairs —
    far beyond what anyone should retain uncapped.

    Scale shape: tokens contract to DISTINCT (token, id) via one
    partial-combined groupBy; hot tokens (stopword blocks — crawl
    reality) are excluded by the ``max_block_size`` cap and surfaced in
    the returned ``oversized`` table (no silent drops — the
    `_pairs_within_blocks` contract); the within-block self-join is
    co-partitioned on the token; pair weights contract with ONE
    partial-combined ``groupBy(id_a, id_b)``; the mean is a one-row
    aggregate cross-joined back. ``materialize`` eagerly
    localCheckpoints the weighted pair table before its 2-consumer
    fan-out (mean + filter — the multi-consumer rule).

    Returns ``(kept, oversized)``: kept = (id_a, id_b, cbs) with
    id_a < id_b; oversized = (token, block_size) blocks skipped by the
    cap. Reference parity anchor: the same compute-only-what-the-
    decision-needs pruning the engine's canopy stars apply to its own
    blocking (`sense_block_star_pairs`), lifted to the token-block
    graph of a schema-free corpus.
    """
    from word_sense_disambiguation_spark.functions.text import WS_CLASS

    t = F.lower(F.trim(F.coalesce(F.col(text_col), F.lit(""))))
    toks = F.when(t == "", F.array()).otherwise(F.split(t, WS_CLASS + "+"))
    keyed = (
        records.select(F.col(id_col).alias("_mb_id"), F.explode(toks).alias("token"))
        .filter(F.length("token") >= int(min_token_len))
        .groupBy("token", "_mb_id")
        .agg(F.count(F.lit(1)).alias("_dup"))
        .select("token", "_mb_id")
    )
    pairs, oversized = _pairs_within_blocks(
        keyed, "_mb_id", ["token"], max_block_size
    )
    weighted = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("cbs")
    )
    if materialize:
        weighted = weighted.localCheckpoint(eager=True)
    tot = weighted.agg(
        F.coalesce(F.sum("cbs"), F.lit(0)).cast("long").alias("_s"),
        F.count(F.lit(1)).cast("long").alias("_p"),
    )
    kept = (
        weighted.crossJoin(F.broadcast(tot))
        .filter(F.col("cbs") * F.col("_p") >= F.col("_s"))
        .select("id_a", "id_b", "cbs")
    )
    return kept, oversized.select("token", "block_size")
