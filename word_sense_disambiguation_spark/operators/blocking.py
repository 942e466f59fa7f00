"""Stage-1 blocking: candidate-pair generation without the O(n^2) cross join.

The ER job blocks and scores in ONE place, :func:`er_scored_edges`: one
shuffle on the normalized surface key ``(norm_surface, pos)`` — the
relational analogue of the reference's ``(lemma, pos)`` definition lookup
key (``wsd/word_sense_disambiguation.py:384-387``) — then
per block the scorer-aware pairs (only the pairs the pair scorer can
match, plus one hub star per block that keeps every member in the
clustered node set) or, for a block over the cap, linear canopy-aware
star edges, scored in the same pass. ``run_er_pipeline``, the incremental
attach residual, the driver-contract ER queries and the scaling harness
all call it, so every ER job runs the same blocking policy under the same
cap (:data:`ER_MAX_BLOCK`).

The rest of the module:

* :func:`surface_key_pairs` ∪ :func:`oversized_star_pairs` — the
  historical all-pairs-within-a-block union that ``er_scored_edges`` is
  proven exact against (the exactness test and perfbench's traced run
  use it as the reference);
* :func:`minhash_bands` / :func:`minhash_lsh_pairs` — MinHash-LSH banding
  over char shingles (no reference analogue; semantics per the classic
  banding construction, MMDS ch.3), the candidate generator of the
  near-duplicate dedup operators;
* :func:`phonetic_key_pairs` — Soundex blocking for spelling-variant
  names that share no surface key (driver query ``phonetic_blocking``);
* :func:`blocking_quality` — pair completeness and reduction ratio of a
  candidate set against gold pairs.

Every pair generator is skew-aware: hot blocks are the scale killer (a
block of size B emits B(B-1)/2 pairs), so each takes ``max_block_size``.
``surface_key_pairs``, ``phonetic_key_pairs`` and ``minhash_lsh_pairs``
emit a side table of the blocks they dropped — **no silent caps** — and ``er_scored_edges`` turns
such blocks into linear star edges itself. The reference's
analogue of this discipline is its length-bucketed batching
(``wsd/masked_language_model.py:113-126``) — bounding worst-case work per
unit, never dropping silently (it warns, ``training/train.py:374-396``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from word_sense_disambiguation_spark.functions.hashing import (
    char_shingles,
    lsh_bands,
    minhash_signature,
)
from word_sense_disambiguation_spark.operators.pairs import (
    MATCH_THRESHOLD,
    W_COS,
    W_JW,
    W_SENSE,
    pruning_covers,
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


# float32 unit roundoff: cosine_batch computes in float32
_F32_EPS = 2.0**-24


def _runs(sorted_codes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Start offset and length of each run of equal values."""
    n = len(sorted_codes)
    starts = np.flatnonzero(np.r_[True, sorted_codes[1:] != sorted_codes[:-1]])
    return starts, np.diff(np.r_[starts, n])


def _hub_pairs(group: np.ndarray, rank: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row pairs (hub, other): each group's lowest-rank row to every other
    row of the group; rows of group -1 take no part."""
    rows = np.flatnonzero(group >= 0)
    o = rows[np.lexsort((rank[rows], group[rows]))]
    starts, sizes = _runs(group[o])
    hub = np.repeat(starts, sizes)
    other = np.arange(len(o)) != hub
    return o[hub[other]], o[other]


def _all_pairs(group: np.ndarray, rank: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row pairs (i, j), rank[i] < rank[j], of every two rows sharing a
    group; rows of group -1 take no part. Enumerated with repeat/cumsum
    arithmetic, no python loop."""
    rows = np.flatnonzero(group >= 0)
    o = rows[np.lexsort((rank[rows], group[rows]))]
    starts, sizes = _runs(group[o])
    later = np.repeat(starts + sizes, sizes) - np.arange(len(o)) - 1
    i = np.repeat(np.arange(len(o)), later)
    j = i + 1 + np.arange(len(i)) - np.repeat(np.cumsum(later) - later, later)
    return o[i], o[j]


def _sql_and(terms: list[tuple[np.ndarray, np.ndarray]]) -> np.ndarray:
    """SQL three-valued AND of ``(value, is_null)`` terms as a float column:
    0.0 if any term is false, else NaN (Spark NULL) if any is null, else
    1.0 — ``CAST(a AND b AND c AS DOUBLE)``."""
    false = np.zeros(len(terms[0][0]), dtype=bool)
    null = np.zeros_like(false)
    for value, is_null in terms:
        false |= ~value & ~is_null
        null |= is_null
    return np.where(false, 0.0, np.where(null, np.nan, 1.0))


def _block_pairs(
    pdf: pd.DataFrame, block: np.ndarray, rank: np.ndarray, max_block_size: int
) -> tuple[np.ndarray, np.ndarray]:
    """Row pairs (i, j), id order, of the ER candidate set over whole
    blocks: the scorer-aware pairs of blocks within the cap and the
    oversized-star edges of blocks over it (see :func:`er_scored_edges`)."""
    from word_sense_disambiguation_spark.functions.hashing import (
        signed_count_matrix,
    )

    over = (np.bincount(block) > max_block_size)[block]
    assigned = (pdf["decision"] == "assigned").to_numpy()

    M = signed_count_matrix(pdf["context_words"]).astype(np.int64)
    sq = (M * M).sum(axis=1).astype(np.float64)
    # the cosine margin proof holds in a block with 4*R*S*eps*1.001 < 1,
    # R = max |v|^2 (nnz + 3) and S = max |v|^2 over its members
    r_max = pd.Series(sq * ((M != 0).sum(axis=1) + 3)).groupby(block).transform("max")
    s_max = pd.Series(sq).groupby(block).transform("max")
    wide = (4.0 * r_max * s_max * _F32_EPS * 1.001 >= 1.0).to_numpy() & ~over

    g = np.gcd.reduce(np.abs(M), axis=1)
    has_vec = (g > 0) & ~wide & ~over
    direction = M // np.maximum(g, 1)[:, None]
    vec_group = np.unique(
        np.column_stack([block, direction]), axis=0, return_inverse=True
    )[1].reshape(-1)

    same_sense = assigned & pdf["pred_sense_id"].notna().to_numpy() & ~wide & ~over
    keyed = pdf.assign(_b=block)
    sense_group = keyed.groupby(
        ["_b", "pred_sense_id"], sort=False, dropna=False
    ).ngroup().to_numpy()
    # oversized blocks: groupBy semantics, NULL lemma / sense is a value
    canopy = keyed.groupby(
        ["_b", "lemma", "pred_sense_id"], sort=False, dropna=False
    ).ngroup().to_numpy()

    found = [
        _hub_pairs(np.where(over, -1, block), rank),
        _all_pairs(np.where(wide, block, -1), rank),
        _all_pairs(np.where(same_sense, sense_group, -1), rank),
        _all_pairs(np.where(has_vec, vec_group, -1), rank),
        _hub_pairs(np.where(over & assigned, canopy, -1), rank),
        _hub_pairs(np.where(over & ~assigned, block, -1), rank),
    ]
    i = np.concatenate([f[0] for f in found])
    j = np.concatenate([f[1] for f in found])
    n = np.int64(len(pdf))
    code = np.unique(rank[i].astype(np.int64) * n + rank[j])
    row = np.empty(len(pdf), dtype=np.int64)
    row[rank] = np.arange(len(pdf))
    return row[code // n], row[code % n]


def _block_edges_run(
    batches: Iterator[pd.DataFrame],
    max_block_size: int,
    threshold: float,
    w_jw: float,
    w_cos: float,
    w_sense: float,
) -> Iterator[pd.DataFrame]:
    """Per-partition pass of :func:`er_scored_edges` over whole blocks (the
    partition holds every member of each of its blocks): enumerate the
    candidate pairs, then score them with ``score_mention_pairs``' kernels
    in its float order."""
    from word_sense_disambiguation_spark.functions.hashing import embed_token_bags
    from word_sense_disambiguation_spark.functions.similarity import (
        cosine_batch,
        jaro_winkler_batch,
    )

    parts = [b for b in batches if len(b)]
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True)
    rank, uniq = pd.factorize(pdf["mention_id"], sort=True)  # rank order == id order
    uniq = np.asarray(uniq)
    block = pdf.groupby(["norm_surface", "pos"], sort=False).ngroup().to_numpy()
    i, j = _block_pairs(pdf, block, rank, max_block_size)
    if not len(i):
        return

    score = np.zeros(len(i))
    if w_jw != 0.0:
        surface = pdf["surface"].to_numpy(dtype=object)
        score = score + w_jw * jaro_winkler_batch(surface[i], surface[j])
    if w_cos != 0.0:
        E = embed_token_bags(pdf["context_words"])  # once per member
        cos = cosine_batch(E[i], E[j]).astype(np.float64)
        score = score + w_cos * np.maximum(cos, 0.0)
    decision, sense = pdf["decision"], pdf["pred_sense_id"]
    d_val = (decision == "assigned").to_numpy()
    d_null = decision.isna().to_numpy()
    s_val = sense.to_numpy(dtype=object)
    s_null = sense.isna().to_numpy()
    same = _sql_and([
        (d_val[i], d_null[i]),
        (d_val[j], d_null[j]),
        (s_val[i] == s_val[j], s_null[i] | s_null[j]),
    ])
    score = score + w_sense * same
    is_match = score >= threshold
    if np.isnan(score).any():  # a NULL score compares to NULL
        is_match = np.where(np.isnan(score), None, is_match)

    first = np.full(block.max() + 1, len(pdf))
    np.minimum.at(first, block, rank)
    yield pd.DataFrame({
        "id_a": uniq[rank[i]],
        "id_b": uniq[rank[j]],
        "lev_norm": np.zeros(len(i), dtype=np.int32),
        "score": score,
        "is_match": is_match,
        "block_id": uniq[first[block[i]]],
    })


def er_scored_edges(
    assignments: DataFrame,
    max_block_size: int = ER_MAX_BLOCK,
    threshold: float = MATCH_THRESHOLD,
    w_jw: float = W_JW,
    w_cos: float = W_COS,
    w_sense: float = W_SENSE,
) -> DataFrame:
    """The ER job's blocking and pair scoring in one keyed pass ->
    ``(id_a, id_b, lev_norm, score, is_match, block_id)``.

    ``assignments`` needs ``mention_id`` (unique), the surface key
    ``(norm_surface, pos)`` and the attributes the scorer reads
    (``surface, lemma, decision, pred_sense_id, context_words``). Rows with
    a NULL key never pair. ONE shuffle on the block key brings every
    member of a block into one partition, and one vectorized per-partition
    pass enumerates the block's candidate pairs and scores them.

    **Pairs.** Blocks over ``max_block_size`` get
    :func:`oversized_star_pairs`' linear stars (no silent caps: a hot block
    degrades to O(B) star edges, never to zero): assigned members star to
    the minimum id of their ``(key, lemma, pred_sense_id)`` canopy, all
    other members to the block's minimum id. Blocks of 2..cap emit only

    (a) hub edges from the block's minimum id to every other member, so
        every member stays in the clustered node set;
    (b) all pairs of ``assigned`` members sharing a ``pred_sense_id``;
    (c) all pairs whose primitive signed-count context vectors are equal
        — the hashed embedding before normalization
        (:func:`hashing.signed_count_matrix`) divided by the gcd of its
        entries. An all-zero vector never pairs.

    Every pair is a pair of ``surface_key_pairs`` ∪ ``oversized_star_pairs``
    (the historical candidate set), and each is emitted once.

    **Scores.** Bit-equal to :func:`pairs.score_mention_pairs` on the same
    pairs: ``jaro_winkler_batch`` on the surfaces, ``embed_token_bags``
    once per member then ``cosine_batch``, summed as
    ``((0.0 + w_jw·jw) + w_cos·max(cos, 0)) + w_sense·same`` with SQL NULL
    semantics for ``same``; a term whose weight is 0 is not computed.
    ``lev_norm`` is 0 by construction (both sides share ``norm_surface``).
    ``block_id`` is the block's minimum mention id: every edge lies inside
    one block, so :func:`clustering.block_clusters` clusters per block.

    **Exactness.** Every pair of the historical set that the pair scorer
    can match is emitted, for any weights with ``w_jw, w_cos >= 0`` and
    ``w_jw + w_cos <= threshold`` (``w_cos > 0`` when equal) —
    :func:`pairs.pruning_covers`, checked here (``ValueError`` otherwise);
    the defaults 0.2 + 0.4 = 0.6 and the sense-only config qualify. The
    node set is unchanged by (a), so matched edges and clusters are
    identical. Proof: a pair that is not
    same-sense (b) scores ``w_jw*jw + w_cos*max(c, 0)`` with ``jw <= 1``;
    it can reach the threshold only if the float32 cosine ``c`` of
    ``cosine_batch`` is >= 1.0, and ``c >= 1.0`` needs parallel integer
    count vectors u, v, i.e. equal primitive vectors (c). For
    non-parallel u, v, Lagrange's identity gives
    ``|u|²|v|² - (u·v)² = Σ_{i<j} (u_i v_j - u_j v_i)² >= 1``, so
    ``1 - cos >= 1/(2|u|²|v|²)`` — with at most 24 context tokens
    (``CONTEXT_WINDOW = 12`` per side) that is >= 1/(2·576²) = 1.5e-6.
    The computed value overshoots the exact cosine by at most
    ``E = (k + (p+q)/2 + 6)·eps·(1 + 1e-3)`` (eps = 2^-24; p, q nonzero
    entries, k <= min(p, q) nonzero products): 2·eps for rounding the
    normalized entries to float32 (an angle shift <= eps per side), γ_k
    for the float32 dot product (adding a zero term is exact), γ_p/2 + eps
    and γ_q/2 + eps for the two norms, and 2·eps for the denominator
    product and the division. Since ``(p+q+6)|u|²|v|² <= 2·R·S`` with
    ``R = max |v|²(nnz+3)`` and ``S = max |v|²`` over the block, the
    margin beats E whenever ``4·R·S·eps·1.001 < 1``; for 24-token contexts
    R <= 3300 and S <= 576, giving 0.45. Then ``c <= 1 - 2^-24`` and the
    score stays below the threshold by >= ``w_cos·2^-24``. A block whose
    vectors break that bound (longer contexts) keeps all its pairs, so the
    pruning is exact for any input.

    **Trade-off.** A block over the cap is handled inside one task: O(B)
    rows and O(B) star edges, never O(B²), but not spread over tasks.
    Sharding hot blocks is left to an exact sub-blocking on the two match
    classes (same sense, equal primitive vector).
    """
    if not pruning_covers(w_jw, w_cos, threshold):
        raise ValueError(
            f"scorer config w_jw={w_jw}, w_cos={w_cos}, threshold={threshold}: "
            "the ER pair pruning is exact only for w_jw, w_cos >= 0 "
            "and w_jw + w_cos <= threshold (w_cos > 0 at equality); see "
            "pairs.pruning_covers"
        )
    key = ["norm_surface", "pos"]
    id_type = dict(assignments.dtypes)["mention_id"]
    members = assignments.select(
        "mention_id", *key, "surface", "lemma", "decision", "pred_sense_id",
        "context_words",
    ).filter(F.col("norm_surface").isNotNull() & F.col("pos").isNotNull())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _block_edges_run(
            batches, max_block_size, threshold, w_jw, w_cos, w_sense
        )

    return members.repartition(*key).mapInPandas(
        run,
        schema=f"id_a {id_type}, id_b {id_type}, lev_norm int, score double, "
        f"is_match boolean, block_id {id_type}",
    )


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

