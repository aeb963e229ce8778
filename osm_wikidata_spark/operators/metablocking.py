"""Meta-blocking: blocking-graph edge weighting and pruning.

Papadakis et al., "Meta-Blocking: Taking Entity Resolution to the Next
Level" (TKDE 2013).  Token/attribute blocking over dirty data produces a
candidate-pair multigraph whose edge multiplicity itself carries signal:
pairs that co-occur in MANY blocks are far likelier matches than pairs
sharing one stopword-ish block.  Meta-blocking weights each edge by its
co-occurrence statistics and prunes low-weight edges *before* the
expensive pairwise scoring stage — at 10^12 candidate pairs this is the
difference between scoring everything the blocker emits and scoring an
O(k·N) subset.

The reference's analog is its hand-tuned skip-tag/hot-key suppression
(place.py:70-85, implemented in blocking.py); meta-blocking is the
principled, data-driven generalisation the ER literature standardised on.

Scale shape:
* Edge weights need ONE self-join on block key (hot blocks capped by the
  shared :func:`~.dedup.cap_buckets` defence, dropped blocks observable
  via ``dropped_sink``) + ONE groupBy(left,right) — both shuffles key on
  compact ids.  Per-entity block counts ride in as a broadcast-eligible
  dim (bounded by entity count, joined pre-aggregated).
* WEP's global mean is a 1-row aggregate cross-joined back (broadcast of
  a scalar — always safe).
* CNP's per-node top-k is the standard two-direction explode + window
  rank, the same pattern as blocking.top_k_per_group; ranking happens on
  *rounded* weights with a deterministic id tiebreak so results are
  engine- and partitioning-stable.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import cap_buckets


def block_edge_weights(
    memberships: DataFrame,
    id_col: str = "id",
    block_col: str = "block_key",
    max_block: int | None = None,
    dropped_sink: Callable[[DataFrame], None] | None = None,
    precision: int = 6,
) -> DataFrame:
    """Weight every co-occurring pair: CBS and Jaccard block overlap.

    Returns ``(left_id, right_id, cbs, js)`` for every pair sharing ≥1
    block: ``cbs`` (Common Blocks Scheme) is the number of shared blocks,
    ``js`` the Jaccard ``cbs / (|B_l| + |B_r| - cbs)`` of the two block
    sets, rounded to ``precision`` (it feeds pruning thresholds and
    rankings downstream).  Memberships are set-deduplicated first;
    per-entity block counts |B_i| are taken PRE-cap (the entity's true
    blocking footprint), while pair generation respects ``max_block`` so a
    degenerate mega-block cannot emit quadratic candidates silently —
    dropped blocks surface through ``dropped_sink``.
    """
    m = memberships.select(id_col, block_col).dropDuplicates([id_col, block_col])
    # the PRE-cap |B_i| rides every membership row via a partition window
    # (one exchange on the membership table, whose per-entity degree is a
    # handful of blocking keys) and flows THROUGH the pair join — the
    # former counts-dim join-back re-shuffled the much larger PAIR frame
    # twice (node dims at 10^9 entities are far past broadcast range)
    m = m.withColumn("_nb", F.count("*").over(Window.partitionBy(id_col)))
    kept, dropped = cap_buckets(m, [block_col], max_block)
    if dropped_sink is not None:
        dropped_sink(dropped)
    left = kept.select(
        F.col(id_col).alias("left_id"), F.col("_nb").alias("nl"), block_col
    )
    right = kept.select(
        F.col(id_col).alias("right_id"), F.col("_nb").alias("nr"), block_col
    )
    cbs = (
        left.join(right, block_col)
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(
            F.count("*").alias("cbs"),
            F.first("nl").alias("nl"),  # per-entity constant within the group
            F.first("nr").alias("nr"),
        )
    )
    return cbs.select(
        "left_id",
        "right_id",
        "cbs",
        F.round(
            F.col("cbs").cast("double") / (F.col("nl") + F.col("nr") - F.col("cbs")),
            precision,
        ).alias("js"),
    )


def prune_edges_wep(weights: DataFrame, weight_col: str = "js") -> DataFrame:
    """Weighted Edge Pruning: keep edges AT OR ABOVE the global mean weight
    (Papadakis WEP discards weights *below* the average — ``>=`` matters:
    a uniform-weight edge set, the common single-channel blocking case
    where every pair shares exactly one block, has mean == every weight
    and a strict ``>`` would prune it to EMPTY, a silent 100% recall
    loss).  The mean is a single scalar — computed once and cross-joined
    back as a 1-row broadcast.

    Determinism at the boundary: weights arrive ``precision``-rounded
    (6 dp from :func:`block_edge_weights`), so both the mean and the
    comparison run in DECIMAL — a double ``avg`` is summation-order-
    dependent in its last ulp, which would flip edges sitting exactly on
    the mean in and out across partitionings/engines.  Decimal sum/count
    arithmetic is exact, so the kept set is a pure function of the data.
    """
    w_dec = F.col(weight_col).cast("decimal(38,12)")
    mean = weights.agg(
        (F.sum(w_dec) / F.count("*")).alias("_mean_w")
    )
    return (
        weights.crossJoin(F.broadcast(mean))
        .filter(F.col(weight_col).cast("decimal(38,12)") >= F.col("_mean_w"))
        .drop("_mean_w")
    )


def prune_edges_cnp(
    weights: DataFrame, k: int, weight_col: str = "js", persist: bool = False
) -> DataFrame:
    """Cardinality Node Pruning: keep an edge iff it ranks in EITHER
    endpoint's top-k by weight (the union variant — redundancy-positive,
    Papadakis §5.3).  Rank on the rounded weight with ascending-id
    tiebreak, so the kept set is deterministic across partitionings and
    engines.

    The weights frame is consumed three times (both union directions +
    the final semi-join); ``persist`` (opt-in, caller owns the cache
    entry — the ngram_jaccard_pairs convention) caches it once instead of
    recomputing the upstream edge-weighting plan per consumer.  Measured
    at sf0.1: 8.0 s → 5.0 s."""
    if persist:
        from pyspark import StorageLevel

        weights = weights.persist(StorageLevel.MEMORY_AND_DISK)
    directed = weights.select(
        F.col("left_id").alias("node"),
        F.col("right_id").alias("other"),
        weight_col,
    ).unionByName(
        weights.select(
            F.col("right_id").alias("node"),
            F.col("left_id").alias("other"),
            weight_col,
        )
    )
    w = Window.partitionBy("node").orderBy(
        F.col(weight_col).desc(), F.col("other").asc()
    )
    # no dropDuplicates on kept_dir: LEFT SEMI join semantics already
    # emit each weights row at most once however many build-side rows
    # match, so the dedup was a pure extra exchange of the kept frame
    # (an edge appears at most twice — once per direction)
    kept_dir = (
        directed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.least("node", "other").alias("left_id"),
            F.greatest("node", "other").alias("right_id"),
        )
    )
    return weights.join(kept_dir, ["left_id", "right_id"], "leftsemi")
