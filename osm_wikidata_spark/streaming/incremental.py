"""Incremental ingest of new transcript partitions (SURVEY.md §2.12).

The reference is batch-only; its "streaming" surface is a progress
side-channel (Postgres NOTIFY → websocket, job_queue.py:187-234).  The
engine's incremental obligation is instead: when new transcript files land,
re-block ONLY the new conversations and score them against the existing
block index — a foreachBatch join, not a full recompute.

Structured Streaming shape::

    readStream(transcripts) → foreachBatch(increment) → append edges

Each micro-batch:
1. builds entities/blocks for the batch's conversations,
2. joins batch blocks against the persisted block index (old ∪ new),
3. scores only the new candidate pairs,
4. commits the batch as a fresh DELTA generation.

State — the batch's ``blocks`` and ``entities`` deltas plus the full
``assignments`` map — lives in the delta chain of :mod:`.chain`, which
documents the layout and its crash-safety argument.  This module keeps
only what is ER-specific: the entity merge (:func:`_merge_entity_rows`,
exact because every entity column is per-name-derived) and
:func:`read_state`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.blocking import build_blocks, salted_pair_join
from ..plans.pipeline import extract_entities, score_pairs
from .chain import chain_paths, commit, hot_cap, stream_batches, with_chain

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, DataFrame] | None:
    """(blocks, entities) of the live state, read-side merged: blocks
    deduplicated on (block_id, block_key), entities set-union merged per
    conversation.  The consumer-facing view of a delta chain — also what
    compaction writes."""
    blocks_paths = chain_paths(state_dir, "blocks")
    if not blocks_paths:
        return None
    blocks = spark.read.parquet(*blocks_paths).dropDuplicates(["block_id", "block_key"])
    entities = spark.read.parquet(*chain_paths(state_dir, "entities"))
    return blocks, _merge_entity_rows(entities)


def _merge_entity_rows(entities: DataFrame) -> DataFrame:
    """Set-union merge of per-conversation entity rows.

    A conversation whose turns span micro-batches has one PARTIAL entity
    row per batch (and, under the delta layout, one per generation file);
    keeping an arbitrary one would silently lose mentions, making match
    decisions depend on union order.  The merge is EXACT because every
    entity column is derived per NAME (token/full-name/acronym keys,
    ending rules) or is itself a set/flag — the union of the partial
    rows' arrays equals a fresh ``extract_entities`` over the full
    conversation, and the decision context treats endings / place_names
    as order-insensitive sets (``score_pairs`` sorts each pair's union
    of them).  Idempotent, so a retried identical micro-batch still
    collapses to the same row.
    """
    return entities.groupBy("conv_id").agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("names")))).alias(
            "names"
        ),
        F.array_distinct(F.flatten(F.collect_list("tokens"))).alias("tokens"),
        F.array_distinct(F.flatten(F.collect_list("endings"))).alias("endings"),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("place_names")))
        ).alias("place_names"),
        F.max("is_hamlet").alias("is_hamlet"),
    )


def incremental_edges_batch(
    spark: SparkSession,
    batch_transcripts: DataFrame,
    state_dir: str,
    max_block_size: int | None = 1000,
    salt: int = 8,
    compact_every: int = 8,
) -> DataFrame:
    """Process one micro-batch: return new edges, commit a delta
    generation (a compacted base every ``compact_every`` commits).

    Per-batch cost: the only O(corpus) work is READ-side — the global
    block-count scan for the hot-key re-cap and the assignment-table
    relabel join — plus the amortised compaction write.  Everything
    written per commit is batch-sized except ``assignments`` (narrow,
    two columns).  The former layout rewrote full blocks+entities every
    commit; :mod:`.chain` gives the measured cost.
    """
    new_entities = extract_entities(batch_transcripts)
    # state keeps the UNCAPPED index: a key hot within one batch must still
    # contribute its full membership to the global counts, or the global
    # re-cap below would undercount it and re-admit a mega-block with
    # missing members.  Capping happens ONLY at the global level.
    new_blocks = build_blocks(new_entities, "conv_id", "tokens", max_block_size=None)

    # raw unions — no eager dedup/merge shuffle over the corpus here:
    # block duplicates (a retried batch's re-appended delta) are absorbed
    # by the hot cap's distinct member count + the final pair dedup, and
    # entities are merged AFTER pruning to the ids a consumer needs
    all_blocks = with_chain(spark, state_dir, "blocks", new_blocks)
    all_entities_raw = with_chain(spark, state_dir, "entities", new_entities)

    # probe with EVERY key of every conversation touched by this batch,
    # not just the batch's own partial keys: a conversation whose turns
    # span batches gained mentions, so pairs reachable through its OLD
    # keys must be (re)scored under the merged mention set.  Re-emitted
    # edges are additive downstream (incremental CC unions matched
    # edges), and the semi join is a broadcast of this batch's conv ids
    # — no extra shuffle.
    touched = F.broadcast(
        new_entities.select(F.col("conv_id").alias("block_id")).distinct()
    )
    probe_source = all_blocks.join(touched, "block_id", "left_semi")

    # hot-key cap against GLOBAL counts: a key under the cap within every
    # single batch can still accumulate into a mega-block across batches
    probe_blocks, build_blocks_side = hot_cap(
        all_blocks, ["block_key"], "block_id", max_block_size, probe_source
    )

    # NEGATIVE RESULT (measured, kept for the record): pre-pruning the
    # corpus side to the probe's distinct block_keys via a broadcast semi
    # join benched SLOWER (incremental leg 20.5 -> 26.5 s,
    # scripts/incremental_bench.py) and the executed plan shows why — at
    # the micro-batch design point every join here is already a
    # BroadcastHashJoin (the optimizer broadcasts the batch-sized side),
    # so the corpus side is scanned but NEVER shuffled and the prune only
    # adds an extra corpus scan + a broadcast barrier.  A key-prune would
    # start paying off only for batches too large for the probe side to
    # broadcast (the join degrades to sort-merge and the corpus would
    # shuffle) — if batches ever grow to that size, reintroduce it there.

    # candidate pairs touching at least one NEW conversation
    pairs = salted_pair_join(probe_blocks, build_blocks_side, salt=salt).filter(
        F.col("left_id") != F.col("right_id")
    )
    pairs = pairs.select(
        F.least("left_id", "right_id").alias("left_id"),
        F.greatest("left_id", "right_id").alias("right_id"),
        "block_key",
    ).dropDuplicates(["left_id", "right_id"])
    # cut the plan HERE: everything below references `pairs` repeatedly
    # (endpoints unions it twice, score_pairs joins entities on both
    # sides), so an un-cut lazy subtree — itself holding the salted join,
    # two hot-cap anti-joins, and the chain read — would be cloned into
    # the scoring plan combinatorially, and AQE's per-stage re-optimize
    # walks that whole tree: measured as a driver-side planning livelock
    # (one core pegged >12 min on a 60-conversation test) before this
    # checkpoint.  The frame is batch-fan-out-sized, so materialising it
    # is the cheap side of the trade at any scale.
    pairs = pairs.localCheckpoint(eager=True)

    # entity merge pruned to the ids scoring will touch (batch convs +
    # their pair partners — batch-fan-out-sized, NOT the corpus); the
    # merge is per-conversation local, so pruning first is exact
    endpoints = (
        pairs.select(F.col("left_id").alias("conv_id"))
        .unionByName(pairs.select(F.col("right_id").alias("conv_id")))
        .distinct()
    )
    scored_entities = _merge_entity_rows(
        all_entities_raw.join(endpoints, "conv_id", "left_semi")
    )

    # materialise edges BEFORE the commit: generation GC protects one
    # commit's worth of lazy reads, but eager is simpler to reason about
    edges = score_pairs(pairs, scored_entities).localCheckpoint(eager=True)

    commit(
        state_dir,
        {
            "blocks": (
                new_blocks,
                all_blocks.dropDuplicates(["block_id", "block_key"]),
            ),
            "entities": (new_entities, _merge_entity_rows(all_entities_raw)),
        },
        edges.filter(F.col("matched")),
        compact_every,
    )
    return edges


def stream_transcripts(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    edges_dir: str,
):
    """Wire the incremental batch into a Structured Streaming query."""
    return stream_batches(
        spark, TRANSCRIPT_SCHEMA, source_dir, checkpoint_dir, edges_dir,
        lambda batch: incremental_edges_batch(spark, batch, state_dir),
    )
