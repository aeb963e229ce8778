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

State layout (object-store-safe — no directory renames, no file
mutation)::

    <state_dir>/MANIFEST                ordered chain of live generations,
                                        one name per line, oldest first
    <state_dir>/gen-000001/blocks       immutable generation directories
    <state_dir>/gen-000001/entities
    <state_dir>/gen-000001/assignments  (node, component) transitive
                                        clusters — always the FULL map,
                                        maintained by contracted-graph
                                        incremental CC (O(batch) work)

**Write O(batch), read merges the chain** (the LSM trade).  A normal
commit appends a generation whose blocks/entities files hold ONLY the
batch's rows and extends the manifest chain — measured before this
layout, rewriting the full merged state every commit made a 1000-conv
batch into a 19000-conv corpus cost only 1.54x cheaper than full
recompute (scripts/incremental_bench.py; BENCH.md), and at 10^12 turns
an O(corpus) write per micro-batch is the pipeline's death.  Readers
union the chain's files: blocks tolerate duplicate rows (pair output is
orientation-deduped and block counts use count_distinct), entities
merge per conversation (:func:`_merge_entity_rows` — exact because
every entity column is per-name-derived).  Every ``compact_every``
commits the chain is COMPACTED: one generation with the fully merged
state replaces it, bounding read fan-in; that is the amortised
O(corpus) write.  ``assignments`` stays a full (narrow, two-column)
table per commit so resume and the next batch read one file.

A generation directory is written in full, then the manifest is
atomically replaced (tmp file + ``os.replace``; an object store does a
single PUT, atomic on S3/GCS).  Every crash point is safe: an
unreferenced generation directory is invisible garbage (never re-used —
numbering always advances past it); the manifest always names
fully-written generations.

Checkpointing is Spark's own streaming checkpoint (exactly-once per batch
given deterministic transforms); a retried identical micro-batch appends
a duplicate delta whose rows the read-side dedup/merge absorbs.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.blocking import build_blocks, salted_pair_join
from ..operators.components import incremental_components
from ..plans.pipeline import extract_entities, score_pairs

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

_MANIFEST = "MANIFEST"
_GEN_RE = re.compile(r"^gen-(\d{6})$")


def _chain(state_dir: str) -> list[str]:
    """Ordered list of live generation names (oldest first); [] if none.

    A legacy single-line manifest reads as a chain of one (its generation
    held the full state, i.e. a base — exactly what a chain of one means).
    """
    manifest = os.path.join(state_dir, _MANIFEST)
    if not os.path.exists(manifest):
        return []
    with open(manifest, "r", encoding="ascii") as fh:
        return [line.strip() for line in fh if line.strip()]


def current_generation(state_dir: str) -> str | None:
    """Name of the NEWEST live generation (``gen-NNNNNN``) or None."""
    chain = _chain(state_dir)
    return chain[-1] if chain else None


def state_paths(state_dir: str) -> tuple[list[str], list[str]] | None:
    """(blocks_paths, entities_paths) of the live chain, oldest first, or
    None if no state.

    Falls back to the pre-manifest flat layout (``<state_dir>/blocks`` +
    ``<state_dir>/entities``, written by the full-rewrite implementation
    this replaced) so an upgrade does not silently rebuild from empty;
    the first post-upgrade commit writes a real generation and GCs the
    legacy dirs.
    """
    chain = _chain(state_dir)
    if not chain:
        legacy_blocks = os.path.join(state_dir, "blocks")
        legacy_entities = os.path.join(state_dir, "entities")
        if os.path.exists(os.path.join(legacy_blocks, "_SUCCESS")):
            return [legacy_blocks], [legacy_entities]
        return None
    return (
        [os.path.join(state_dir, g, "blocks") for g in chain],
        [os.path.join(state_dir, g, "entities") for g in chain],
    )


def assignments_path(state_dir: str) -> str | None:
    """Path of the newest generation's full ``(node, component)``
    assignment table, or None if no live generation carries one (upgrade
    note: backfill once with ``connected_components`` over the
    accumulated edges_dir, or accept that clusters restart from the next
    batch)."""
    for gen in reversed(_chain(state_dir)):
        path = os.path.join(state_dir, gen, "assignments")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return path
    return None


def read_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, DataFrame] | None:
    """(blocks, entities) of the live state, read-side merged: blocks
    deduplicated on (block_id, block_key), entities set-union merged per
    conversation.  The consumer-facing view of a delta chain — also what
    compaction writes."""
    live = state_paths(state_dir)
    if live is None:
        return None
    blocks_paths, entities_paths = live
    blocks = spark.read.parquet(*blocks_paths).dropDuplicates(
        ["block_id", "block_key"]
    )
    entities = _merge_entity_rows(spark.read.parquet(*entities_paths))
    return blocks, entities


def _next_generation(state_dir: str) -> str:
    """First generation name greater than every existing gen dir — so an
    orphaned directory from a crashed commit is never re-used."""
    highest = 0
    if os.path.isdir(state_dir):
        for name in os.listdir(state_dir):
            m = _GEN_RE.match(name)
            if m:
                highest = max(highest, int(m.group(1)))
    return f"gen-{highest + 1:06d}"


def _commit_generation(
    state_dir: str, chain: list[str], keep: int = 2
) -> None:
    """Atomically repoint the manifest at ``chain``, then GC dead
    generations.

    The write is tmp-file + ``os.replace`` (atomic on POSIX); an
    object-store port does a single PUT of the manifest object instead.
    GC grace: a generation is deleted only when it is neither in the NEW
    chain nor in the chain the manifest named ON ENTRY — i.e. everything
    the previous manifest referenced survives exactly one more commit,
    so a reader that loaded the previous manifest keeps a full commit's
    worth of time to finish its lazy reads.  This matters most at
    compaction, which retires the whole delta chain at once: the retired
    generations are all protected this commit and collected on the next.
    Orphans from crashed commits (never in any manifest) are additionally
    aged ``keep`` numbers below the newest before deletion, so a
    just-written-but-not-yet-committed directory is never swept by a
    concurrent-looking crash-retry commit.
    """
    manifest = os.path.join(state_dir, _MANIFEST)
    prev_chain = _chain(state_dir)
    tmp = manifest + ".tmp"
    with open(tmp, "w", encoding="ascii") as fh:
        fh.write("\n".join(chain) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, manifest)
    newest = max(int(_GEN_RE.match(g).group(1)) for g in chain)
    protected = set(chain) | set(prev_chain)
    for name in os.listdir(state_dir):
        m = _GEN_RE.match(name)
        if m and name not in protected and int(m.group(1)) <= newest - keep:
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)
    # pre-manifest flat layout, adopted read-only by state_paths(): once a
    # real generation is committed its contents are folded in — GC it
    for legacy in ("blocks", "entities"):
        path = os.path.join(state_dir, legacy)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)


def _plan_commit(
    state_dir: str, compact_every: int, force_compact: bool = False
) -> tuple[list[str], str, bool, list[str]]:
    """The chain-lifecycle decision shared by every delta-chain state
    machine (blocks/entities here, band_keys in neardup.py): returns
    ``(current_chain, next_gen, compact, new_chain)``.  Compaction
    triggers when the chain would exceed ``compact_every`` (or is
    forced, e.g. the legacy-layout upgrade); the caller writes either
    the full folded state (compact) or the batch delta into ``next_gen``
    and then commits ``new_chain``."""
    chain = _chain(state_dir)
    gen = _next_generation(state_dir)
    compact = force_compact or len(chain) + 1 > compact_every
    new_chain = [gen] if compact else chain + [gen]
    return chain, gen, compact, new_chain


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
    commit; see the module docstring for the measured cost.
    """
    new_entities = extract_entities(batch_transcripts)
    # state keeps the UNCAPPED index: a key hot within one batch must still
    # contribute its full membership to the global counts, or the global
    # re-cap below would undercount it and re-admit a mega-block with
    # missing members.  Capping happens ONLY at the global level.
    new_blocks = build_blocks(new_entities, "conv_id", "tokens", max_block_size=None)

    live = state_paths(state_dir)
    if live is not None:
        blocks_paths, entities_paths = live
        # raw unions — no eager dedup/merge shuffle over the corpus here:
        # block duplicates (a retried batch's re-appended delta) are
        # absorbed by count_distinct sizing + the final pair dedup, and
        # entities are merged AFTER pruning to the ids a consumer needs
        all_blocks = spark.read.parquet(*blocks_paths).unionByName(new_blocks)
        all_entities_raw = spark.read.parquet(*entities_paths).unionByName(
            new_entities
        )
    else:
        all_blocks = new_blocks
        all_entities_raw = new_entities

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

    # hot-key cap against GLOBAL counts (count_distinct: delta files may
    # carry duplicate membership rows): a key under the cap within every
    # single batch can still accumulate into a mega-block across batches
    if max_block_size is not None:
        sizes = all_blocks.groupBy("block_key").agg(
            F.count_distinct("block_id").alias("n")
        )
        hot = F.broadcast(
            sizes.filter(F.col("n") > max_block_size).select("block_key")
        )
        probe_blocks = probe_source.join(hot, "block_key", "left_anti")
        build_blocks_side = all_blocks.join(hot, "block_key", "left_anti")
    else:
        probe_blocks, build_blocks_side = probe_source, all_blocks

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

    # compact when the chain would exceed its bound — and ALWAYS when
    # upgrading from the legacy flat layout (its dirs are GC'd on commit,
    # so the first real generation must fold them in, not delta past them)
    legacy_upgrade = live is not None and not _chain(state_dir)
    _, gen, compact, new_chain = _plan_commit(
        state_dir, compact_every, force_compact=legacy_upgrade
    )
    gen_dir = os.path.join(state_dir, gen)
    if compact:
        # amortised O(corpus) write: fold the whole chain + this batch
        # into one base generation
        all_blocks.dropDuplicates(["block_id", "block_key"]).write.mode(
            "overwrite"
        ).parquet(os.path.join(gen_dir, "blocks"))
        _merge_entity_rows(all_entities_raw).write.mode("overwrite").parquet(
            os.path.join(gen_dir, "entities")
        )
    else:
        # O(batch) write: this batch's rows only
        new_blocks.write.mode("overwrite").parquet(os.path.join(gen_dir, "blocks"))
        new_entities.write.mode("overwrite").parquet(
            os.path.join(gen_dir, "entities")
        )

    # transitive clusters ride the same generation: contracted-graph
    # incremental CC over this batch's accepted edges — O(batch) work plus
    # the one-join relabel of the (narrow) full assignment table
    prev_path = assignments_path(state_dir)
    prev = (
        spark.read.parquet(prev_path)
        if prev_path is not None
        else spark.createDataFrame([], "node string, component string")
    )
    incremental_components(prev, edges.filter(F.col("matched"))).write.mode(
        "overwrite"
    ).parquet(os.path.join(gen_dir, "assignments"))
    _commit_generation(state_dir, new_chain)
    return edges


def stream_transcripts(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    edges_dir: str,
):
    """Wire the incremental batch into a Structured Streaming query."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )

    def _for_each(batch_df: DataFrame, batch_id: int) -> None:
        edges = incremental_edges_batch(spark, batch_df, state_dir)
        edges.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            edges_dir
        )

    return (
        stream.writeStream.foreachBatch(_for_each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
