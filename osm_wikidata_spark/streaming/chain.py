"""The delta-chain state store behind both incremental consumers.

``incremental.py`` (ER blocks/entities) and ``neardup.py`` (MinHash band
keys) keep their accumulated state here; each passes only what differs —
its tables, its hot-cap key and its matched edges.

Layout (object-store-safe — no directory renames, no file mutation)::

    <state_dir>/MANIFEST                ordered chain of live generations,
                                        one name per line, oldest first
    <state_dir>/gen-000001/<table>      immutable generation directories:
    <state_dir>/gen-000001/assignments  the consumer's tables plus the
                                        FULL (node, component) map

**Write O(batch), read merges the chain** (the LSM trade).  A normal
commit appends a generation whose tables hold ONLY the batch's rows and
extends the chain; readers union every generation's files, so each
consumer's read side must tolerate duplicate rows (a replayed batch
re-appends its delta) and, for the ER entities, merge partial rows.
Every ``compact_every`` commits the chain is COMPACTED: one generation
holding the fully folded state replaces it, bounding read fan-in — the
amortised O(corpus) write.  Measured before this layout, rewriting the
full state every commit made a 1000-conv batch into a 19000-conv corpus
only 1.54x cheaper than full recompute (scripts/incremental_bench.py;
BENCH.md).  ``assignments`` stays a full narrow table per commit,
maintained by contracted-graph ``incremental_components`` (O(batch)
work plus one relabel join), so resume and the next batch read one file.

**Crash safety.**  A generation directory is written in full, then the
manifest is atomically replaced (tmp file + ``os.replace``; an object
store does a single PUT, atomic on S3/GCS).  So the manifest only ever
names fully-written generations, and every table of a named generation
is complete.  A crash before the swap leaves an unreferenced directory:
readers never see it, and it is never re-used because numbering always
advances past every existing ``gen-NNNNNN``.  GC deletes a generation
only when neither the new chain nor the chain named on entry references
it, so a reader holding the previous manifest keeps one commit's worth
of time for its lazy reads (compaction retires a whole chain at once;
all of it outlives the compacting commit).  Orphans are also aged
:data:`_ORPHAN_AGE` numbers below the newest before they are swept.

Checkpointing is Spark's own streaming checkpoint (exactly-once per
batch given deterministic transforms); a retried identical micro-batch
appends a duplicate delta whose rows the read side absorbs.
"""

from __future__ import annotations

import os
import re
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from ..operators.components import incremental_components

_MANIFEST = "MANIFEST"
_GEN_RE = re.compile(r"^gen-(\d{6})$")
# an uncommitted generation must be this many numbers below the newest
# before GC sweeps it
_ORPHAN_AGE = 2


def chain(state_dir: str) -> list[str]:
    """Ordered list of live generation names (oldest first); [] if none."""
    manifest = os.path.join(state_dir, _MANIFEST)
    if not os.path.exists(manifest):
        return []
    with open(manifest, "r", encoding="ascii") as fh:
        return [line.strip() for line in fh if line.strip()]


def chain_paths(state_dir: str, table: str) -> list[str]:
    """Every live generation's ``table``, oldest first ([] if no state)."""
    return [os.path.join(state_dir, gen, table) for gen in chain(state_dir)]


def live_path(state_dir: str, table: str) -> str | None:
    """The newest generation's ``table`` — the complete table for one
    rewritten in full per commit (``assignments``) — or None."""
    paths = chain_paths(state_dir, table)
    return paths[-1] if paths else None


def with_chain(
    spark: SparkSession, state_dir: str, table: str, batch: DataFrame
) -> DataFrame:
    """Raw union of ``table`` across the chain and this batch's rows — no
    eager corpus-wide dedup; the caller's read side absorbs duplicates."""
    paths = chain_paths(state_dir, table)
    return spark.read.parquet(*paths).unionByName(batch) if paths else batch


def hot_cap(
    rows: DataFrame, keys: list[str], member: str, cap: int | None, probe: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """``(probe, rows)`` without the keys whose GLOBAL membership exceeds
    ``cap`` — a progressive cap: a key under the cap within every batch can
    still grow into a mega-block across batches, and once over it emits no
    new pairs.  ``count_distinct`` because chain files may repeat rows; the
    hot list is small by construction, so both sides anti-join a broadcast
    of it."""
    if cap is None:
        return probe, rows
    sizes = rows.groupBy(*keys).agg(F.count_distinct(member).alias("n"))
    hot = F.broadcast(sizes.filter(F.col("n") > cap).select(*keys))
    return probe.join(hot, keys, "left_anti"), rows.join(hot, keys, "left_anti")


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


def _swap_manifest(state_dir: str, new_chain: list[str], old_chain: list[str]) -> None:
    """Atomically repoint the manifest at ``new_chain``, then GC every
    generation neither chain names (see the module docstring)."""
    manifest = os.path.join(state_dir, _MANIFEST)
    tmp = manifest + ".tmp"
    with open(tmp, "w", encoding="ascii") as fh:
        fh.write("\n".join(new_chain) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, manifest)
    newest = int(_GEN_RE.match(new_chain[-1]).group(1))
    protected = set(new_chain) | set(old_chain)
    for name in os.listdir(state_dir):
        m = _GEN_RE.match(name)
        if m and name not in protected and int(m.group(1)) <= newest - _ORPHAN_AGE:
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)


def commit(
    state_dir: str,
    tables: dict[str, tuple[DataFrame, DataFrame]],
    matched: DataFrame,
    compact_every: int,
) -> None:
    """Commit one batch as a new generation.

    ``tables`` maps each table name to ``(delta, folded)``: the batch's
    rows, or the full state with the chain folded in (lazy; written only
    when this commit compacts, i.e. when the chain would exceed
    ``compact_every``).  ``matched`` holds the batch's accepted
    ``(left_id, right_id)`` edges; they are folded into the newest
    assignments, whose empty start takes the edge ids' own type.
    """
    spark = matched.sparkSession
    old_chain = chain(state_dir)
    gen = _next_generation(state_dir)
    compact = len(old_chain) >= compact_every
    gen_dir = os.path.join(state_dir, gen)
    for name, (delta, folded) in tables.items():
        (folded if compact else delta).write.mode("overwrite").parquet(
            os.path.join(gen_dir, name)
        )
    prev_path = live_path(state_dir, "assignments")
    if prev_path is None:
        id_type = matched.schema["left_id"].dataType
        schema = StructType(
            [StructField("node", id_type), StructField("component", id_type)]
        )
        prev = spark.createDataFrame([], schema)
    else:
        prev = spark.read.parquet(prev_path)
    incremental_components(prev, matched).write.mode("overwrite").parquet(
        os.path.join(gen_dir, "assignments")
    )
    _swap_manifest(state_dir, [gen] if compact else old_chain + [gen], old_chain)


def stream_batches(
    spark: SparkSession,
    schema: str,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    process: Callable[[DataFrame], DataFrame],
):
    """Run ``process`` on each micro-batch of new ``source_dir`` files and
    append its output, tagged with ``batch_id``, to ``out_dir``
    (``availableNow``: drain what has landed, then stop)."""

    def _for_each(batch_df: DataFrame, batch_id: int) -> None:
        process(batch_df).withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
        .writeStream.foreachBatch(_for_each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
