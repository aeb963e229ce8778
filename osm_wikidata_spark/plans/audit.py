"""Per-partition lineage + metrics audit (SURVEY.md §2.6 A8; north_rule).

Every pipeline stage appends one row per (stage, partition) with row counts,
and scored stages add score/block histograms.  The reference's analog is the
Timing table + NOTIFY progress events (model.py:1605-1611,
job_queue.py:187-234); here it is an append-only table so a 1000-executor
run leaves an auditable trail without driver round-trips.

Like the reference's Timing rows, ``run_pipeline``'s audit numbers are a
side effect of doing the work, recorded by ``checkpoint.stage`` while it
writes a stage:

* ``partitions`` rows: rows per write task, from the stage's parquet
  footers (:func:`append_partition_rows`);
* ``scores`` rows: the decision-kind histogram, observed on the edges
  write (:func:`score_observations`, :func:`append_score_rows`);
* ``blocks`` rows: the block-size summary the blocks stage's own cap
  aggregate returned (``operators.blocking.capped_blocks``), kept in the
  stage's sidecar (:func:`append_block_rows`).

So the audit launches no Spark job, and a resume over finished stages
launches none.  Every append writes one pyarrow ``part-<uuid>.parquet``
file per call, with the column names and types the Spark-side helpers
below write, so a table mixing both kinds of file reads with one schema.
The Spark-side helpers stay for callers that audit a frame of their own
(``dropped_sink`` users, the benchmark's traced run).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, functions as F

from ..kernel.cascade import KINDS
from .checkpoint import stage_metrics, stage_partitions

_TS = pa.timestamp("us", tz="UTC")  # what Spark writes for TimestampType
_PARTITIONS = pa.schema(
    [("run_id", pa.string()), ("stage", pa.string()), ("partition_id", pa.int32()),
     ("rows", pa.int64()), ("ts", _TS)]
)
_BLOCKS = pa.schema(
    [("run_id", pa.string()), ("stage", pa.string()), ("n_blocks", pa.int64()),
     ("max_block", pa.int64()), ("avg_block", pa.float64()), ("p50_block", pa.int64()),
     ("p99_block", pa.int64()), ("ts", _TS)]
)
_SCORES = pa.schema(
    [("run_id", pa.string()), ("stage", pa.string()), ("kind", pa.string()),
     ("pairs", pa.int64()), ("ts", _TS)]
)


def partition_metrics(df: DataFrame, run_id: str, stage_name: str) -> DataFrame:
    """One row per Spark partition: (run_id, stage, partition_id, rows)."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage_name).alias("stage"),
            "partition_id",
            "rows",
            F.current_timestamp().alias("ts"),
        )
    )


def block_skew_metrics(blocks: DataFrame, run_id: str) -> DataFrame:
    """Block-size distribution: the skew telemetry the north_rule asks for."""
    sizes = blocks.groupBy("block_key").agg(F.count("*").alias("block_n"))
    return sizes.agg(
        F.lit(run_id).alias("run_id"),
        F.lit("blocks").alias("stage"),
        F.count("*").alias("n_blocks"),
        F.max("block_n").alias("max_block"),
        F.avg("block_n").alias("avg_block"),
        F.expr("percentile_approx(block_n, 0.5)").alias("p50_block"),
        F.expr("percentile_approx(block_n, 0.99)").alias("p99_block"),
        F.current_timestamp().alias("ts"),
    )


def score_distribution(edges: DataFrame, run_id: str) -> DataFrame:
    """Decision-kind histogram over scored edges (A8 score_hist analog):
    how many pairs matched per cascade kind, plus the miss count."""
    return (
        edges.groupBy(F.coalesce("kind", F.lit("no_match")).alias("kind"))
        .agg(F.count("*").alias("pairs"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit("edges").alias("stage"),
            "kind",
            "pairs",
            F.current_timestamp().alias("ts"),
        )
    )


def append_audit(df: DataFrame, run_dir: str | None, table: str) -> None:
    """Append metric rows under <run_dir>/audit/<table> (no-op without run_dir)."""
    if run_dir is None:
        return
    df.write.mode("append").parquet(os.path.join(run_dir, "audit", table))


def _append_rows(run_dir: str, table: str, schema: pa.Schema, columns: dict) -> None:
    """Write one pyarrow file under <run_dir>/audit/<table>: no Spark job.
    Written under a hidden name and renamed, so a reader never sees half
    a file; without the Arrow schema blob, which Spark does not read."""
    path = os.path.join(run_dir, "audit", table)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    n = len(next(iter(columns.values())))
    ts = [datetime.now(timezone.utc)] * n
    tmp = os.path.join(path, "." + name)
    pq.write_table(pa.table({**columns, "ts": ts}, schema=schema), tmp, store_schema=False)
    os.replace(tmp, os.path.join(path, name))


def append_partition_rows(run_dir: str | None, run_id: str, stage_name: str) -> None:
    """:func:`partition_metrics` rows for a stored stage, read from its
    parquet footers (no-op without run_dir)."""
    if run_dir is None:
        return
    parts = stage_partitions(run_dir, stage_name)
    _append_rows(
        run_dir,
        "partitions",
        _PARTITIONS,
        {
            "run_id": [run_id] * len(parts),
            "stage": [stage_name] * len(parts),
            "partition_id": [p for p, _ in parts],
            "rows": [n for _, n in parts],
        },
    )


def append_block_rows(run_dir: str | None, run_id: str, summary: dict) -> None:
    """The :func:`block_skew_metrics` row for a stored blocks stage, from
    the size summary its build recorded in the sidecar (no-op without
    run_dir)."""
    if run_dir is None:
        return
    _append_rows(
        run_dir,
        "blocks",
        _BLOCKS,
        {
            "run_id": [run_id],
            "stage": ["blocks"],
            **{k: [summary[k]] for k in _BLOCKS.names[2:-1]},
        },
    )


def score_observations() -> dict[str, Column]:
    """``checkpoint.stage`` aggregates for the edges write: the miss count
    plus one count per decision kind of the cascade."""
    return {
        "no_match": F.count_if(F.col("kind").isNull()),
        **{k: F.count_if(F.col("kind") == k) for k in KINDS},
    }


def append_score_rows(run_dir: str | None, run_id: str, stage_name: str = "edges") -> None:
    """:func:`score_distribution` rows for a stored edges stage, from the
    :func:`score_observations` values its write recorded (no-op without
    run_dir).  Raises when the histogram does not add up to the stage's
    rows — an edge whose kind is not in the cascade's enum."""
    if run_dir is None:
        return
    metrics = stage_metrics(run_dir, stage_name)
    hist = {k: metrics[k] for k in ("no_match", *KINDS) if metrics[k]}
    if sum(hist.values()) != metrics["rows"]:
        raise ValueError(
            f"{stage_name}: kind histogram {hist} sums to {sum(hist.values())}, "
            f"not the stage's {metrics['rows']} rows; kinds outside {KINDS}?"
        )
    _append_rows(
        run_dir,
        "scores",
        _SCORES,
        {
            "run_id": [run_id] * len(hist),
            "stage": [stage_name] * len(hist),
            "kind": list(hist),
            "pairs": list(hist.values()),
        },
    )
