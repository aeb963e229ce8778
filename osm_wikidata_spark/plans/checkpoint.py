"""Stage-boundary checkpointing for resumable runs (SURVEY.md §7 stage 5).

The reference's resumability contract is a per-place state machine with a
commit per stage (`/root/reference/matcher/place.py:1289-1330`) plus
per-item done flags (place.py:1234).  The Spark equivalent: every pipeline
stage writes its output table once under ``<run_dir>/<stage>``; re-running
the pipeline with the same ``run_dir`` skips any finished stage and reads
the stored output instead.

A stage also records its own numbers while it is written, so auditing it
costs no job of its own:

* an ``Observation`` on the write counts the rows (plus any aggregates the
  caller passes) and :func:`stage` stores them, with the stage's schema and
  params fingerprint, in the ``_STAGE_METRICS.json`` sidecar (Spark's parquet reader skips
  ``_``-prefixed files); :func:`stage_metrics` reads them back;
* :func:`stage_partitions` reads rows per write task from the parquet
  footers of the stage's ``part-NNNNN`` files;
* values the build computed on the driver anyway (``facts``, e.g. the
  blocks stage's size summary) are kept in the sidecar too.

A stage is finished only when both ``_SUCCESS`` and the sidecar exist: the
sidecar is written last, so a run that died between the parquet commit and
the sidecar rebuilds the stage.  Reading a stored stage with the sidecar's
schema also skips the schema-inference job ``spark.read.parquet`` launches.

Storage is parquet plus the sidecar.  (Iceberg gives the same semantics via
snapshots, but the runtime jar is not available in this sandbox — the
storage layer is isolated here so swapping `.format("iceberg")` in is a
one-line change per SURVEY.md §7 risk register.)
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

_METRICS = "_STAGE_METRICS.json"
_PART_FILE = re.compile(r"part-(\d+)-")


def _done(path: str) -> bool:
    return all(os.path.exists(os.path.join(path, f)) for f in ("_SUCCESS", _METRICS))


def _params_hash(params: dict | None) -> str | None:
    if params is None:
        return None
    return hashlib.md5(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()


def _read_record(path: str) -> dict:
    with open(os.path.join(path, _METRICS)) as f:
        return json.load(f)


def _write_record(path: str, record: dict) -> None:
    """Write the sidecar atomically: a crash leaves either no sidecar (the
    stage rebuilds) or a whole one."""
    tmp = os.path.join(path, "_" + _METRICS + ".tmp")
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, os.path.join(path, _METRICS))


def stage(
    spark: SparkSession,
    run_dir: str | None,
    name: str,
    build: Callable[[], DataFrame],
    params: dict | None = None,
    observe: dict[str, Column] | None = None,
    facts: dict | None = None,
) -> DataFrame:
    """Materialise one pipeline stage, or reuse a prior run's output.

    With ``run_dir=None`` durable checkpointing is off; the stage output
    is localCheckpoint-ed (lazily) instead, so downstream stages neither
    recompute it NOR re-plan through it.  r06 evidence for checkpoint
    over ``.cache()``: a cached stage keeps its full child plan inside
    the InMemoryRelation, so every downstream query re-analyses the
    whole pipeline tree — the flagship's event log showed a 6.75 s
    driver-only gap (no job running) before the first real job, pure
    Catalyst time over the accumulated plan.  The LogicalRDD leaf a
    localCheckpoint leaves behind truncates that walk; like ``.cache()``
    the data is executor-pinned and non-fault-tolerant, which is exactly
    the tests/small-runs contract of the ``run_dir=None`` path (durable
    runs pass ``run_dir`` and get parquet stages).

    ``params`` fingerprints the stage's parameterisation, recorded in the
    sidecar: re-running the same ``run_dir`` with different parameters
    rebuilds the stage instead of silently reusing stale output (the
    ``_SUCCESS`` marker alone can't tell a max_block_size=50 run from a
    max_block_size=500 one).  The caller includes every parameter its
    inputs were built with — the upstream stages' params — so a change
    rebuilds every stage downstream of it.

    ``observe`` names extra aggregates (``{"no_match": F.count_if(...)}``)
    evaluated by the write itself, next to the ``rows`` count every durable
    stage records; :func:`stage_metrics` returns them.  A stored stage
    whose sidecar lacks one of them is rebuilt.  Ignored without
    ``run_dir``.

    ``facts`` is a dict the build fills with values it computed on the
    driver on the way (the blocks stage's size summary).  They are stored
    in the sidecar, and a reused stage fills ``facts`` back from it, so the
    caller reads them the same way whether or not the stage ran.  A stored
    stage whose sidecar holds no facts is rebuilt.
    """
    if run_dir is None:
        return build().localCheckpoint(eager=False)
    path = os.path.join(run_dir, name)
    fingerprint = _params_hash(params)
    observe = observe or {}
    record = _read_record(path) if _done(path) else None
    if not (
        record
        and record.get("params_hash") == fingerprint
        and set(observe) <= set(record["metrics"])
        and (facts is None or "facts" in record)
    ):
        frame = build()
        obs = Observation()
        aggs = {"rows": F.count(F.lit(1)), **observe}
        frame.observe(obs, *[c.alias(k) for k, c in aggs.items()]).write.mode(
            "overwrite"
        ).parquet(path)
        record = {
            "metrics": obs.get,
            "schema": frame.schema.jsonValue(),
            "params_hash": fingerprint,
        }
        if facts is not None:
            record["facts"] = facts
        _write_record(path, record)
    if facts is not None:
        facts.update(record["facts"])
    # the recorded schema spares the schema-inference job of a plain read
    return spark.read.schema(StructType.fromJson(record["schema"])).parquet(path)


def stage_metrics(run_dir: str, name: str) -> dict[str, int]:
    """The values observed while the stage was written: ``rows`` plus the
    caller's ``observe`` aggregates."""
    return _read_record(os.path.join(run_dir, name))["metrics"]


def stage_partitions(run_dir: str, name: str) -> list[tuple[int, int]]:
    """``(partition_id, rows)`` per write task, summed over the task's
    ``part-NNNNN`` files from their parquet footers — no Spark job."""
    path = os.path.join(run_dir, name)
    rows: dict[int, int] = {}
    for f in os.listdir(path):
        m = _PART_FILE.match(f)
        if m:
            pid = int(m.group(1))
            rows[pid] = rows.get(pid, 0) + pq.read_metadata(os.path.join(path, f)).num_rows
    return sorted(rows.items())


def completed_stages(run_dir: str) -> list[str]:
    """Which stages a previous run finished (for resume diagnostics)."""
    if not os.path.isdir(run_dir):
        return []
    return sorted(
        d for d in os.listdir(run_dir) if _done(os.path.join(run_dir, d))
    )
