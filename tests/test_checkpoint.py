"""Stage-checkpoint semantics: resume on same params, rebuild on changed
params (the params fingerprint recorded in the stage sidecar)."""

from __future__ import annotations

import os

from osm_wikidata_spark.plans.checkpoint import completed_stages, stage


def _build_counter(spark, value):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(value,)], "v int")

    return build, calls


def test_same_params_reuse(spark, tmp_path):
    run_dir = str(tmp_path)
    build, calls = _build_counter(spark, 1)
    first = stage(spark, run_dir, "s1", build, params={"cap": 50})
    assert first.collect()[0]["v"] == 1 and calls["n"] == 1
    again = stage(spark, run_dir, "s1", build, params={"cap": 50})
    assert again.collect()[0]["v"] == 1 and calls["n"] == 1  # not rebuilt
    assert completed_stages(run_dir) == ["s1"]


def test_changed_params_rebuild(spark, tmp_path):
    run_dir = str(tmp_path)
    build_a, calls_a = _build_counter(spark, 1)
    stage(spark, run_dir, "s1", build_a, params={"cap": 50})
    # same stage name, different params: stale output must NOT be reused
    build_b, calls_b = _build_counter(spark, 2)
    rebuilt = stage(spark, run_dir, "s1", build_b, params={"cap": 500})
    assert calls_b["n"] == 1
    assert rebuilt.collect()[0]["v"] == 2


def test_legacy_stage_without_params_still_resumes(spark, tmp_path):
    run_dir = str(tmp_path)
    build, calls = _build_counter(spark, 7)
    stage(spark, run_dir, "legacy", build)  # no params → no manifest
    assert not os.path.exists(
        os.path.join(run_dir, "legacy", "_PARAMS_MANIFEST.json")
    )
    stage(spark, run_dir, "legacy", build)
    assert calls["n"] == 1


def test_stage_records_observed_metrics_and_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from osm_wikidata_spark.plans.checkpoint import stage_metrics, stage_partitions

    run_dir = str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(0, 100, numPartitions=3).withColumn("v", F.col("id") % 4)

    observe = {"zeros": F.count_if(F.col("v") == 0)}
    first = stage(spark, run_dir, "s1", build, observe=observe)
    assert stage_metrics(run_dir, "s1") == {"rows": 100, "zeros": 25}
    parts = stage_partitions(run_dir, "s1")
    assert [p for p, _ in parts] == [0, 1, 2] and sum(n for _, n in parts) == 100
    # reuse reads the sidecar; the stored frame has the schema Spark infers
    again = stage(spark, run_dir, "s1", build, observe=observe)
    assert calls["n"] == 1
    assert again.schema == spark.read.parquet(os.path.join(run_dir, "s1")).schema
    assert sorted(again.collect()) == sorted(first.collect())
    # an aggregate the sidecar does not hold rebuilds the stage
    stage(spark, run_dir, "s1", build, observe={"ones": F.count_if(F.col("v") == 1)})
    assert calls["n"] == 2 and stage_metrics(run_dir, "s1") == {"rows": 100, "ones": 25}


def test_missing_metrics_sidecar_rebuilds(spark, tmp_path):
    """A stage whose sidecar is missing — a crash between the parquet
    commit and the sidecar write, or a run_dir written before stages kept
    one — is not finished: it rebuilds to identical output."""
    run_dir = str(tmp_path)
    build, calls = _build_counter(spark, 3)
    first = sorted(stage(spark, run_dir, "s1", build, params={"cap": 50}).collect())
    os.remove(os.path.join(run_dir, "s1", "_STAGE_METRICS.json"))
    assert os.path.exists(os.path.join(run_dir, "s1", "_SUCCESS"))
    assert completed_stages(run_dir) == []
    again = stage(spark, run_dir, "s1", build, params={"cap": 50})
    assert calls["n"] == 2
    assert sorted(again.collect()) == first
    assert completed_stages(run_dir) == ["s1"]


_RETRY_RUN = r"""
import json, os, sys

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import functions as F

from osm_wikidata_spark.plans.checkpoint import stage, stage_metrics
from osm_wikidata_spark.session import build_session

run_dir = sys.argv[1]
marker = os.path.join(run_dir, "failed_attempts")
spark = build_session(master="local[2,2]", shuffle_partitions=4)


@F.pandas_udf("boolean")
def even(ids: pd.Series) -> pd.Series:
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        with open(marker, "a") as f:
            f.write("x")
        raise RuntimeError("forced failure of the first attempt")
    return ids % 2 == 0


def build():
    return spark.range(0, 1000, 1, 4).select("id", even("id").alias("matched"))


out = stage(spark, run_dir, "edges", build, observe={"matched": F.count_if("matched")})
with open(marker) as f:
    failed_attempts = len(f.read())
print("RESULT " + json.dumps({
    "observed": stage_metrics(run_dir, "edges"),
    "rows": out.count(),
    "matched": out.filter("matched").count(),
    "failed_attempts": failed_attempts,
}))
"""


def test_observed_counts_survive_a_task_retry(tmp_path):
    """The write's ``Observation`` counts each row once when a task fails
    and is retried: ``run_pipeline`` picks the CC path from the edges
    stage's observed ``matched`` count.  Runs in its own ``local[2,2]``
    session (one retry allowed), where the first attempt of partition 0
    raises inside a pandas UDF."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")]),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_RUN, str(tmp_path)],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("RESULT "))
    got = json.loads(line[len("RESULT "):])
    assert got["failed_attempts"] == 1
    assert got["rows"] == 1000 and got["matched"] == 500
    assert got["observed"] == {"rows": 1000, "matched": 500}
