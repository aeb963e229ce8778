"""Stage-checkpoint semantics: resume on same params, rebuild on changed
params (the _PARAMS_MANIFEST fingerprint added after ADVICE r1)."""

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
