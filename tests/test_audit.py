"""Stage audit recorded by the stage's own write: the pyarrow-written
``partitions``/``scores`` rows agree with the Spark-side helpers, audit
tables mixing Spark- and pyarrow-written files read with one schema, a kind
outside the cascade's enum fails loudly, and a resume launches no audit job
beyond the block-skew aggregate."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osm_wikidata_spark.plans.audit import (
    append_audit,
    append_score_rows,
    block_skew_metrics,
    partition_metrics,
    score_distribution,
    score_observations,
)
from osm_wikidata_spark.plans.checkpoint import stage
from osm_wikidata_spark.plans.pipeline import run_pipeline
from osm_wikidata_spark.sources.transcripts import synth_transcripts
from tests.jobcount import jobs_in_group

STAGES = ("entities", "pairs", "edges", "components")


@pytest.fixture(scope="module")
def finished_run(spark, tmp_path_factory):
    """One completed durable run: (transcripts, run_dir, outputs)."""
    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=3)
    run_dir = str(tmp_path_factory.mktemp("audit") / "run")
    out = run_pipeline(spark, transcripts, run_dir=run_dir, run_id="first")
    return transcripts, run_dir, out


def _audit(spark, run_dir, table, run_id):
    rows = spark.read.parquet(os.path.join(run_dir, "audit", table))
    return rows.filter(F.col("run_id") == run_id)


def test_score_rows_equal_score_distribution(spark, finished_run):
    _, run_dir, out = finished_run
    got = {
        r["kind"]: r["pairs"]
        for r in _audit(spark, run_dir, "scores", "first").collect()
    }
    want = {r["kind"]: r["pairs"] for r in score_distribution(out["edges"], "first").collect()}
    assert got == want and sum(got.values()) == out["edges"].count()


def test_partition_rows_sum_to_stage_count(spark, finished_run):
    _, run_dir, out = finished_run
    part = _audit(spark, run_dir, "partitions", "first")
    for name in STAGES:
        rows = part.filter(F.col("stage") == name).collect()
        ids = [r["partition_id"] for r in rows]
        assert len(ids) == len(set(ids)), name
        assert sum(r["rows"] for r in rows) == out[name].count(), name


def test_audit_table_mixing_spark_and_pyarrow_files_reads(spark, finished_run):
    """A table already holding Spark-written files (as every earlier
    version wrote them) still reads with one schema after a new append."""
    transcripts, run_dir, out = finished_run
    append_audit(partition_metrics(out["pairs"], "spark", "pairs"), run_dir, "partitions")
    append_audit(score_distribution(out["edges"], "spark"), run_dir, "scores")
    spark_schema = {
        t: spark.read.parquet(
            *[
                os.path.join(run_dir, "audit", t, f)
                for f in os.listdir(os.path.join(run_dir, "audit", t))
                if f.endswith(".snappy.parquet")
            ]
        ).schema
        for t in ("partitions", "scores")
    }
    run_pipeline(spark, transcripts, run_dir=run_dir, run_id="after")
    for table in ("partitions", "scores"):
        path = os.path.join(run_dir, "audit", table)
        files = os.listdir(path)
        assert any(f.endswith(".snappy.parquet") for f in files)
        assert any(f.startswith("part-") and not f.endswith(".snappy.parquet") for f in files)
        for mixed in (spark.read.parquet(path), spark.read.option("mergeSchema", True).parquet(path)):
            assert mixed.schema == spark_schema[table], table
            assert {r["run_id"] for r in mixed.select("run_id").distinct().collect()} >= {
                "first", "spark", "after"
            }


def test_edge_kind_outside_enum_raises(spark, tmp_path):
    run_dir = str(tmp_path)
    stage(
        spark,
        run_dir,
        "edges",
        lambda: spark.createDataFrame(
            [(1, 2, True, "good"), (1, 3, True, "bogus"), (2, 3, False, None)],
            "left_id long, right_id long, matched boolean, kind string",
        ),
        observe=score_observations(),
    )
    with pytest.raises(ValueError, match="kind histogram"):
        append_score_rows(run_dir, "r", "edges")
    assert not os.path.exists(os.path.join(run_dir, "audit", "scores"))


def test_resume_launches_only_the_block_skew_jobs(spark, finished_run):
    """Re-running over a finished run_dir reads every stage and audits it
    from its files: the only jobs are the block-skew aggregate's."""
    transcripts, run_dir, out = finished_run
    resume = jobs_in_group(
        spark,
        "test-audit-resume",
        lambda: run_pipeline(spark, transcripts, run_dir=run_dir, run_id="resume"),
    )
    skew = jobs_in_group(
        spark,
        "test-audit-skew",
        lambda: append_audit(block_skew_metrics(out["blocks"], "skew"), run_dir, "blocks"),
    )
    assert 0 < resume <= skew
    assert _audit(spark, run_dir, "scores", "resume").count() > 0
