"""Stage audit recorded by the stage's own work: the pyarrow-written
``partitions``/``scores``/``blocks`` rows agree with the Spark-side
helpers, audit tables mixing Spark- and pyarrow-written files read with one
schema, a kind outside the cascade's enum fails loudly, a resume launches
no job, the edges sidecar's matched count is the stage's, and a durable
run's entities, blocks, pairs, edges and components stages keep their job
counts."""

from __future__ import annotations

import json
import os
import shutil

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
from osm_wikidata_spark.plans.checkpoint import stage, stage_metrics
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


def _block_row(row) -> dict:
    return {k: row[k] for k in row.asDict() if k not in ("run_id", "ts")}


def test_block_row_equals_block_skew_metrics(spark, finished_run):
    _, run_dir, out = finished_run
    (got,) = _audit(spark, run_dir, "blocks", "first").collect()
    assert _block_row(got) == _block_row(block_skew_metrics(out["blocks"], "first").first())


def test_block_row_of_empty_blocks(spark, tmp_path):
    """A cap that keeps no key leaves an empty index: its audit row has
    no block, null sizes, and still equals block_skew_metrics."""
    transcripts, _ = synth_transcripts(spark, n_conversations=20, turns_per_conv=2)
    run_dir = str(tmp_path / "run")
    out = run_pipeline(spark, transcripts, run_dir=run_dir, run_id="empty", max_block_size=0)
    assert out["blocks"].count() == 0
    (got,) = _audit(spark, run_dir, "blocks", "empty").collect()
    assert _block_row(got) == _block_row(block_skew_metrics(out["blocks"], "empty").first())
    assert got["n_blocks"] == 0 and got["max_block"] is None


def test_audit_table_mixing_spark_and_pyarrow_files_reads(spark, finished_run):
    """A table already holding Spark-written files (as every earlier
    version wrote them) still reads with one schema after a new append."""
    transcripts, run_dir, out = finished_run
    append_audit(partition_metrics(out["pairs"], "spark", "pairs"), run_dir, "partitions")
    append_audit(score_distribution(out["edges"], "spark"), run_dir, "scores")
    append_audit(block_skew_metrics(out["blocks"], "spark"), run_dir, "blocks")
    spark_schema = {
        t: spark.read.parquet(
            *[
                os.path.join(run_dir, "audit", t, f)
                for f in os.listdir(os.path.join(run_dir, "audit", t))
                if f.endswith(".snappy.parquet")
            ]
        ).schema
        for t in ("partitions", "scores", "blocks")
    }
    run_pipeline(spark, transcripts, run_dir=run_dir, run_id="after")
    for table in ("partitions", "scores", "blocks"):
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


def test_edges_sidecar_matched_equals_count(spark, finished_run, tmp_path):
    """The matched count the edges write observes is the count the
    components stage trusts as union-find's bound: it equals a count of
    the stored edges, also when the cap leaves no edge."""
    transcripts, run_dir, out = finished_run
    matched = stage_metrics(run_dir, "edges")["matched"]
    assert matched == out["edges"].filter("matched").count() > 0
    empty_dir = str(tmp_path / "run")
    empty = run_pipeline(
        spark, transcripts, run_dir=empty_dir, run_id="empty", max_block_size=0
    )
    assert stage_metrics(empty_dir, "edges")["matched"] == 0
    assert empty["edges"].filter("matched").count() == 0


def test_edges_sidecar_without_matched_rebuilds_once(spark, finished_run, tmp_path):
    """A run_dir whose edges sidecar predates the matched count rebuilds
    the edges stage once, to identical output, and reuses pairs; the next
    resume launches no job."""
    transcripts, finished, out = finished_run
    run_dir = str(tmp_path / "run")
    shutil.copytree(finished, run_dir)
    sidecar = os.path.join(run_dir, "edges", "_STAGE_METRICS.json")
    with open(sidecar) as f:
        record = json.load(f)
    matched = record["metrics"].pop("matched")
    with open(sidecar, "w") as f:
        json.dump(record, f)
    pairs_success = os.path.join(run_dir, "pairs", "_SUCCESS")
    pairs_mtime = os.path.getmtime(pairs_success)
    again = run_pipeline(spark, transcripts, run_dir=run_dir, run_id="legacy")
    assert stage_metrics(run_dir, "edges")["matched"] == matched
    assert os.path.getmtime(pairs_success) == pairs_mtime
    assert sorted(again["edges"].collect()) == sorted(out["edges"].collect())
    assert sorted(again["components"].collect()) == sorted(out["components"].collect())
    resume = jobs_in_group(
        spark,
        "test-audit-matched-resume",
        lambda: run_pipeline(spark, transcripts, run_dir=run_dir, run_id="again"),
    )
    assert resume == 0


def test_resume_launches_no_job(spark, finished_run):
    """Re-running over a finished run_dir reads every stage and audits it
    from its files and sidecars: no Spark job at all."""
    transcripts, run_dir, _ = finished_run
    resume = jobs_in_group(
        spark,
        "test-audit-resume",
        lambda: run_pipeline(spark, transcripts, run_dir=run_dir, run_id="resume"),
    )
    assert resume == 0
    assert _audit(spark, run_dir, "scores", "resume").count() > 0
    assert _audit(spark, run_dir, "blocks", "resume").count() == 1


def test_blocks_sidecar_without_summary_rebuilds(spark, finished_run, tmp_path):
    """A run_dir whose blocks sidecar predates the size summary rebuilds
    the blocks stage (its summary feeds the audit row and the pair join)
    to identical output, and reuses the stages after it."""
    transcripts, finished, out = finished_run
    run_dir = str(tmp_path / "run")
    shutil.copytree(finished, run_dir)
    sidecar = os.path.join(run_dir, "blocks", "_STAGE_METRICS.json")
    with open(sidecar) as f:
        record = json.load(f)
    summary = record.pop("facts")
    with open(sidecar, "w") as f:
        json.dump(record, f)
    pairs_success = os.path.join(run_dir, "pairs", "_SUCCESS")
    pairs_mtime = os.path.getmtime(pairs_success)
    again = run_pipeline(spark, transcripts, run_dir=run_dir, run_id="legacy")
    with open(sidecar) as f:
        assert json.load(f)["facts"] == summary
    assert os.path.getmtime(pairs_success) == pairs_mtime
    assert sorted(again["blocks"].collect()) == sorted(out["blocks"].collect())
    assert sorted(again["components"].collect()) == sorted(out["components"].collect())
    assert _audit(spark, run_dir, "blocks", "legacy").count() == 1


def test_durable_entities_and_pairs_stage_job_counts(spark, tmp_path, monkeypatch):
    """A durable run's entities stage is one aggregate plus its write (2
    jobs).  Its blocks stage explodes the entities' tokens with no dedup,
    so the cap's size aggregate and the write run no dedup exchange (4
    jobs).  With no key hot its pairs stage is the plain join, the pair
    dedup and the write (3 jobs).  The edges stage joins the entities onto
    both sides of each pair by broadcast and decides the pair in one UDF
    call, with no explode, dedup, join back or aggregate: two broadcasts
    and the write (3 jobs).  At this size the pairs table is smaller than
    the entities, so the first join broadcasts the pairs; once the
    entities are the smaller side (as on a 500×6 input) both joins reuse
    one entity broadcast and the stage takes 2 jobs.  The
    components stage passes the matched count the edges write observed to
    connected_components, so union-find runs with no canonical dedup or
    checkpoint (3 jobs)."""
    from osm_wikidata_spark.plans import pipeline

    real_stage = pipeline.stage
    jobs = {}

    def counted_stage(spark_, run_dir, name, build, **kw):
        out = {}
        jobs[name] = jobs_in_group(
            spark_,
            f"audit-stage-{name}",
            lambda: out.setdefault("df", real_stage(spark_, run_dir, name, build, **kw)),
        )
        return out["df"]

    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=3)
    # a stored input, as a durable run reads one: the generator's own
    # joins would otherwise run inside the entities stage
    transcripts.write.parquet(str(tmp_path / "input"))
    stored = spark.read.schema(transcripts.schema).parquet(str(tmp_path / "input"))
    monkeypatch.setattr(pipeline, "stage", counted_stage)
    pipeline.run_pipeline(spark, stored, run_dir=str(tmp_path / "run"), run_id="jobs")
    assert jobs["entities"] <= 2
    assert jobs["blocks"] <= 4
    assert jobs["pairs"] <= 3
    assert jobs["edges"] <= 3
    assert jobs["components"] <= 3
