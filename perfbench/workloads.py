"""The four workloads: inputs, the timed job, its correctness check and
the traced layer-by-layer decomposition.

A workload object is built once per process.  ``prepare`` makes and
materialises the inputs from the seed (repeatable: set-up is timed several
times), ``job`` runs one timed job and checks it, ``trace`` runs the same
work one layer at a time, each layer's public function under its own Spark
job group.
"""

from __future__ import annotations

import shutil
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

import curation_inputs
import sparse_names
from harness import Counters, dir_bytes, fingerprint_cols

MAX_BLOCK_SIZE = 1000  # run_pipeline's default
SALT = 8
KERNEL_SAMPLE = 1500  # distinct name pairs timed in-process per traced run


@dataclass
class JobResult:
    """One timed job: ``wall_s`` and the check of its output.  ``extra``
    holds workload-specific timings (``resume_s``, stored bytes)."""

    wall_s: float
    fingerprint: object
    f1: float
    extra: dict = field(default_factory=dict)


def pair_f1(predicted: set, truth: set) -> float:
    if not predicted and not truth:
        return 1.0
    tp = len(predicted & truth)
    return 2.0 * tp / (len(predicted) + len(truth))


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _trace_tag() -> str:
    """Job-group prefix of one traced run, so that two traced runs in one
    session never read each other's jobs."""
    return f"trace-{uuid.uuid4().hex[:8]}"


# ------------------------------------------------------------------ ER


def er_check(components: DataFrame, truth: DataFrame) -> tuple[list, float]:
    """Fingerprint of ``components(conv_id, component)`` and pairwise F1
    against ``truth(conv_id, group_id)``, from one aggregate job."""
    rows = (
        components.join(truth, "conv_id", "left")
        .groupBy("component", "group_id")
        .agg(*fingerprint_cols(["conv_id", "component"]))
        .collect()
    )
    n = sum(int(r["fp_n"]) for r in rows)
    h = sum(int(r["fp_h"]) for r in rows)
    by_comp: dict = {}
    by_group: dict = {}
    tp = 0
    for r in rows:
        k = int(r["fp_n"])
        by_comp[r["component"]] = by_comp.get(r["component"], 0) + k
        if r["group_id"] is not None:
            by_group[r["group_id"]] = by_group.get(r["group_id"], 0) + k
            tp += k * (k - 1) // 2
    pred = sum(k * (k - 1) // 2 for k in by_comp.values())
    true = sum(k * (k - 1) // 2 for k in by_group.values())
    f1 = 1.0 if pred + true == 0 else 2.0 * tp / (pred + true)
    return [n, str(h)], f1


class ErWorkload:
    """The product path, ``plans.pipeline.run_pipeline``, from transcripts
    to components.  ``durable`` runs it with a fresh ``run_dir`` per job
    (parquet stages plus audit appends); :meth:`resume` then restarts the
    last job after losing its ``edges`` and ``components`` outputs."""

    durable = False
    # untimed passes before the timed jobs; one more would not fit the time
    # that all graded runs together may take
    warmup_passes = 1

    def __init__(self, work: Path):
        self.work = work
        self.transcripts = None
        self.truth = None
        self.input_bytes = 0
        self.last_run_dir: Path | None = None
        self._runs = 0

    def make_input(self, spark, seed: int):
        raise NotImplementedError

    def prepare(self, spark, seed: int) -> None:
        spark.catalog.clearCache()
        transcripts, truth = self.make_input(spark, seed)
        if self.durable:
            path = self.work / "input"
            transcripts.write.mode("overwrite").parquet(str(path))
            self.input_bytes = dir_bytes(path)
            self.transcripts = spark.read.parquet(str(path))
        else:
            self.transcripts = _ckpt(transcripts)
        self.truth = _ckpt(truth)

    def _run_dir(self) -> Path:
        self._runs += 1
        path = self.work / "runs" / str(self._runs)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def job(self, spark, group: str) -> JobResult:
        from osm_wikidata_spark.plans.pipeline import run_pipeline

        sc = spark.sparkContext
        run_dir = None
        if self.durable:
            if self.last_run_dir is not None:
                shutil.rmtree(self.last_run_dir, ignore_errors=True)
            run_dir = self._run_dir()
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        out = run_pipeline(
            spark, self.transcripts, run_dir=str(run_dir) if run_dir else None
        )
        out["components"].write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobGroup(group + ":check", "check")
        fp, f1 = er_check(out["components"], self.truth)
        result = JobResult(wall, fp, f1)
        if self.durable:
            result.extra["stored_bytes_per_input_byte"] = dir_bytes(run_dir) / self.input_bytes
            self.last_run_dir = run_dir
        return result

    def resume(self, spark, group: str) -> JobResult:
        """Delete the last job's ``edges`` and ``components`` outputs, as if
        it died after ``pairs``, and run again on the same ``run_dir``."""
        from osm_wikidata_spark.plans.pipeline import run_pipeline

        run_dir = self.last_run_dir
        for name in ("edges", "components"):
            shutil.rmtree(run_dir / name)
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        out = run_pipeline(spark, self.transcripts, run_dir=str(run_dir))
        out["components"].write.format("noop").mode("overwrite").save()
        resume_s = time.perf_counter() - t0
        sc.setJobGroup(group + ":check", "check")
        fp, f1 = er_check(out["components"], self.truth)
        shutil.rmtree(run_dir, ignore_errors=True)
        return JobResult(resume_s, fp, f1)

    # ------------------------------------------------------------ traced

    def trace(self, spark) -> tuple[dict, list]:
        """Run the pipeline's layers one at a time, each under its own job
        group, and return ``(per-layer metrics, components fingerprint)``."""
        from osm_wikidata_spark.kernel.cascade import match_names
        from osm_wikidata_spark.operators.blocking import (
            block_size_stats,
            build_blocks,
            salted_pair_join,
        )
        from osm_wikidata_spark.operators.components import connected_components
        from osm_wikidata_spark.plans import audit
        from osm_wikidata_spark.plans.checkpoint import stage
        from osm_wikidata_spark.plans.pipeline import extract_entities, score_pairs
        from osm_wikidata_spark.sources.transcripts import GLOBAL_ENDINGS

        sc = spark.sparkContext
        counters = Counters(spark)
        tag = _trace_tag()
        run_dir = self._run_dir() if self.durable else None
        m: dict[str, float] = {}
        clock = {"ckpt.write_s": 0.0, "ckpt.read_s": 0.0, "audit.s": 0.0}

        stage_names = {"extract": "entities", "score": "edges", "cc": "components"}

        def layer(name: str, build, params: dict | None = None) -> DataFrame:
            sc.setJobGroup(f"{tag}:{name}", name)
            t0 = time.perf_counter()
            df = _ckpt(build())
            m[f"{name}.s"] = time.perf_counter() - t0
            if run_dir is None:
                return df
            sc.setJobGroup(f"{tag}:ckpt", "ckpt")
            t0 = time.perf_counter()
            stored = stage(
                spark, str(run_dir), stage_names.get(name, name), lambda: df, params=params
            )
            t1 = time.perf_counter()
            stored.write.format("noop").mode("overwrite").save()
            clock["ckpt.write_s"] += t1 - t0
            clock["ckpt.read_s"] += time.perf_counter() - t1
            return stored

        def audited(frame_fn, table: str) -> None:
            if run_dir is None:
                return
            sc.setJobGroup(f"{tag}:audit", "audit")
            t0 = time.perf_counter()
            audit.append_audit(frame_fn(), str(run_dir), table)
            clock["audit.s"] += time.perf_counter() - t0

        run_id = "trace"
        t_start = time.perf_counter()
        entities = layer("extract", lambda: extract_entities(self.transcripts))
        audited(lambda: audit.partition_metrics(entities, run_id, "entities"), "partitions")
        blocks = layer(
            "blocks",
            lambda: build_blocks(entities, "conv_id", "tokens", MAX_BLOCK_SIZE),
            {"max_block_size": MAX_BLOCK_SIZE},
        )
        audited(lambda: audit.block_skew_metrics(blocks, run_id), "blocks")
        pairs = layer(
            "pairs",
            lambda: salted_pair_join(blocks, blocks, salt=SALT).filter(
                F.col("left_id") < F.col("right_id")
            ),
            {"salt": SALT, "max_block_size": MAX_BLOCK_SIZE, "snm_window": None, "cnp_k": None},
        )
        audited(lambda: audit.partition_metrics(pairs, run_id, "pairs"), "partitions")
        edges = layer(
            "score",
            lambda: score_pairs(pairs, entities),
            {"endings": None, "salt": SALT, "max_block_size": MAX_BLOCK_SIZE},
        )
        audited(lambda: audit.partition_metrics(edges, run_id, "edges"), "partitions")
        audited(lambda: audit.score_distribution(edges, run_id), "scores")

        def _components() -> DataFrame:
            labels = connected_components(edges.filter(F.col("matched")), "left_id", "right_id")
            return (
                entities.select("conv_id")
                .join(labels.withColumnRenamed("node", "conv_id"), "conv_id", "left")
                .select("conv_id", F.coalesce("component", "conv_id").alias("component"))
            )

        components = layer("cc", _components)
        audited(lambda: audit.partition_metrics(components, run_id, "components"), "partitions")
        m["trace.wall_s"] = time.perf_counter() - t_start
        m.update(clock)
        m["ckpt.s"] = clock["ckpt.write_s"] + clock["ckpt.read_s"]

        for name in ("extract", "blocks", "pairs", "score", "cc", "ckpt", "audit"):
            stats = counters.read(f"{tag}:{name}", summaries=True)
            m[f"{name}.jobs"] = stats.jobs
            m[f"{name}.shuffle_bytes"] = stats.shuffle_bytes
            m[f"{name}.spill_bytes"] = stats.spill_bytes
            m[f"{name}.task_skew"] = stats.task_skew
        m["ckpt.bytes"] = (
            sum(dir_bytes(run_dir / n) for n in ("entities", "blocks", "pairs", "edges", "components"))
            if run_dir
            else 0
        )
        m["score.udf_rows"] = counters.plan_node_rows(f"{tag}:score", "ArrowEvalPython")

        # layer counts, from extra jobs outside every layer's group
        sc.setJobGroup(f"{tag}:probe", "probe")
        ent = entities.agg(F.count("*").alias("n"), F.avg(F.size("names")).alias("npe")).first()
        m["extract.entities"] = ent["n"]
        m["extract.names_per_entity"] = float(ent["npe"] or 0.0)
        b = block_size_stats(blocks).agg(
            F.count("*").alias("keys"), F.sum("block_n").alias("rows"), F.max("block_n").alias("max")
        ).first()
        m["blocks.keys"] = b["keys"]
        m["blocks.rows"] = int(b["rows"] or 0)
        m["blocks.max_block"] = int(b["max"] or 0)
        m["blocks.capped_rows"] = (
            build_blocks(entities, "conv_id", "tokens", None).count() - m["blocks.rows"]
        )
        m["pairs.n"] = pairs.count()
        sizes = entities.select("conv_id", F.size("names").alias("k"))
        m["score.exploded"] = int(
            pairs.join(sizes.withColumnRenamed("conv_id", "left_id").withColumnRenamed("k", "kl"), "left_id")
            .join(sizes.withColumnRenamed("conv_id", "right_id").withColumnRenamed("k", "kr"), "right_id")
            .agg(F.sum(F.col("kl") * F.col("kr")).alias("x"))
            .first()["x"]
            or 0
        )
        e = edges.agg(F.count("*").alias("n"), F.count_if("matched").alias("hit")).first()
        m["score.memo_ratio"] = m["score.udf_rows"] / m["score.exploded"] if m["score.exploded"] else 0.0
        m["score.match_ratio"] = e["hit"] / e["n"] if e["n"] else 0.0
        m["score.pairs_per_s"] = m["pairs.n"] / m["score.s"]
        c = (
            components.groupBy("component").count()
            .agg(F.count("*").alias("n"), F.max("count").alias("max"))
            .first()
        )
        m["cc.edges_in"] = e["hit"]
        m["cc.components"] = c["n"]
        m["cc.max_component"] = c["max"]

        # kernel: match_names in-process on a seeded sample of the
        # workload's distinct name pairs, both directions like the UDF
        names = entities.select("conv_id", F.explode("names").alias("name"))
        distinct = (
            pairs.join(names.toDF("left_id", "left_name"), "left_id")
            .join(names.toDF("right_id", "right_name"), "right_id")
            .select("left_name", "right_name")
            .distinct()
        )
        sample = [
            (r["left_name"], r["right_name"])
            for r in distinct.orderBy(F.xxhash64("left_name", "right_name")).limit(KERNEL_SAMPLE).collect()
        ]
        endings = set(GLOBAL_ENDINGS)
        done, t0 = 0, time.perf_counter()
        while sample and (done == 0 or time.perf_counter() - t0 < 0.5):
            for left, right in sample:
                match_names(left, right, endings) or match_names(right, left, endings)
            done += len(sample)
        m["kernel.pairs_per_s"] = done / (time.perf_counter() - t0) if done else 0.0

        fp, f1 = er_check(components, self.truth)
        m["trace.f1"] = f1
        if run_dir:
            shutil.rmtree(run_dir, ignore_errors=True)
        return m, fp


class ErDense(ErWorkload):
    """``sources.transcripts.synth_transcripts``: a few dozen giant blocks
    of nearly all-matching pairs; the name memo collapses scoring."""

    n_conversations = 2000

    def make_input(self, spark, seed: int):
        from osm_wikidata_spark.sources.transcripts import synth_transcripts

        return synth_transcripts(spark, self.n_conversations, 6, seed=seed)


class ErResume(ErDense):
    """The ``er_dense`` generator at a smaller size, durable, plus resume."""

    durable = True
    n_conversations = 500


class ErSparse(ErWorkload):
    """Long-tail names: mostly distinct non-matching candidate pairs, so
    the kernel behind ``pair_decision_udf`` does most of the work."""

    n_entities = 150
    entities_per_mid = 48

    def make_input(self, spark, seed: int):
        corpus = sparse_names.generate(seed, self.n_entities, self.entities_per_mid)
        return sparse_names.to_spark(spark, corpus, seed)


# ------------------------------------------------------------ curation


def _curation_ops(inputs: curation_inputs.CurationInputs) -> list[tuple[str, object]]:
    """``(layer name, build)`` per public operator call, in run order."""
    from osm_wikidata_spark.operators import dedup, scoring, similarity
    from osm_wikidata_spark.plans.curation import curate

    docs = inputs.docs
    return [
        ("curate", lambda: curate(docs)),
        ("minhash", lambda: dedup.minhash_lsh_pairs(docs)),
        (
            "semdedup",
            lambda: similarity.semdedup(inputs.vectors, inputs.centres, threshold=0.95),
        ),
        ("monge_elkan", lambda: scoring.monge_elkan(inputs.name_pairs)),
    ]


def _fingerprints(outputs: dict[str, DataFrame]) -> dict[str, list]:
    """Every output's fingerprint, from one job."""
    frames = [
        df.agg(*fingerprint_cols(df.columns)).select(F.lit(name).alias("op"), "fp_n", "fp_h")
        for name, df in outputs.items()
    ]
    union = frames[0]
    for frame in frames[1:]:
        union = union.unionByName(frame)
    rows = {r["op"]: r for r in union.collect()}
    return {name: [int(rows[name]["fp_n"]), str(int(rows[name]["fp_h"] or 0))] for name in outputs}


def _pair_set(df: DataFrame, a: str, b: str) -> set[tuple[int, int]]:
    return {(min(r[0], r[1]), max(r[0], r[1])) for r in df.select(a, b).collect()}


class Curation:
    """The operator modules behind the training-data plans, on seeded
    documents, vectors and name pairs."""

    durable = False
    # after one untimed pass the next job still ran 10-30% slower than the
    # one after it (10 seeds, 4 cores): the median of the two jobs after a
    # second untimed pass spread 15% across those seeds instead of 19%
    warmup_passes = 2

    def __init__(self, work: Path):
        self.work = work
        self.inputs = None

    def prepare(self, spark, seed: int) -> None:
        spark.catalog.clearCache()
        inputs = curation_inputs.build(spark, seed)
        inputs.docs = _ckpt(inputs.docs)
        inputs.vectors = _ckpt(inputs.vectors)
        inputs.name_pairs = _ckpt(inputs.name_pairs)
        self.inputs = inputs

    def _check(self, outputs: dict[str, DataFrame]) -> tuple[dict, float]:
        """Fingerprints, and the worse F1 of the two near-dup operators
        against the planted duplicates.  The planted documents differ only
        in case and whitespace, so every MinHash band of a planted pair
        agrees.  semdedup maps each group member to the group's canonical
        id, so the closure of those edges is every pair inside a group."""
        sem = outputs["semdedup"].filter(F.col("doc_id") != F.col("canonical_id"))
        f1 = min(
            pair_f1(_pair_set(outputs["minhash"], "left_id", "right_id"), self.inputs.doc_dups),
            pair_f1(
                curation_inputs.pair_closure(_pair_set(sem, "doc_id", "canonical_id")),
                self.inputs.vec_dups,
            ),
        )
        return _fingerprints(outputs), f1

    def job(self, spark, group: str) -> JobResult:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        outputs = {name: _ckpt(build()) for name, build in _curation_ops(self.inputs)}
        wall = time.perf_counter() - t0
        sc.setJobGroup(group + ":check", "check")
        fps, f1 = self._check(outputs)
        return JobResult(wall, fps, f1)

    def trace(self, spark) -> tuple[dict, dict]:
        sc = spark.sparkContext
        counters = Counters(spark)
        tag = _trace_tag()
        m: dict[str, float] = {}
        outputs = {}
        t_start = time.perf_counter()
        for name, build in _curation_ops(self.inputs):
            sc.setJobGroup(f"{tag}:{name}", name)
            t0 = time.perf_counter()
            outputs[name] = _ckpt(build())
            m[f"{name}.s"] = time.perf_counter() - t0
        m["trace.wall_s"] = time.perf_counter() - t_start
        for name in outputs:
            stats = counters.read(f"{tag}:{name}", summaries=True)
            m[f"{name}.jobs"] = stats.jobs
            m[f"{name}.shuffle_bytes"] = stats.shuffle_bytes
            m[f"{name}.spill_bytes"] = stats.spill_bytes
            m[f"{name}.task_skew"] = stats.task_skew
        sc.setJobGroup(f"{tag}:probe", "probe")
        fps, f1 = self._check(outputs)
        for name, (rows, _) in fps.items():
            m[f"{name}.rows_out"] = rows
        m["trace.f1"] = f1
        return m, fps


WORKLOADS = {
    "er_dense": ErDense,
    "er_sparse": ErSparse,
    "er_resume": ErResume,
    "curation_ops": Curation,
}
