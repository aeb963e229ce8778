"""Connected components vs a union-find oracle (SURVEY.md §7 stage 4)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from osm_wikidata_spark.operators import components
from osm_wikidata_spark.operators.components import connected_components
from tests.jobcount import jobs_in_group


def _union_find(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalise: min element of each set
    return {x: find(x) for x in parent}


def _check(spark, edges: list[tuple[str, str]]) -> None:
    df = spark.createDataFrame(edges, "left_id string, right_id string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = _union_find(edges)
    assert got == want


def test_chain(spark):
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(20)]
    _check(spark, edges)


def test_star_and_islands(spark):
    edges = [("hub", f"leaf{i}") for i in range(10)]
    edges += [("iso1", "iso2"), ("x1", "x2"), ("x2", "x3")]
    _check(spark, edges)


def test_random_graphs(spark):
    rng = random.Random(42)
    nodes = [f"v{i:03d}" for i in range(60)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(70)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_self_loops_and_duplicates(spark):
    edges = [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b"), ("c", "c")]
    df = spark.createDataFrame(edges, "left_id string, right_id string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    # pure self-loop nodes vanish (singletons are the pipeline's concern)
    assert got == {"a": "a", "b": "a"}


def test_incremental_equals_batch(spark):
    """Folding edge batches through incremental_components reproduces the
    full-recompute labels exactly at every step."""
    from osm_wikidata_spark.operators.components import incremental_components

    rng = random.Random(7)
    nodes = [f"v{i:03d}" for i in range(50)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    batches = [edges[0:20], edges[20:21], edges[21:45], edges[45:]]

    assignments = spark.createDataFrame([], "node string, component string")
    seen: list[tuple[str, str]] = []
    for batch in batches:
        if not batch:
            continue
        seen += batch
        bdf = spark.createDataFrame(batch, "left_id string, right_id string")
        assignments = incremental_components(assignments, bdf).localCheckpoint()
        got = {r["node"]: r["component"] for r in assignments.collect()}
        full = spark.createDataFrame(seen, "left_id string, right_id string")
        want = {
            r["node"]: r["component"] for r in connected_components(full).collect()
        }
        assert got == want


def test_incremental_merges_two_old_components(spark):
    """A single new edge joining two established components relabels every
    member of the losing component — and nothing else."""
    from osm_wikidata_spark.operators.components import incremental_components

    first = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q")],
        "left_id string, right_id string",
    )
    assignments = connected_components(first)
    bridge = spark.createDataFrame([("c", "x")], "left_id string, right_id string")
    got = {
        r["node"]: r["component"]
        for r in incremental_components(assignments, bridge).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a", "x": "a", "y": "a", "p": "p", "q": "p"
    }


def test_components_at_thresholds_ladder(spark):
    from pyspark.sql import functions as F

    from osm_wikidata_spark.operators.components import components_at_thresholds

    # chain a-b-c with weights 0.9, 0.5; d isolated via a weak 0.1 edge
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.5), (3, 4, 0.1)],
        "left_id bigint, right_id bigint, weight double",
    )
    out = components_at_thresholds(edges, [0.95, 0.5, 0.05])
    by_t = {}
    for r in out.collect():
        by_t.setdefault(r["threshold"], {})[r["node"]] = r["component"]
    # fixed node universe at every threshold
    assert all(set(m) == {1, 2, 3, 4} for m in by_t.values())
    # 0.95: nothing survives → all singletons
    assert by_t[0.95] == {1: 1, 2: 2, 3: 3, 4: 4}
    # 0.5: {1,2,3} merge, 4 singleton
    assert by_t[0.5] == {1: 1, 2: 1, 3: 1, 4: 4}
    # 0.05: everything merges
    assert by_t[0.05] == {1: 1, 2: 1, 3: 1, 4: 1}
    # monotone refinement: clusters only merge as the threshold drops
    for hi, lo in ((0.95, 0.5), (0.5, 0.05)):
        for a in (1, 2, 3, 4):
            for b in (1, 2, 3, 4):
                if by_t[hi][a] == by_t[hi][b]:
                    assert by_t[lo][a] == by_t[lo][b]


def test_components_at_thresholds_rejects_empty(spark):
    import pytest as _pytest

    from osm_wikidata_spark.operators.components import components_at_thresholds

    edges = spark.createDataFrame([(1, 2, 0.5)], "left_id long, right_id long, weight double")
    with _pytest.raises(ValueError):
        components_at_thresholds(edges, [])


def test_max_iterations_exhausted_raises(spark, monkeypatch):
    """Labels read off an unconverged edge set split components, so
    running out of rounds fails loudly instead of returning them."""
    monkeypatch.setattr(components, "LOCAL_EDGES", 0)
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(39)]
    df = spark.createDataFrame(edges, "left_id string, right_id string")
    with pytest.raises(RuntimeError, match="max_iterations=1"):
        connected_components(df, max_iterations=1)


def _oracle(edges) -> dict:
    """Union-find labels of every endpoint of a non-self-loop edge."""
    return _union_find([(a, b) for a, b in edges if a != b])


_DEGENERATE = {
    "empty": [],
    "self_loops_only": [(i, i) for i in range(5)],
    # hub in the middle of its leaves' id range, one leaf bridged to a chain
    "hub_and_chain": [(1000, i) for i in range(2001) if i != 1000]
    + [(2000, 3000)]
    + [(i, i + 1) for i in range(3000, 3040)],
    "duplicates_and_reversed": [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (4, 5), (5, 4)]
    + [(6, 6)],
}


def _check_matrix_case(spark, id_type, case, measured=False):
    edges = _DEGENERATE[case]
    if id_type == "string":
        edges = [(str(a), str(b)) for a, b in edges]
    df = spark.createDataFrame(edges, f"left_id {id_type}, right_id {id_type}")
    max_edges = len(edges) if measured else None
    rows = connected_components(df, max_edges=max_edges).collect()
    got = {r["node"]: r["component"] for r in rows}
    assert len(rows) == len(got)  # one label per node
    assert got == _oracle(edges)


@pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
@pytest.mark.parametrize("case", sorted(_DEGENERATE))
def test_id_types_and_degenerate_inputs(spark, id_type, case):
    """Every id type the signature admits, on inputs at the edges of the
    fixpoint loop (nothing to converge, one round, a high-degree star
    attached to a long chain, redundant edges).  String ids are the
    decimal text, so their order differs from the numeric one."""
    _check_matrix_case(spark, id_type, case)


@pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
@pytest.mark.parametrize("case", sorted(_DEGENERATE))
def test_id_types_and_degenerate_inputs_distributed(spark, monkeypatch, id_type, case):
    """The same matrix on the star loop (the default bound sends it all
    down the local path); -1 sends even the empty edge set through the
    loop."""
    monkeypatch.setattr(components, "LOCAL_EDGES", -1)
    _check_matrix_case(spark, id_type, case)


@pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
@pytest.mark.parametrize("case", sorted(_DEGENERATE))
def test_id_types_and_degenerate_inputs_measured(spark, id_type, case):
    """The same matrix with the caller's measured edge count as
    ``max_edges``: the raw edges reach union-find without the canonical
    dedup, so duplicates, reversed edges and self-loops reach it too."""
    _check_matrix_case(spark, id_type, case, measured=True)


@pytest.mark.parametrize("path", ["local", "distributed", "measured"])
def test_string_ids_order_as_spark_does(spark, monkeypatch, path):
    """Component minima of string ids follow Spark's UTF-8 byte order,
    which is code-point order: "\\uffff" < "\\U00010000" (UTF-16 would
    invert them), "z" < "é" and "a" < "a\\x00" (a C-string hash would
    merge those two)."""
    if path == "distributed":
        monkeypatch.setattr(components, "LOCAL_EDGES", -1)
    edges = [
        ("\U00010000", "\uffff"),
        ("é", "z"),
        ("a\x00", "a"),
        ("\U00010000", "é"),
        ("x", "a\x00"),
        ("ÿ", "\x7f"),
    ]
    df = spark.createDataFrame(edges, "left_id string, right_id string")
    max_edges = len(edges) if path == "measured" else None
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, max_edges=max_edges).collect()
    }
    assert got == _oracle(edges)


def test_chain_probe_job_count(spark, monkeypatch):
    """The chain probe (1,499 nodes, every 10th link cut) costs one job
    per exchange and one checkpoint job per materialised edge set, whose
    signature rides on the checkpoint: 24 jobs."""
    monkeypatch.setattr(components, "LOCAL_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 1499) if (i + 1) % 10 != 0],
        "left_id bigint, right_id bigint",
    )
    got = {}

    def run():
        labels = connected_components(edges)
        labels.write.format("noop").mode("overwrite").save()
        got["labels"] = labels

    assert jobs_in_group(spark, "cc-chain-probe", run) <= 24
    assert got["labels"].select("component").distinct().count() == 150


def test_chain_probe_job_count_local(spark):
    """On the local path the chain probe costs the canonical input's
    exchange and checkpoint, then the one-group exchange and the noop
    write that runs the union-find task: 4 jobs, with no rounds."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 1499) if (i + 1) % 10 != 0],
        "left_id bigint, right_id bigint",
    )
    got = {}

    def run():
        got["labels"] = connected_components(edges)
        got["labels"].write.format("noop").mode("overwrite").save()

    assert jobs_in_group(spark, "cc-chain-probe-local", run) <= 4
    assert got["labels"].select("component").distinct().count() == 150


def test_chain_probe_job_count_measured(spark):
    """With a measured ``max_edges`` within LOCAL_EDGES the chain probe
    skips the canonical exchange and its checkpoint: the one-group
    exchange and the noop write, 2 jobs.  A bound above LOCAL_EDGES takes
    the checkpointed path, whose observed count then picks union-find:
    the local path's 4 jobs."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 1499) if (i + 1) % 10 != 0],
        "left_id bigint, right_id bigint",
    )
    n = edges.count()

    def jobs(group, max_edges):
        got = {}

        def run():
            got["labels"] = connected_components(edges, max_edges=max_edges)
            got["labels"].write.format("noop").mode("overwrite").save()

        count = jobs_in_group(spark, group, run)
        assert got["labels"].select("component").distinct().count() == 150
        return count

    measured = jobs("cc-chain-probe-measured", n)
    above = jobs("cc-chain-probe-above-bound", components.LOCAL_EDGES + 1)
    assert measured <= 2
    assert above >= measured + 2


def test_no_separate_signature_action():
    """The fixpoint signature is observed on the action that materialises
    each round, so the module has no driver-side fetch of its own."""
    import inspect
    import re

    from osm_wikidata_spark.operators import components

    src = inspect.getsource(components)
    # DataFrame actions; F.count(...) is an aggregate expression, not one
    assert not re.search(r"(?<!\bF)\.(collect|first|take|head|count|toPandas)\(", src)


def test_pipeline_components_stage_job_count(spark, tmp_path, monkeypatch):
    """A durable run's components stage on this input converges in one
    round: 2 jobs for the canonical input, 4 for the round (3 exchanges +
    the checkpoint), 3 for the labels' distinct roots, the singleton join
    and the write."""
    from osm_wikidata_spark.plans import pipeline
    from osm_wikidata_spark.sources.transcripts import synth_transcripts

    monkeypatch.setattr(components, "LOCAL_EDGES", 0)
    real_stage = pipeline.stage
    jobs = {}

    def counted_stage(spark_, run_dir, name, build, **kw):
        out = {}
        jobs[name] = jobs_in_group(
            spark_,
            f"pipeline-stage-{name}",
            lambda: out.setdefault("df", real_stage(spark_, run_dir, name, build, **kw)),
        )
        return out["df"]

    monkeypatch.setattr(pipeline, "stage", counted_stage)
    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=3)
    pipeline.run_pipeline(spark, transcripts, run_dir=str(tmp_path / "run"), run_id="jobs")
    assert jobs["components"] <= 9


def test_pipeline_components_stage_job_count_local(spark, tmp_path, monkeypatch):
    """On the local path the same stage passes the matched count its
    edges write observed as ``max_edges``, so it skips the canonical
    input's dedup and checkpoint: the one-group exchange that runs the
    union-find task, the singleton join and the write, 3 jobs."""
    from osm_wikidata_spark.plans import pipeline
    from osm_wikidata_spark.sources.transcripts import synth_transcripts

    real_stage = pipeline.stage
    jobs = {}

    def counted_stage(spark_, run_dir, name, build, **kw):
        if name != "components":
            return real_stage(spark_, run_dir, name, build, **kw)
        out = {}
        jobs[name] = jobs_in_group(
            spark_,
            "pipeline-stage-components-local",
            lambda: out.setdefault("df", real_stage(spark_, run_dir, name, build, **kw)),
        )
        return out["df"]

    monkeypatch.setattr(pipeline, "stage", counted_stage)
    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=3)
    pipeline.run_pipeline(spark, transcripts, run_dir=str(tmp_path / "run"), run_id="jobs")
    assert jobs["components"] <= 3
