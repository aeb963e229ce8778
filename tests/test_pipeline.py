"""End-to-end pipeline tests: transcripts → components, graded as pairwise F1
against the generator's ground truth (BASELINE.json metric: F1 ≥ 0.99), plus
the per-turn text-equality invariant and checkpoint resume."""

from __future__ import annotations

import itertools
import os
import shutil

import pytest
from pyspark.sql import functions as F

from osm_wikidata_spark.functions.udfs import DECISION_SCHEMA
from osm_wikidata_spark.operators.blocking import (
    build_blocks,
    capped_blocks,
    salted_pair_join,
)
from osm_wikidata_spark.plans.checkpoint import completed_stages
from osm_wikidata_spark.plans.pipeline import extract_entities, run_pipeline
from osm_wikidata_spark.sources.transcripts import synth_transcripts


def _pairwise_f1(components: dict[str, str], truth: dict[str, int]) -> float:
    def pairs(assign: dict) -> set[frozenset]:
        by_cluster: dict = {}
        for k, v in assign.items():
            by_cluster.setdefault(v, []).append(k)
        out = set()
        for members in by_cluster.values():
            out.update(frozenset(p) for p in itertools.combinations(sorted(members), 2))
        return out

    got, want = pairs(components), pairs(truth)
    if not got and not want:
        return 1.0
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    if precision + recall == 0:
        return 0.0
    return 2 * precision * recall / (precision + recall)


def test_pipeline_f1(spark):
    transcripts, truth = synth_transcripts(spark, n_conversations=232, turns_per_conv=4)
    out = run_pipeline(spark, transcripts)
    components = {
        r["conv_id"]: r["component"] for r in out["components"].collect()
    }
    truth_map = {r["conv_id"]: r["group_id"] for r in truth.collect()}
    assert set(components) == set(truth_map)
    f1 = _pairwise_f1(components, truth_map)
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99"


def test_acronym_keys_tolerate_empty_tokenisation(spark):
    """A punctuation-only name tokenises to an EMPTY words array; the
    acronym channel must null it out, not fault the job on an
    out-of-bounds subscript under ANSI (the size()==1 guard is only an
    And conjunct, whose evaluation order the optimizer doesn't promise)."""
    from osm_wikidata_spark.plans.pipeline import _acronym_keys

    df = spark.createDataFrame(
        [(["–—"],), (["..."],), (["nasa"],), (["the grand old house"],)],
        "names array<string>",
    )
    rows = df.select(_acronym_keys(F.col("names")).alias("keys")).collect()
    assert [r["keys"] for r in rows] == [
        [],
        [],
        ["acro:nasa"],
        ["acro:tgoh"],
    ]


def test_entity_extraction(spark):
    transcripts, _ = synth_transcripts(spark, n_conversations=29, turns_per_conv=4)
    entities = extract_entities(transcripts)
    rows = entities.collect()
    assert len(rows) == 29
    for r in rows:
        assert len(r["names"]) == 1  # one mention name per conversation
        assert r["tokens"]


_TRANSCRIPT_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _entities_oracle(transcripts):
    """The per-mention formula extract_entities used to run: mentions
    exploded and deduplicated per (conv_id, name), tokenised per name,
    regrouped, then inner-joined to a per-conversation context
    aggregate."""
    from osm_wikidata_spark.functions.udfs import block_tokens_udf
    from osm_wikidata_spark.plans.pipeline import (
        _MENTION_PATTERN,
        _PLACE_PATTERN,
        _acronym_keys,
        _derived_endings,
        _full_name_keys,
        _name_words,
    )

    def _all(pattern):
        return F.regexp_extract_all("text", F.lit(pattern), F.lit(1))

    mentions = transcripts.select("conv_id", F.explode(_all(_MENTION_PATTERN)).alias("name"))
    per_name = mentions.dropDuplicates(["conv_id", "name"]).withColumn(
        "tokens", block_tokens_udf("name")
    )
    context = transcripts.groupBy("conv_id").agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(_all(_PLACE_PATTERN))))).alias(
            "place_names"
        ),
        F.max(F.col("text").contains("kind: hamlet")).alias("is_hamlet"),
    )
    return (
        per_name.groupBy("conv_id")
        .agg(
            F.sort_array(F.collect_set("name")).alias("names"),
            F.array_distinct(F.flatten(F.collect_list("tokens"))).alias("tokens"),
        )
        .withColumn(
            "endings",
            _derived_endings(F.array_distinct(F.flatten(F.transform("names", _name_words)))),
        )
        .withColumn(
            "tokens",
            F.array_union(
                F.array_union("tokens", _full_name_keys(F.col("names"))),
                _acronym_keys(F.col("names")),
            ),
        )
        .join(context, "conv_id")
    )


def _entity_rows(entities) -> list[tuple]:
    # tokens and endings are sets: the oracle's order follows its shuffle
    return sorted(
        (
            r["conv_id"],
            tuple(r["names"]),
            tuple(sorted(r["tokens"])),
            tuple(sorted(r["endings"])),
            tuple(r["place_names"]),
            r["is_hamlet"],
        )
        for r in entities.collect()
    )


def test_entity_extraction_equals_per_mention_oracle(spark):
    """One aggregate per conversation gives the per-mention formula's
    rows: null text, a conversation without mentions, mentions repeated
    across turns, case variants, places and the hamlet flag."""
    rows = [
        ("c-null", 0, "user", None, None, None),
        ("c-null", 1, "user", 'Near "Old Mill Inn" «Springfield».', None, None),
        ("c-null", 2, "user", None, None, None),
        ("c-all-null", 0, "user", None, None, None),
        ("c-none", 0, "user", "no quoted name here «Shelbyville»", None, None),
        ("c-none", 1, "user", "kind: hamlet", None, None),
        ("c-dup", 0, "user", 'We saw "Grand Hall" and "grand hall".', None, None),
        ("c-dup", 1, "user", 'Back to "Grand Hall", kind: hamlet «Ogdenville»', None, None),
        ("c-dup", 2, "user", '"GRAND HALL" «Ogdenville» "St. Mary\'s Church"', None, None),
        ("c-acro", 0, "user", '"BAC" is the "Baryshnikov Arts Center"', None, None),
    ]
    handmade = spark.createDataFrame(rows, _TRANSCRIPT_SCHEMA)
    got = _entity_rows(extract_entities(handmade))
    assert got == _entity_rows(_entities_oracle(handmade))
    assert [r[0] for r in got] == ["c-acro", "c-dup", "c-null"]
    synthetic, _ = synth_transcripts(spark, n_conversations=120, turns_per_conv=4)
    assert _entity_rows(extract_entities(synthetic)) == _entity_rows(_entities_oracle(synthetic))


def test_pipeline_blocks_need_no_dedup(spark, tmp_path):
    """run_pipeline's blocks stage explodes entity tokens with no
    ``(block_id, block_key)`` dedup.  Its premise, on mentions repeated
    and case-varied within a conversation, two names of one conversation
    sharing a token, null text and a cap that drops one hot key: the
    stored index has no repeated row and equals the deduplicating
    ``build_blocks`` over the same entities."""
    rows = [
        ("c-dup", 0, "user", 'We saw "Grand Hall" and "grand hall".', None, None),
        ("c-dup", 1, "user", None, None, None),
        ("c-dup", 2, "user", '"GRAND HALL" again, and "Grand Hall".', None, None),
        ("c-share", 0, "user", 'Between "Old Mill Inn" and "Old Mill".', None, None),
        ("c-share", 1, "user", None, None, None),
        ("c-null", 0, "user", None, None, None),
    ]
    rows += [
        (f"c-hot{i}", 0, "user", f'At "{w} Chapel".', None, None)
        for i, w in enumerate(["Alder", "Birch", "Cedar", "Elm", "Fir"])
    ]
    transcripts = spark.createDataFrame(rows, _TRANSCRIPT_SCHEMA)
    cap = 4
    out = run_pipeline(spark, transcripts, run_dir=str(tmp_path / "run"), max_block_size=cap)
    stored = [tuple(r) for r in out["blocks"].select("block_id", "block_key").collect()]
    assert len(stored) == len(set(stored))
    want = build_blocks(out["entities"], "conv_id", "tokens", cap)
    assert sorted(stored) == sorted(
        tuple(r) for r in want.select("block_id", "block_key").collect()
    )
    # the premise is exercised: repeated tokens across names, one hot key
    uncapped = build_blocks(out["entities"], "conv_id", "tokens")
    assert {r["block_key"] for r in uncapped.collect()} - {k for _, k in stored} == {
        "chapel"
    }
    (c_dup,) = out["entities"].filter(F.col("conv_id") == "c-dup").collect()
    assert len(c_dup["names"]) == 3


def test_pipeline_salts_a_block_over_256_rows(spark, monkeypatch):
    """A block of 300 rows has 300² pairs, over the salted join's
    threshold: the pairs stage keeps the pinned salted hot path.  A block
    of 200 rows (200² within it) takes the plain join."""
    from osm_wikidata_spark.plans import pipeline

    real_stage = pipeline.stage

    def pairs_plan(n):
        plans = {}

        def recording_stage(spark_, run_dir, name, build, **kw):
            def _build():
                frame = build()
                plans[name] = frame._jdf.queryExecution().executedPlan().toString()
                return frame

            return real_stage(spark_, run_dir, name, _build, **kw)

        monkeypatch.setattr(pipeline, "stage", recording_stage)
        transcripts = spark.createDataFrame(
            [(f"c{i:03d}", 0, "user", f'At "Foo Hall {i}".', None, None) for i in range(n)],
            _TRANSCRIPT_SCHEMA,
        )
        pipeline.run_pipeline(spark, transcripts)
        return plans["pairs"]

    assert "REPARTITION_BY_NUM" in pairs_plan(300)
    assert "REPARTITION_BY_NUM" not in pairs_plan(200)


def test_score_pairs_is_one_arrow_pass(spark):
    """score_pairs decides each pair in one UDF call over its joined
    entity rows: the executed plan holds one ArrowEvalPython, no
    aggregate after it and no sort-merge join (the entity joins
    broadcast)."""
    from osm_wikidata_spark.plans.pipeline import score_pairs

    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=3)
    entities = extract_entities(transcripts).localCheckpoint()
    blocks, _ = capped_blocks(build_blocks(entities, "conv_id", "tokens"), 1000)
    pairs = (
        salted_pair_join(blocks, blocks)
        .filter(F.col("left_id") < F.col("right_id"))
        .localCheckpoint()
    )
    edges = score_pairs(pairs, entities)
    assert edges.collect()
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, plan
    assert "HashAggregate" not in final, plan
    assert "SortMergeJoin" not in final, plan


def _score_pairs_oracle(pairs, entities):
    """score_pairs' former plan: explode both name lists, deduplicate the
    crossings, score each with one per-crossing UDF call, join the scores
    back and group by pair."""
    import pandas as pd

    from osm_wikidata_spark.functions.udfs import _strip_house
    from osm_wikidata_spark.kernel.cascade import match_names
    from osm_wikidata_spark.sources.transcripts import GLOBAL_ENDINGS

    # nested, so that the workers unpickle it by value
    @F.pandas_udf(DECISION_SCHEMA)
    def name_pair_decision(left, right, endings, places, left_hamlet, right_hamlet):
        out = []
        for l, r, e, p, lh, rh in zip(
            left, right, endings, places, left_hamlet, right_hamlet
        ):
            e_key = tuple(e) if e is not None else None
            p_key = tuple(p) if p is not None else None
            decision = None
            if l is not None and r is not None:
                decision = match_names(
                    l, r, endings=_strip_house(e_key, bool(rh)), place_names=p_key
                ) or match_names(
                    r, l, endings=_strip_house(e_key, bool(lh)), place_names=p_key
                )
            out.append(
                (True, decision.kind, decision.rule) if decision else (False, None, None)
            )
        return pd.DataFrame(out, columns=["matched", "kind", "rule"])

    empty = F.array().cast("array<string>")
    ent = entities.select(
        "conv_id",
        "names",
        F.struct(
            F.array_sort(F.coalesce("endings", empty)).alias("endings"),
            F.array_sort(F.coalesce("place_names", empty)).alias("places"),
            F.coalesce("is_hamlet", F.lit(False)).alias("hamlet"),
        ).alias("ctx"),
    )

    def _side(side):
        return ent.select(
            F.col("conv_id").alias(f"{side}_id"),
            F.col("names").alias(f"{side}_names"),
            F.col("ctx").alias(f"{side}_ctx"),
        )

    exploded = (
        pairs.join(_side("left"), "left_id")
        .join(_side("right"), "right_id")
        .select(
            "left_id", "right_id", "block_key", "left_ctx", "right_ctx",
            F.explode("left_names").alias("left_name"), "right_names",
        )
        .select(
            "left_id", "right_id", "block_key", "left_ctx", "right_ctx",
            "left_name", F.explode("right_names").alias("right_name"),
        )
    )
    places = F.array_union("left_ctx.places", "right_ctx.places")
    decision = name_pair_decision(
        "left_name",
        "right_name",
        F.array_sort(
            F.array_union(
                F.array(*[F.lit(e) for e in GLOBAL_ENDINGS]).cast("array<string>"),
                F.array_union("left_ctx.endings", "right_ctx.endings"),
            )
        ),
        F.when(F.size(places) > 0, F.array_sort(places)),
        F.col("left_ctx.hamlet"),
        F.col("right_ctx.hamlet"),
    )
    key = ["left_name", "right_name", "left_ctx", "right_ctx"]
    scored_names = (
        exploded.select(*key).dropDuplicates(key).select(*key, decision.alias("decision"))
    )
    return (
        exploded.join(scored_names.hint("merge"), key)
        .groupBy("left_id", "right_id")
        .agg(
            F.min("block_key").alias("block_key"),
            F.max(F.col("decision.matched")).alias("matched"),
            F.min(F.when(F.col("decision.matched"), F.col("decision.kind"))).alias("kind"),
            F.min(F.when(F.col("decision.matched"), F.col("decision.rule"))).alias("rule"),
        )
    )


@pytest.mark.parametrize("id_type", ["int", "bigint", "string"])
def test_score_pairs_equals_exploded_oracle(spark, id_type):
    """score_pairs equals its former explode → dedup → UDF → join back →
    groupBy plan on entities with 2-3 names each, mixed endings, places
    and hamlet flags.  Pair (0, 1)'s minimum kind and minimum rule come
    from different name crossings.  A null name never matches; entities
    with empty or null names, and ids missing from entities, drop their
    pairs."""
    import random

    from osm_wikidata_spark.plans.pipeline import score_pairs
    from osm_wikidata_spark.sources.transcripts import VARIANT_GROUPS

    def _id(i):
        return f"e{i:03d}" if id_type == "string" else i

    rng = random.Random(13)
    pool = sorted({n for group in VARIANT_GROUPS for n in group})
    rows = [
        (_id(0), ["Oxmoor Mall", "Riverbank Museum"], [], [], False),
        (_id(1), ["Riverbank Museum", "Oxmoor Center"], [], [], False),
        (_id(2), [None, "Riverbank Museum", "Oakway"], ["house"], None, None),
        (_id(3), [], [], [], False),
        (_id(4), None, [], [], False),
    ]
    for i in range(5, 29):
        rows.append(
            (
                _id(i),
                rng.sample(pool, rng.choice([2, 3])),
                rng.choice([[], ["house"], ["academy", "house"], None]),
                rng.choice([[], ["Felbrigg"], ["Dorset", "Felbrigg"], None]),
                rng.choice([True, False, None]),
            )
        )
    entities = spark.createDataFrame(
        rows,
        f"conv_id {id_type}, names array<string>, endings array<string>, "
        "place_names array<string>, is_hamlet boolean",
    ).cache()
    ids = [r[0] for r in rows] + [_id(99)]  # 99: in no entity row
    pairs = spark.createDataFrame(
        [(a, b, f"k{(ia + ib) % 3}") for (ia, a), (ib, b) in
         itertools.combinations(enumerate(ids), 2)],
        f"left_id {id_type}, right_id {id_type}, block_key string",
    )

    got = sorted(map(tuple, score_pairs(pairs, entities).collect()))
    want = sorted(map(tuple, _score_pairs_oracle(pairs, entities).collect()))
    assert got == want
    by_pair = {(r[0], r[1]): r[3:] for r in got}
    assert by_pair[(_id(0), _id(1))] == (True, "both_trimmed", "identical")
    dropped = {_id(3), _id(4), _id(99)}
    assert not any(a in dropped or b in dropped for a, b in by_pair)
    assert len(got) == len(list(itertools.combinations(range(len(rows) - 2), 2)))
    assert any(m for m, _, _ in by_pair.values()) and not all(
        m for m, _, _ in by_pair.values()
    )


@pytest.mark.parametrize(
    "kwargs", [{}, {"snm_window": 3, "cnp_k": 2}], ids=["default", "snm_cnp"]
)
def test_durable_stages_hold_one_row_per_key(spark, tmp_path, kwargs):
    """score_pairs keeps no aggregate after its UDF, so it relies on its
    inputs' keys: a durable run's pairs and edges hold one row per
    (left_id, right_id) and its entities one row per conv_id, with and
    without the snm and cnp channels."""
    transcripts, _ = synth_transcripts(spark, n_conversations=60, turns_per_conv=3)
    out = run_pipeline(spark, transcripts, run_dir=str(tmp_path / "run"), **kwargs)

    def _repeated(df, keys):
        return df.groupBy(*keys).count().filter(F.col("count") > 1).count()

    assert out["pairs"].count() > 0
    assert _repeated(out["pairs"], ["left_id", "right_id"]) == 0
    assert _repeated(out["edges"], ["left_id", "right_id"]) == 0
    assert _repeated(out["entities"], ["conv_id"]) == 0
    assert out["edges"].count() == out["pairs"].count()


def test_per_entity_endings_cluster(spark):
    """The Greenfield group only clusters under per-entity derived endings
    ('academy' is absent from GLOBAL_ENDINGS); the Riverside hard negative
    must stay separate."""
    from osm_wikidata_spark.sources.transcripts import VARIANT_GROUPS

    greenfield = VARIANT_GROUPS.index(["Greenfield Academy", "Greenfield"])
    riverside = VARIANT_GROUPS.index(["Riverside Academy"])
    # enough conversations that both variants of the group appear
    transcripts, truth = synth_transcripts(
        spark, n_conversations=len(VARIANT_GROUPS) * 4, turns_per_conv=3
    )
    entities = extract_entities(transcripts)
    with_academy = entities.filter(F.array_contains("endings", "academy"))
    assert with_academy.count() > 0  # derivation fired

    out = run_pipeline(spark, transcripts)
    comp = {r["conv_id"]: r["component"] for r in out["components"].collect()}
    truth_map = {r["conv_id"]: r["group_id"] for r in truth.collect()}
    green = {comp[c] for c, g in truth_map.items() if g == greenfield}
    river = {comp[c] for c, g in truth_map.items() if g == riverside}
    assert len(green) == 1, "Greenfield group failed to cluster"
    assert green.isdisjoint(river), "hard negative merged with Greenfield"


def test_secondary_channel_survives_hot_cap(spark):
    """J2: when every shared TOKEN block is hot-capped away, two
    conversations with the identical mention must still pair via the
    full-name channel."""
    from osm_wikidata_spark.operators.blocking import build_blocks, salted_pair_join

    rows = []
    # two convs with the exact same mention
    for conv in ("conv-twin-a", "conv-twin-b"):
        rows.append((conv, 0, "user", 'About "Riverbank Museum" here.', None, None))
    # 30 convs sharing the tokens 'riverbank'/'museum' → both token blocks
    # exceed the cap below, only the full: channel links the twins
    for i in range(30):
        rows.append(
            (f"conv-noise-{i:02d}", 0, "user", f'About "Riverbank Museum {i}" now.', None, None)
        )
    transcripts = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    entities = extract_entities(transcripts)
    blocks = build_blocks(entities, "conv_id", "tokens", max_block_size=10)
    pairs = {
        (r["left_id"], r["right_id"])
        for r in salted_pair_join(blocks, blocks)
        .filter(F.col("left_id") < F.col("right_id"))
        .collect()
    }
    assert ("conv-twin-a", "conv-twin-b") in pairs


def test_per_turn_invariant(spark):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering must
    survive a round-trip through the engine's partitioning (input_hint)."""
    transcripts, _ = synth_transcripts(spark, n_conversations=50, turns_per_conv=5)
    round_trip = (
        transcripts.repartition(16, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    before = transcripts.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").collect()
    after = round_trip.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx").collect()
    assert before == after


def test_checkpoint_resume(spark, tmp_path):
    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=3)
    run_dir = os.path.join(str(tmp_path), "run1")

    first = run_pipeline(spark, transcripts, run_dir=run_dir, run_id="r1")
    n_components = first["components"].count()
    assert completed_stages(run_dir) == sorted(
        ["entities", "blocks", "pairs", "edges", "components"]
    )

    # resume: pass empty transcripts — all stages must come from checkpoints
    empty = transcripts.limit(0)
    second = run_pipeline(spark, empty, run_dir=run_dir, run_id="r2")
    assert second["components"].count() == n_components
    assert sorted(r["conv_id"] for r in second["components"].collect()) == sorted(
        r["conv_id"] for r in first["components"].collect()
    )


def test_resume_after_crash_before_metrics_sidecar(spark, tmp_path):
    """Fault injection: the edges stage committed its parquet but the run
    died before the stage's metrics sidecar was written.  The resume
    rebuilds edges (and only edges) to identical output."""
    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=3)
    run_dir = os.path.join(str(tmp_path), "run")
    first = run_pipeline(spark, transcripts, run_dir=run_dir, run_id="r1")
    edges = sorted(first["edges"].collect())
    components = sorted(first["components"].collect())
    sidecar = os.path.join(run_dir, "edges", "_STAGE_METRICS.json")
    os.remove(sidecar)
    assert "edges" not in completed_stages(run_dir)
    success = os.path.join(run_dir, "pairs", "_SUCCESS")
    pairs_mtime = os.path.getmtime(success)

    second = run_pipeline(spark, transcripts, run_dir=run_dir, run_id="r2")
    assert os.path.exists(sidecar)
    assert os.path.getmtime(success) == pairs_mtime  # pairs reused
    assert sorted(second["edges"].collect()) == edges
    assert sorted(second["components"].collect()) == components


_FS_BANDS = {"jaro_winkler": [0.85, 0.95], "token_overlap": [0.4, 0.9]}


@pytest.fixture(scope="module")
def finished_run(spark, tmp_path_factory):
    """One finished durable run with every stage, fs_pairs included."""
    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=3)
    run_dir = str(tmp_path_factory.mktemp("finished") / "run")
    run_pipeline(spark, transcripts, run_dir=run_dir, run_id="base", fs_bands=_FS_BANDS)
    return transcripts, run_dir


def _stage_rows(df) -> list[str]:
    # fs posteriors come from an EM fit whose float sums follow partition
    # order, so they are compared to 9 decimals
    return sorted(
        repr(tuple(round(v, 9) if isinstance(v, float) else v for v in r))
        for r in df.collect()
    )


@pytest.mark.parametrize(
    "param, value",
    [
        ("endings", ["hall", "village"]),
        ("max_block_size", 2),
        ("salt", 3),
        ("snm_window", 3),
        ("cnp_k", 1),
        ("fs_bands", {"jaro_winkler": [0.9]}),
        ("fs_thresholds", (-2.0, 2.0)),
    ],
)
def test_resume_after_param_change_equals_fresh_run(
    spark, tmp_path, finished_run, param, value
):
    """A changed parameter rebuilds every stage downstream of where it
    acts: resuming a finished run_dir under the new value gives what a
    fresh run gives, on every stage."""
    transcripts, finished = finished_run
    run_dir = str(tmp_path / "run")
    shutil.copytree(finished, run_dir)
    kwargs = {"fs_bands": _FS_BANDS, param: value}
    resumed = run_pipeline(spark, transcripts, run_dir=run_dir, run_id="r2", **kwargs)
    fresh = run_pipeline(spark, transcripts, **kwargs)
    for name, frame in fresh.items():
        assert _stage_rows(resumed[name]) == _stage_rows(frame), name


def test_audit_written(spark, tmp_path):
    transcripts, _ = synth_transcripts(spark, n_conversations=30, turns_per_conv=3)
    run_dir = os.path.join(str(tmp_path), "run2")
    run_pipeline(spark, transcripts, run_dir=run_dir, run_id="audit-test")
    part = spark.read.parquet(os.path.join(run_dir, "audit", "partitions"))
    assert part.filter(F.col("run_id") == "audit-test").count() > 0
    stages = {r["stage"] for r in part.select("stage").distinct().collect()}
    assert {"entities", "pairs", "edges", "components"} <= stages
    blocks = spark.read.parquet(os.path.join(run_dir, "audit", "blocks"))
    row = blocks.collect()[0]
    assert row["n_blocks"] > 0 and row["max_block"] >= row["p50_block"]
    scores = spark.read.parquet(os.path.join(run_dir, "audit", "scores"))
    kinds = {r["kind"]: r["pairs"] for r in scores.collect()}
    assert "no_match" in kinds or any(k != "no_match" for k in kinds)
    assert sum(kinds.values()) > 0


def test_acronym_channel_clusters_initials_group(spark):
    """'BAC' and 'Baryshnikov Arts Center' share no token and no full name;
    only the acro: channel can pair them. End-to-end they must land in one
    component."""
    from osm_wikidata_spark.sources.transcripts import VARIANT_GROUPS

    bac = VARIANT_GROUPS.index(["BAC", "Baryshnikov Arts Center"])
    transcripts, truth = synth_transcripts(
        spark, n_conversations=len(VARIANT_GROUPS) * 4, turns_per_conv=3
    )
    out = run_pipeline(spark, transcripts)
    comp = {r["conv_id"]: r["component"] for r in out["components"].collect()}
    truth_map = {r["conv_id"]: r["group_id"] for r in truth.collect()}
    bac_components = {comp[c] for c, g in truth_map.items() if g == bac}
    assert len(bac_components) == 1, "initials group failed to cluster"


def test_hamlet_house_trim_is_per_side(spark):
    """The reference's trim_house gate is per-ITEM (matcher.py:1036-1046):
    a hamlet paired with a NON-hamlet "X House" entity still merges via the
    direction whose item side is the non-hamlet, while two hamlets never
    get the house trim in either direction."""
    from osm_wikidata_spark.plans.pipeline import score_pairs

    entities = spark.createDataFrame(
        [
            ("h", [["Nutbourne"]][0], ["house"], [], True),
            ("n", ["Nutbourne House"], ["house"], [], False),
            ("h2", ["Nutbourne House"], ["house"], [], True),
        ],
        "conv_id string, names array<string>, endings array<string>, "
        "place_names array<string>, is_hamlet boolean",
    ).cache()
    pairs = spark.createDataFrame(
        [("h", "n", "k"), ("h", "h2", "k")],
        "left_id string, right_id string, block_key string",
    )
    edges = {
        (r["left_id"], r["right_id"]): r["matched"]
        for r in score_pairs(pairs, entities).collect()
    }
    # hamlet vs non-hamlet house: direction with non-hamlet item trims -> match
    assert edges[("h", "n")] is True
    # hamlet vs hamlet house: no direction trims -> no match
    assert edges[("h", "h2")] is False


def test_ctx_fp_null_vs_empty_no_alias(spark):
    """Null endings with non-null places must not be read as the
    transposed shape: score_pairs coalesces null arrays to empty ones
    before they enter the context struct, so b keeps its "house" ending."""
    from osm_wikidata_spark.plans.pipeline import score_pairs

    entities = spark.createDataFrame(
        [
            ("a", ["Oakway"], None, ["Felbrigg"], False),
            ("b", ["Oakway House"], ["house"], None, False),
        ],
        "conv_id string, names array<string>, endings array<string>, "
        "place_names array<string>, is_hamlet boolean",
    ).cache()
    pairs = spark.createDataFrame(
        [("a", "b", "k")], "left_id string, right_id string, block_key string"
    )
    rows = score_pairs(pairs, entities).collect()
    # b's "house" ending reaches the UDF: the pair merges via trim
    assert len(rows) == 1 and rows[0]["matched"] is True


def test_score_pairs_context_never_aliases(spark):
    """Two entities whose endings join to the same string (one ending
    "college", U+001E, "house"; two endings "college" and "house") have
    different contexts, and each pair is scored with its own: only the
    second trims "house"."""
    from osm_wikidata_spark.plans.pipeline import score_pairs

    entities = spark.createDataFrame(
        [
            ("a", ["Nutbourne"], ["college\x1ehouse"], [], False),
            ("x", ["Nutbourne House"], [], [], False),
            ("b", ["Oakway"], ["college", "house"], [], False),
            ("y", ["Oakway House"], [], [], False),
        ],
        "conv_id string, names array<string>, endings array<string>, "
        "place_names array<string>, is_hamlet boolean",
    ).cache()
    pairs = spark.createDataFrame(
        [("a", "x", "k"), ("b", "y", "k")],
        "left_id string, right_id string, block_key string",
    )
    edges = {
        (r["left_id"], r["right_id"]): r["matched"]
        for r in score_pairs(pairs, entities).collect()
    }
    assert edges == {("a", "x"): False, ("b", "y"): True}


def test_empty_endings_turn_the_global_endings_off(spark):
    """``endings=[]`` trims nothing, where ``None`` trims GLOBAL_ENDINGS:
    a pair that matches only because "mall" and "center" are trimmed
    splits, so the two values give different edges, as their different
    stage fingerprints say they do."""
    from osm_wikidata_spark.plans.pipeline import score_pairs

    entities = spark.createDataFrame(
        [
            ("a", ["Oxmoor Mall"], [], [], False),
            ("b", ["Oxmoor Center"], [], [], False),
        ],
        "conv_id string, names array<string>, endings array<string>, "
        "place_names array<string>, is_hamlet boolean",
    ).cache()
    pairs = spark.createDataFrame(
        [("a", "b", "k")], "left_id string, right_id string, block_key string"
    )
    assert [r["matched"] for r in score_pairs(pairs, entities).collect()] == [True]
    assert [r["matched"] for r in score_pairs(pairs, entities, []).collect()] == [False]


def test_pipeline_cnp_budget_reduction_at_unchanged_f1(spark):
    """Opt-in meta-blocking CNP: the scored-pair budget strictly shrinks
    (pairs is a strict subset of the default run's) while pairwise F1
    stays >= 0.99 — true matches share the most blocks, so they rank in
    each other's top-k and survive the prune."""
    # 232 conversations: candidate degree avg ~9 / max 17, so top-6
    # pruning actually bites (at 87 the graph is too sparse to prune)
    transcripts, truth = synth_transcripts(spark, n_conversations=232, turns_per_conv=3)
    base = run_pipeline(spark, transcripts)
    pruned = run_pipeline(spark, transcripts, cnp_k=6)
    base_pairs = {(r["left_id"], r["right_id"]) for r in base["pairs"].collect()}
    cnp_pairs = {(r["left_id"], r["right_id"]) for r in pruned["pairs"].collect()}
    assert cnp_pairs < base_pairs          # strictly smaller budget
    components = {
        r["conv_id"]: r["component"] for r in pruned["components"].collect()
    }
    truth_map = {r["conv_id"]: r["group_id"] for r in truth.collect()}
    f1 = _pairwise_f1(components, truth_map)
    assert f1 >= 0.99, (
        f"pairwise F1 with CNP {f1:.4f} < 0.99 "
        f"({len(cnp_pairs)}/{len(base_pairs)} pairs kept)"
    )


def test_pipeline_fs_stage_posteriors(spark):
    """Opt-in Fellegi-Sunter stage: every candidate pair gets
    match_weight/posterior plus the three-way decision; posteriors
    separate cascade-accepted pairs from rejected ones; components are
    unchanged (the cascade stays the acceptance authority)."""
    transcripts, truth = synth_transcripts(spark, n_conversations=87, turns_per_conv=3)
    bands = {"jaro_winkler": [0.85, 0.95], "token_overlap": [0.4, 0.9]}
    out = run_pipeline(spark, transcripts, fs_bands=bands)
    fs_rows = out["fs_pairs"].collect()
    assert {(r["left_id"], r["right_id"]) for r in fs_rows} == {
        (r["left_id"], r["right_id"]) for r in out["pairs"].collect()
    }
    for r in fs_rows:
        assert 0.0 <= r["posterior"] <= 1.0
        assert r["decision"] in ("link", "non_link", "possible")
        assert (r["decision"] == "link") == (r["match_weight"] >= 0.0)
    matched = {
        (r["left_id"], r["right_id"]) for r in out["edges"].collect() if r["matched"]
    }
    post = {(r["left_id"], r["right_id"]): r["posterior"] for r in fs_rows}
    pos = [post[p] for p in post if p in matched]
    neg = [post[p] for p in post if p not in matched]
    assert pos and neg
    assert sum(pos) / len(pos) > sum(neg) / len(neg) + 0.3  # clear separation
    # acceptance authority unchanged: components identical to the base run
    base = run_pipeline(spark, transcripts)
    assert sorted(map(tuple, out["components"].collect())) == sorted(
        map(tuple, base["components"].collect())
    )
    truth_map = {r["conv_id"]: r["group_id"] for r in truth.collect()}
    f1 = _pairwise_f1(
        {r["conv_id"]: r["component"] for r in out["components"].collect()}, truth_map
    )
    assert f1 >= 0.99


def test_pipeline_snm_channel_superset_and_f1(spark):
    """Opt-in SNM channel: candidate set is a superset of the default
    channels' (extra recall only), F1 stays >= 0.99 (precision lives in
    the scorer), and the min-block_key lineage rule keeps token lineage
    when both channels propose a pair."""
    transcripts, truth = synth_transcripts(spark, n_conversations=87, turns_per_conv=3)
    base = run_pipeline(spark, transcripts)
    with_snm = run_pipeline(spark, transcripts, snm_window=4)
    base_pairs = {
        (r["left_id"], r["right_id"]) for r in base["pairs"].collect()
    }
    snm_rows = with_snm["pairs"].collect()
    snm_pairs = {(r["left_id"], r["right_id"]) for r in snm_rows}
    assert base_pairs <= snm_pairs
    assert len(snm_pairs) > len(base_pairs)  # the channel added candidates
    # lineage: a pair proposed by both channels keeps its token block_key
    keys = {(r["left_id"], r["right_id"]): r["block_key"] for r in snm_rows}
    for p in base_pairs:
        assert keys[p] != "«snm»", p
    components = {
        r["conv_id"]: r["component"] for r in with_snm["components"].collect()
    }
    truth_map = {r["conv_id"]: r["group_id"] for r in truth.collect()}
    f1 = _pairwise_f1(components, truth_map)
    assert f1 >= 0.99, f"pairwise F1 with SNM {f1:.4f} < 0.99"
