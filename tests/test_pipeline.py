"""End-to-end pipeline tests: transcripts → components, graded as pairwise F1
against the generator's ground truth (BASELINE.json metric: F1 ≥ 0.99), plus
the per-turn text-equality invariant and checkpoint resume."""

from __future__ import annotations

import itertools
import os

from pyspark.sql import functions as F

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
    """Null endings with non-null places must not fingerprint-collide with
    the transposed shape (concat_ws skips nulls; the pipeline coalesces to
    empty arrays before hashing)."""
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
    # b's "house" ending must survive rehydration: the pair merges via trim
    assert len(rows) == 1 and rows[0]["matched"] is True


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


def test_score_pairs_dedup_paths_are_value_identical(spark):
    """score_pairs(dedup_names=False) — the unique-names plan (no
    distinct-set shuffle + join-back) — must produce exactly the same
    per-pair decisions as the default Zipfian-memo plan.  Pinned on a
    real synthetic workload with repeated names (so the dedup path's
    join-back actually fans out) and per-entity context (endings /
    places / hamlet flags ride both paths)."""
    from osm_wikidata_spark.operators.blocking import build_blocks, salted_pair_join
    from osm_wikidata_spark.plans.pipeline import score_pairs

    transcripts, _ = synth_transcripts(spark, n_conversations=60, turns_per_conv=4)
    entities = extract_entities(transcripts).cache()
    blocks = build_blocks(entities, "conv_id", "tokens", max_block_size=None)
    pairs = salted_pair_join(blocks, blocks).filter(
        F.col("left_id") < F.col("right_id")
    )

    def rows(dedup):
        return {
            (r.left_id, r.right_id, r.matched, r.kind, r.rule)
            for r in score_pairs(pairs, entities, dedup_names=dedup).collect()
        }

    with_dedup = rows(True)
    without = rows(False)
    assert with_dedup == without
    assert any(m for (_, _, m, _, _) in with_dedup)  # non-vacuous: matches exist
    entities.unpersist()
