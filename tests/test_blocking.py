"""Blocking operator tests: salt-invariance on skewed keys, hot-key cap,
top-k determinism (SURVEY.md §7 stage 6 skew demonstration)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_wikidata_spark.operators.blocking import (
    BLOCK_SUMMARY,
    block_size_stats,
    build_blocks,
    capped_blocks,
    salted_pair_join,
    top_k_per_group,
)
from osm_wikidata_spark.plans.audit import block_skew_metrics


def _skewed_blocks(spark):
    """One hot key carrying half the records plus a long tail."""
    rows = [(f"r{i:03d}", ["hot"] if i < 40 else [f"cold{i % 10}"]) for i in range(80)]
    df = spark.createDataFrame(rows, "id string, tokens array<string>")
    return build_blocks(df, "id", "tokens")


def test_salted_join_is_salt_invariant(spark):
    """Salting changes the physical shuffle, never the result set."""
    blocks = _skewed_blocks(spark)
    expect = None
    # hot_threshold=100 puts "hot" (40×40) on the salted path and the cold
    # keys (4×4) on the unsalted path; 10**9 puts everything unsalted
    for salt, threshold in ((1, 100), (4, 100), (16, 100), (8, 10**9)):
        pairs = salted_pair_join(
            blocks, blocks, salt=salt, hot_threshold=threshold
        ).filter(F.col("left_id") < F.col("right_id"))
        got = {(r["left_id"], r["right_id"], r["block_key"]) for r in pairs.collect()}
        if expect is None:
            expect = got
        assert got == expect, f"salt={salt} changed results"
    # the hot key contributes C(40,2) pairs, each cold key C(4,2)
    hot = sum(1 for p in expect if p[2] == "hot")
    assert hot == 40 * 39 // 2


def test_salted_join_salts_only_hot_keys(spark):
    """The explode amplification is confined to the hot path."""
    blocks = _skewed_blocks(spark)
    plan = salted_pair_join(
        blocks, blocks, salt=8, hot_threshold=100
    )._jdf.queryExecution().optimizedPlan().toString()
    # exactly one explode (hot path) and two anti-joins (cold path split)
    assert plan.lower().count("explode(") >= 1
    assert plan.count("LeftAnti") == 2


def test_build_blocks_broadcasts_hot_list_not_keep_set(spark):
    """The cap must anti-join a broadcast HOT list: broadcasting the keep
    set ships nearly the whole token vocabulary at scale."""
    rows = [(f"r{i:03d}", ["hot", f"cold{i}"]) for i in range(30)]
    df = spark.createDataFrame(rows, "id string, tokens array<string>")
    plan = (
        build_blocks(df, "id", "tokens", max_block_size=10)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftAnti" in plan


def test_block_size_cap_drops_hot_keys(spark):
    rows = [(f"r{i:03d}", ["hot", f"cold{i}"]) for i in range(30)]
    df = spark.createDataFrame(rows, "id string, tokens array<string>")
    capped = build_blocks(df, "id", "tokens", max_block_size=10)
    keys = {r["block_key"] for r in capped.select("block_key").distinct().collect()}
    assert "hot" not in keys
    assert len(keys) == 30  # every cold key survives


def _pair_rows(pairs):
    return sorted(tuple(r) for r in pairs.select("left_id", "right_id", "block_key").collect())


def test_salted_join_no_op_path_equals_two_path(spark):
    """Told that no key is larger than 40 rows, with 40² within the
    threshold, the join skips the hot-key split and gives the two-path
    join's rows; one row more (41² > threshold) keeps the salted path."""
    blocks = _skewed_blocks(spark)
    two_path = salted_pair_join(blocks, blocks, salt=8, hot_threshold=100)
    no_op = salted_pair_join(blocks, blocks, salt=8, hot_threshold=40 * 40, max_block=40)
    assert _pair_rows(no_op) == _pair_rows(two_path)
    plan = no_op._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" not in plan and "salt#" not in plan
    salted = salted_pair_join(blocks, blocks, salt=8, hot_threshold=40 * 40, max_block=41)
    plan = salted._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LeftAnti") == 2 and "salt#" in plan
    assert _pair_rows(salted) == _pair_rows(two_path)


@pytest.mark.parametrize("cap", [10, 30, 0, None])
def test_capped_blocks_summary_equals_block_skew_metrics(spark, cap):
    """The cap's one aggregate returns what block_skew_metrics computes
    over the capped index, also when the cap keeps no key (cap 0); with
    no key over the cap nothing is anti-joined."""
    rows = [(f"r{i:03d}", ["hot", f"cold{i % 7}", f"uniq{i}"]) for i in range(30)]
    df = spark.createDataFrame(rows, "id string, tokens array<string>")
    blocks, summary = capped_blocks(build_blocks(df, "id", "tokens"), cap)
    want = block_skew_metrics(blocks, "r").first()
    assert summary == {k: want[k] for k in BLOCK_SUMMARY}
    plan = blocks._jdf.queryExecution().optimizedPlan().toString()
    assert ("LeftAnti" in plan) == (cap is not None and cap < 30)
    if cap == 0:
        assert summary["n_blocks"] == 0 and summary["max_block"] is None


def test_block_size_stats(spark):
    stats = {
        r["block_key"]: r["block_n"]
        for r in block_size_stats(_skewed_blocks(spark)).collect()
    }
    assert stats["hot"] == 40
    assert all(v == 4 for k, v in stats.items() if k.startswith("cold"))


def test_top_k_deterministic_ties(spark):
    rows = [("g", f"i{i}", 1.0) for i in range(6)]
    df = spark.createDataFrame(rows, "grp string, item string, score double")
    top = top_k_per_group(df, "grp", "score", k=3, tiebreak=["item"])
    assert [r["item"] for r in top.collect()] == ["i0", "i1", "i2"]


def test_top_k_ascending_picks_smallest(spark):
    """ascending=True is the reference's ORDER BY dist LIMIT shape (nearest
    first); default descending picks the largest scores."""
    rows = [("g", f"i{i}", float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "grp string, item string, score double")
    nearest = top_k_per_group(df, "grp", "score", k=2, ascending=True)
    assert sorted(r["item"] for r in nearest.collect()) == ["i0", "i1"]
    largest = top_k_per_group(df, "grp", "score", k=2)
    assert sorted(r["item"] for r in largest.collect()) == ["i4", "i5"]


def test_within_names_broadcast_flag_value_identical(spark):
    """broadcast_containers=False (huge-container mode: AQE decides the
    join strategy) must produce exactly the broadcast-path output."""
    from osm_wikidata_spark.operators.within import within_names

    containers = spark.createDataFrame(
        [
            (100, {"place": "town", "name": "Springfield", "operator": "Council"}),
            (200, {"tourism": "museum", "name": "Old Mill"}),
            (300, {"building": "yes", "name": "NotAPlace"}),  # filtered out
        ],
        "container_id bigint, tags map<string,string>",
    )
    records = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300), (4, None)],
        "record_id bigint, container_id bigint",
    )
    bcast = {
        r["record_id"]: list(r["within_names"])
        for r in within_names(records, containers).collect()
    }
    plain = {
        r["record_id"]: list(r["within_names"])
        for r in within_names(
            records, containers, broadcast_containers=False
        ).collect()
    }
    assert bcast == plain
    assert bcast[1] == ["Council", "Springfield"] and bcast[2] == ["Old Mill"]
    assert 3 not in bcast  # non-place container contributes nothing
