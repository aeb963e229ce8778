"""Distributed clustering evaluation (operators/evaluation.py) —
hand-computed contingency cases; the metric math must match the naive
all-pairs definition without ever materialising pairs."""

from __future__ import annotations

from itertools import combinations

import pytest

from osm_wikidata_spark.operators.evaluation import pairwise_cluster_metrics


def _naive(assigns):
    """All-pairs reference implementation."""
    tp = fp = fn = 0
    for (p1, t1), (p2, t2) in combinations(assigns, 2):
        same_p, same_t = p1 == p2, t1 == t2
        tp += same_p and same_t
        fp += same_p and not same_t
        fn += same_t and not same_p
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    # B-cubed
    n = len(assigns)
    b3p = sum(
        sum(1 for q in assigns if q == a) /
        sum(1 for q in assigns if q[0] == a[0])
        for a in assigns
    ) / n
    b3r = sum(
        sum(1 for q in assigns if q == a) /
        sum(1 for q in assigns if q[1] == a[1])
        for a in assigns
    ) / n
    b3f = 2 * b3p * b3r / (b3p + b3r) if b3p + b3r else 0.0
    return dict(tp=tp, fp=fp, fn=fn, precision=prec, recall=rec, f1=f1,
                b3_precision=b3p, b3_recall=b3r, b3_f1=b3f)


def _run(spark, assigns):
    df = spark.createDataFrame(assigns, "component string, truth string")
    return pairwise_cluster_metrics(df).first()


@pytest.mark.parametrize(
    "assigns",
    [
        # split truth cluster + merged pair + singleton
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"), ("c", "z")],
        # perfect clustering
        [("a", "x"), ("a", "x"), ("b", "y")],
        # everything merged into one predicted cluster
        [("a", "x"), ("a", "y"), ("a", "z")],
        # everything singleton vs one truth class
        [("a", "x"), ("b", "x"), ("c", "x")],
    ],
)
def test_matches_naive_all_pairs(spark, assigns):
    got = _run(spark, assigns)
    want = _naive(assigns)
    assert got["n_items"] == len(assigns)
    for k in ("tp", "fp", "fn"):
        assert got[k] == want[k], k
    for k in ("precision", "recall", "f1", "b3_precision", "b3_recall", "b3_f1"):
        assert got[k] == pytest.approx(want[k], abs=1e-6), k


def test_perfect_clustering_is_all_ones(spark):
    got = _run(spark, [("a", "x"), ("a", "x"), ("b", "y"), ("b", "y")])
    assert (got["precision"], got["recall"], got["f1"]) == (1.0, 1.0, 1.0)
    assert (got["b3_precision"], got["b3_recall"], got["b3_f1"]) == (1.0, 1.0, 1.0)
    assert got["fp"] == got["fn"] == 0


def test_no_positive_pairs_defined_as_zero(spark):
    # all singletons on both sides: no pairs anywhere → ratios 0.0, B³ 1.0
    got = _run(spark, [("a", "x"), ("b", "y"), ("c", "z")])
    assert got["tp"] == got["fp"] == got["fn"] == 0
    assert got["precision"] == got["recall"] == got["f1"] == 0.0
    assert got["b3_precision"] == got["b3_recall"] == got["b3_f1"] == 1.0


def test_cluster_cohesion_density_and_weights(spark):
    from osm_wikidata_spark.operators.evaluation import cluster_cohesion

    assigns = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "node int, component int"
    )
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 1, 0.9), (3, 2, 0.5), (3, 9, 0.8)],
        "left_id int, right_id int, w double",
    )  # (2,1) is a reversed dup; (3,9) is cross-cluster -> both ignored
    rows = {
        r["component"]: r
        for r in cluster_cohesion(assigns, edges, weight_col="w").collect()
    }
    big = rows[1]
    assert (big["n_nodes"], big["n_edges"]) == (3, 2)
    assert big["density"] == pytest.approx(2 / 3, abs=1e-6)
    assert big["min_weight"] == pytest.approx(0.5)
    assert big["avg_weight"] == pytest.approx(0.7)
    single = rows[9]
    assert (single["n_nodes"], single["n_edges"], single["density"]) == (1, 0, 1.0)
    assert single["min_weight"] is None and single["avg_weight"] is None


def test_cluster_cohesion_weightless(spark):
    from osm_wikidata_spark.operators.evaluation import cluster_cohesion

    assigns = spark.createDataFrame([(1, 1), (2, 1)], "node int, component int")
    edges = spark.createDataFrame([(1, 2)], "left_id int, right_id int")
    row = cluster_cohesion(assigns, edges).collect()[0]
    assert row.asDict() == {
        "component": 1, "n_nodes": 2, "n_edges": 1, "density": 1.0
    }


def _ari(spark, rows):
    from osm_wikidata_spark.operators.evaluation import adjusted_rand_index

    df = spark.createDataFrame(rows, "component_a int, component_b int")
    return adjusted_rand_index(df).collect()[0]


def test_ari_identical_partitions(spark):
    r = _ari(spark, [(1, 10), (1, 10), (2, 20), (3, 30)])
    assert r["ari"] == pytest.approx(1.0)


def test_ari_hand_computed(spark):
    # A=[1,1,2,2,3], B=[1,1,1,2,2]: index=1, sa=2, sb=4, n=5
    # expected=0.8, max=3, ari=0.2/2.2
    r = _ari(spark, [(1, 1), (1, 1), (2, 1), (2, 2), (3, 2)])
    assert (r["n_items"], r["index"]) == (5, 1)
    assert r["expected"] == pytest.approx(0.8)
    assert r["max_index"] == pytest.approx(3.0)
    assert r["ari"] == pytest.approx(0.2 / 2.2, abs=1e-6)


def test_ari_degenerate_singletons(spark):
    # both all-singletons: max == expected == 0 -> defined 1.0
    r = _ari(spark, [(1, 10), (2, 20), (3, 30)])
    assert r["ari"] == 1.0


def _vm(spark, rows):
    from osm_wikidata_spark.operators.evaluation import v_measure

    df = spark.createDataFrame(rows, "component int, truth string")
    return v_measure(df).collect()[0]


def test_v_measure_perfect_clustering(spark):
    r = _vm(spark, [(1, "a"), (1, "a"), (2, "b"), (3, "c")])
    assert (r["homogeneity"], r["completeness"], r["v_measure"]) == (1.0, 1.0, 1.0)


def test_v_measure_hand_computed(spark):
    # pred=[0,0,1,2], truth=[a,a,b,b]: every cluster is pure -> hom=1.
    # H(K) = -(.5 ln.5 + .25 ln.25 + .25 ln.25) = 1.5 ln2;
    # H(K|C) = class b split across two singleton clusters = .5 ln2
    # -> completeness = 1 - (.5/1.5) = 2/3, v = 2*1*(2/3)/(5/3) = 0.8
    r = _vm(spark, [(0, "a"), (0, "a"), (1, "b"), (2, "b")])
    assert r["homogeneity"] == pytest.approx(1.0)
    assert r["completeness"] == pytest.approx(2 / 3, abs=1e-6)
    assert r["v_measure"] == pytest.approx(0.8, abs=1e-6)


def test_v_measure_single_cluster_mixed(spark):
    # one cluster, two truths: homogeneity < 1, completeness = 1
    # (H(pred)=0 -> convention 1.0)
    r = _vm(spark, [(1, "a"), (1, "b")])
    assert r["homogeneity"] == 0.0
    assert r["completeness"] == 1.0
    assert r["v_measure"] == 0.0


# ---------------------------------------------------------------- overflow


def test_comb_sum_mega_count_exact(spark):
    # C(n,2) with n*(n-1) on BIGINT overflows (ANSI: job failure) once a
    # single count reaches ~4.3e9 — the degenerate mega-cluster input an
    # evaluator must survive at 10^12 items.  The DECIMAL(38,0) product
    # must return the exact value right up to the declared BIGINT output
    # boundary.
    from osm_wikidata_spark.operators.evaluation import _comb_sum

    n = 4_000_000_000
    df = spark.createDataFrame([(n,)], "n bigint")
    out = df.agg(_comb_sum("n").alias("c")).collect()[0]["c"]
    assert out == n * (n - 1) // 2  # 7999999998000000000 < 2^63-1


def test_ari_mega_cluster_no_overflow(spark):
    # sa*sb on BIGINT overflows 2^63 already at ~100k-item single-cluster
    # inputs (C(1e5,2)^2 = 2.5e19): identical all-in-one partitions must
    # come back ari=1.0, not an arithmetic-overflow job failure.
    from pyspark.sql import functions as F

    from osm_wikidata_spark.operators.evaluation import adjusted_rand_index

    df = spark.range(100_000).select(
        F.lit(1).alias("component_a"), F.lit(1).alias("component_b")
    )
    r = adjusted_rand_index(df).collect()[0]
    assert r["n_items"] == 100_000
    assert r["index"] == 100_000 * 99_999 // 2
    assert r["ari"] == 1.0


def test_blocking_metrics_mega_universe_literal(spark):
    # C(n_records,2) for n_records > ~4.3e9 exceeds what a Spark BIGINT
    # literal can encode; the reduction-ratio denominator is a double, so
    # the metric must still compute (reduction ratio ~ 1.0 here).
    from osm_wikidata_spark.operators.evaluation import blocking_metrics

    cand = spark.createDataFrame([(1, 2), (3, 4)], "left_id int, right_id int")
    truth = spark.createDataFrame([(1, 2)], "left_id int, right_id int")
    r = blocking_metrics(cand, truth, n_records=10_000_000_000).collect()[0]
    assert r["n_candidates"] == 2 and r["n_matched"] == 1
    assert r["reduction_ratio"] == pytest.approx(1.0)


def test_null_labels_excluded_consistently(spark):
    """Unlabeled (NULL) rows are excluded by the whole evaluator family:
    metrics over a frame with NULL labels equal metrics over the non-null
    subset.  (Before the filter, the contingency equi-joins dropped
    null-keyed cells while the pairs(pred)/pairs(true) rollups still
    counted them — unlabeled items inflated fp/fn one-sidedly.)"""
    from osm_wikidata_spark.operators.evaluation import (
        adjusted_rand_index,
        pairwise_cluster_metrics,
        v_measure,
    )

    schema = "node int, component string, truth string"
    labeled = [
        (1, "c1", "t1"), (2, "c1", "t1"), (3, "c1", "t2"),
        (4, "c2", "t2"), (5, "c2", "t2"),
    ]
    extra = [(6, "c1", None), (7, None, "t1"), (8, None, None)]
    full = spark.createDataFrame(labeled + extra, schema)
    clean = spark.createDataFrame(labeled, schema)

    m_full = pairwise_cluster_metrics(full, "component", "truth").collect()[0]
    m_clean = pairwise_cluster_metrics(clean, "component", "truth").collect()[0]
    assert m_full.asDict() == m_clean.asDict()
    assert m_full["n_items"] == 5

    v_full = v_measure(full, "component", "truth").collect()[0]
    v_clean = v_measure(clean, "component", "truth").collect()[0]
    assert v_full.asDict() == v_clean.asDict()

    a_full = adjusted_rand_index(full, "component", "truth").collect()[0]
    a_clean = adjusted_rand_index(clean, "component", "truth").collect()[0]
    assert a_full.asDict() == a_clean.asDict()
    assert a_full["n_items"] == 5


def test_cluster_cohesion_duplicate_edge_weights_take_max(spark):
    """Duplicate edges with different weights (both orientations scored,
    or two channels) keep the MAX — a deterministic pick, not whichever
    row a partition scan saw first."""
    from osm_wikidata_spark.operators.evaluation import cluster_cohesion

    assigns = spark.createDataFrame(
        [(1, 10), (2, 10)], "node int, component int"
    )
    edges = spark.createDataFrame(
        [(1, 2, 0.4), (2, 1, 0.9), (1, 2, 0.7)],
        "left_id int, right_id int, w double",
    )
    row = cluster_cohesion(assigns, edges, weight_col="w").collect()[0]
    assert row["n_edges"] == 1
    assert row["min_weight"] == pytest.approx(0.9)
    assert row["avg_weight"] == pytest.approx(0.9)


def test_blocking_metrics_truth_normalized_holds(spark):
    """q_blocking_metrics passes truth_normalized=True on the proof that
    its two-word-prefix truth is unique and oriented: pin both, and that
    skipping the normalisation leaves the metrics unchanged."""
    import os

    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from osm_wikidata_spark.operators.evaluation import blocking_metrics
    from osm_wikidata_spark.operators.neighborhood import sorted_neighborhood_pairs
    from tests.test_plans import SF

    path = os.path.join(SF, "part.parquet")
    if not os.path.exists(path):
        pytest.skip("driver testdata not present")
    part = spark.read.parquet(path)
    truth = entry._two_word_prefix_truth(part)
    assert truth.count() > 0
    assert truth.filter(F.col("left_id") >= F.col("right_id")).count() == 0
    dup = truth.groupBy("left_id", "right_id").count().filter(F.col("count") > 1)
    assert dup.count() == 0

    cand = sorted_neighborhood_pairs(part, "p_partkey", "p_name", window=4).select(
        "left_id", "right_id"
    )
    n = part.count()
    fast, full = (
        blocking_metrics(cand, truth, n_records=n, truth_normalized=flag).collect()
        for flag in (True, False)
    )
    assert fast == full
