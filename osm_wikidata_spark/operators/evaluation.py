"""Clustering-quality evaluation for entity resolution.

The repo's F1 gate (tests/test_pipeline.py, BASELINE.json pairwise
F1 ≥ 0.99) computes pairwise scores on fixture-scale data.  This module is
the DISTRIBUTED evaluator: pairwise precision/recall/F1 and B³ (Bagga &
Baldwin 1998) over a predicted-vs-true assignment table, computed entirely
from contingency-cell counts — at 10^9 nodes the naive "materialise all
intra-cluster pairs and join" is O(Σ n²) rows, while every quantity below
comes from aggregations over the assignment table:

* pairs(X)       = Σ_clusters n(n−1)/2          (exact bigint)
* TP             = Σ_{(pred,true) cells} n_cell(n_cell−1)/2
* FP / FN        = pairs(pred) − TP / pairs(true) − TP
* B³ precision   = Σ_cells n_cell² / n_pred(cell) ÷ N
* B³ recall      = Σ_cells n_cell² / n_true(cell) ÷ N

(The B³ identities: an item i in predicted cluster c with true class t
contributes |c ∩ t|/|c| to precision — summing per cell gives n_ct²/n_c.)

The contingency table is bounded by the number of (pred, true) cluster
overlaps — in ER practice ~O(#clusters), never O(pairs); the size dims are
rollups of it, and the final combine is three 1-row broadcasts.  One
shuffle on (pred, true) total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _comb_sum(col: str) -> F.Column:
    """``Σ C(n, 2)`` with the product in DECIMAL(38,0), exported as BIGINT.

    ``n*(n-1) div 2`` on BIGINT counts overflows once a single count
    reaches ~4.3e9 — under ANSI mode that is a job failure, without it a
    silently wrong metric, and both hit exactly the degenerate
    mega-cluster / all-in-one-cell inputs an evaluator exists to diagnose
    at 10^12 items.  The DECIMAL(38,0) sum carries the products exactly,
    but Spark's precision-loss rule makes the ``/ 2`` division a
    DECIMAL(38,6) intermediate, capping exact integer headroom near 1e32
    (the product is always even, so the halving itself is exact); in
    practice the BIGINT export bound dominates — the final cast faults
    only when the resulting VALUE exceeds the declared output schema
    (~9.2e18 pairs) — an honest boundary, not an intermediate one.
    """
    n = F.col(col)
    return (F.sum(n.cast("decimal(38,0)") * (n - F.lit(1))) / F.lit(2)).cast(
        "long"
    )


def pairwise_cluster_metrics(
    assignments: DataFrame,
    pred_col: str = "component",
    true_col: str = "truth",
    precision: int = 6,
) -> DataFrame:
    """One-row frame: n_items, tp, fp, fn, precision, recall, f1,
    b3_precision, b3_recall, b3_f1.

    ``assignments`` has one row per item with its predicted cluster and
    true class (any orderable types).  A side with no positive pairs
    defines its ratio as 0.0 (convention shared with the SQL oracle).

    NULL-labeled rows (unlabeled items) are EXCLUDED up front — the family
    convention shared with :func:`v_measure` and
    :func:`adjusted_rand_index`.  Without the filter the metrics silently
    skew: the contingency cells here flow through equi-joins (which drop
    NULL keys) while the pairs(pred)/pairs(true) rollups would still count
    the NULL groups, so unlabeled items would inflate fp/fn one-sidedly.
    """
    assignments = assignments.filter(
        F.col(pred_col).isNotNull() & F.col(true_col).isNotNull()
    )
    cells = assignments.groupBy(pred_col, true_col).agg(
        F.count("*").alias("n_cell")
    )
    pred_sizes = cells.groupBy(pred_col).agg(F.sum("n_cell").alias("n_pred"))
    true_sizes = cells.groupBy(true_col).agg(F.sum("n_cell").alias("n_true"))

    base = (
        cells.join(pred_sizes, pred_col)
        .join(true_sizes, true_col)
        .agg(
            F.sum("n_cell").alias("n_items"),
            # comb sums run in DECIMAL(38,0): n*(n-1) on BIGINT overflows
            # once any cell/cluster reaches ~4.3e9 rows — a loud ANSI
            # failure (silent wrap otherwise) exactly on the degenerate
            # mega-cluster inputs an evaluator must survive at 10^12
            # items.  The product is always even, so halving is exact;
            # the export cast back to BIGINT only faults when the VALUE
            # itself exceeds the declared schema (an honest boundary,
            # ~9.2e18 pairs), not when an intermediate does.
            _comb_sum("n_cell").alias("tp"),
            F.sum(
                F.col("n_cell").cast("double") * F.col("n_cell") / F.col("n_pred")
            ).alias("b3p_num"),
            F.sum(
                F.col("n_cell").cast("double") * F.col("n_cell") / F.col("n_true")
            ).alias("b3r_num"),
        )
    )
    pred_pairs = pred_sizes.agg(_comb_sum("n_pred").alias("pred_pairs"))
    true_pairs = true_sizes.agg(_comb_sum("n_true").alias("true_pairs"))
    stats = base.crossJoin(F.broadcast(pred_pairs)).crossJoin(
        F.broadcast(true_pairs)
    )

    def _ratio(num, den):
        return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))

    def _f1(p, r):
        return F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))

    with_pr = stats.select(
        "n_items",
        "tp",
        (F.col("pred_pairs") - F.col("tp")).alias("fp"),
        (F.col("true_pairs") - F.col("tp")).alias("fn"),
        _ratio(F.col("tp"), F.col("pred_pairs")).alias("p"),
        _ratio(F.col("tp"), F.col("true_pairs")).alias("r"),
        # _ratio, not a bare divide: an EMPTY labels frame gives
        # n_items = 0, which is a hard DIVIDE_BY_ZERO under ANSI mode
        _ratio(F.col("b3p_num"), F.col("n_items")).alias("b3p"),
        _ratio(F.col("b3r_num"), F.col("n_items")).alias("b3r"),
    )
    return with_pr.select(
        "n_items",
        "tp",
        "fp",
        "fn",
        F.round("p", precision).alias("precision"),
        F.round("r", precision).alias("recall"),
        F.round(_f1(F.col("p"), F.col("r")), precision).alias("f1"),
        F.round("b3p", precision).alias("b3_precision"),
        F.round("b3r", precision).alias("b3_recall"),
        F.round(_f1(F.col("b3p"), F.col("b3r")), precision).alias("b3_f1"),
    )


def blocking_metrics(
    candidates: DataFrame,
    truth: DataFrame,
    n_records: int,
    left_col: str = "left_id",
    right_col: str = "right_id",
    precision: int = 6,
    truth_normalized: bool = False,
) -> DataFrame:
    """Blocking-scheme quality: pair completeness / pair quality /
    reduction ratio (Christen, *Data Matching* 2012, §7.6) — the standard
    triple for judging a candidate generator BEFORE pairwise scoring.

    * pair_completeness = |cand ∩ truth| / |truth|   (blocking recall)
    * pair_quality      = |cand ∩ truth| / |cand|    (blocking precision)
    * reduction_ratio   = 1 − |cand| / C(n_records, 2)

    Both inputs are pair tables on (left_col, right_col); orientation and
    duplicates are normalised here (least/greatest + distinct), so callers
    can pass raw channel output.  ``n_records`` is the record-universe
    size for the reduction ratio — passed, not inferred, because the
    candidate table no longer knows about records it never paired.

    ``truth_normalized`` (opt-in, r06): skip the truth side's
    least/greatest + distinct when the CALLER can prove its pairs are
    already unique with ``left < right`` — a generator whose
    construction guarantees it (e.g. an equi-self-join on a key each
    record carries once, filtered ``left < right``).  The distinct is one
    full exchange of a pair set that is often quadratic-ish in corpus
    size, so skipping a provably redundant one is a real win (measured
    sf0.1 q_blocking_metrics: 3.13 s → 2.16 s); claiming it falsely
    inflates the truth counts — it is the caller's proof obligation.

    Scale shape: ONE plan — two distincts feeding one full-outer join on
    the normalised pair key, then a single scalar aggregate over presence
    flags.  All three counts (|cand|, |truth|, |cand ∩ truth|) come out of
    that one pass, so each (potentially expensive) input subtree — a
    candidate generator is often a sort or a multi-channel union — is
    computed exactly once, with no persist needed.  No per-record state,
    no window.
    """

    def _norm(pairs: DataFrame, flag: str, normalized: bool = False) -> DataFrame:
        a, b = F.col(left_col), F.col(right_col)
        if normalized:
            return pairs.select(
                a.alias("_pa"), b.alias("_pb")
            ).withColumn(flag, F.lit(1))
        return (
            pairs.select(
                F.least(a, b).alias("_pa"), F.greatest(a, b).alias("_pb")
            )
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    both = _norm(candidates, "_c").join(
        _norm(truth, "_t", truth_normalized), ["_pa", "_pb"], "full_outer"
    )
    counts = both.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n_candidates"),
        F.coalesce(F.sum("_t"), F.lit(0)).alias("n_truth"),
        F.coalesce(
            F.sum(F.when(F.col("_c").isNotNull() & F.col("_t").isNotNull(), 1)),
            F.lit(0),
        ).alias("n_matched"),
    )
    # Python int is arbitrary-precision, but a literal > 2^63-1 cannot
    # encode as a Spark BIGINT lit (n_records ≈ 4.3e9 crosses it); the
    # reduction ratio is a double, so ship the denominator as a double
    # literal (exact to 2^53, approximate beyond — fine for a ratio)
    total_pairs = float(n_records * (n_records - 1) // 2)

    def _ratio(num, den):
        return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))

    return (
        counts.select(
            "n_candidates",
            "n_truth",
            "n_matched",
            F.round(
                _ratio(F.col("n_matched"), F.col("n_truth")), precision
            ).alias("pair_completeness"),
            F.round(
                _ratio(F.col("n_matched"), F.col("n_candidates")), precision
            ).alias("pair_quality"),
            F.round(
                F.lit(1.0) - _ratio(F.col("n_candidates"), F.lit(total_pairs)),
                precision,
            ).alias("reduction_ratio"),
        )
    )


def cluster_cohesion(
    assignments: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    comp_col: str = "component",
    left_col: str = "left_id",
    right_col: str = "right_id",
    weight_col: str | None = None,
    precision: int = 6,
) -> DataFrame:
    """Per-cluster cohesion diagnostics over a clustering + its match-edge
    graph — the post-clustering QA report (Splink's cluster-metrics idea):
    a transitive-closure cluster glued together by a single weak edge is a
    likely bad merge, and density + weight stats find those without any
    pairwise recompute.

    Returns one row per cluster: ``(component, n_nodes, n_edges, density
    [, min_weight, avg_weight])``.

    * ``density`` = n_edges / C(n_nodes, 2); singletons are 1.0 by
      convention (trivially complete).
    * edges are orientation-normalised and deduped; only intra-cluster
      edges count (cross-cluster edges — candidates the scorer rejected —
      are ignored).  When duplicate edges carry DIFFERENT weights (both
      orientations scored, or two scoring channels), the pair keeps its
      MAX weight — a deterministic pick (``dropDuplicates`` would keep
      whichever row a partition scan saw first, making min/avg_weight
      partitioning-dependent); max = the strongest supporting evidence
      for the link, so the cluster-level ``min_weight`` reads as "the
      weakest link even under its best score".
    * weight stats are null for edgeless clusters (left-join semantics),
      present only when ``weight_col`` is given.

    Scale shape: two node-keyed joins to label edge endpoints, one
    groupBy per cluster, one left join onto cluster sizes — all shuffles
    on node/cluster ids, no window, no arrays.
    """
    a, b = F.col(left_col), F.col(right_col)
    norm_cols = [F.least(a, b).alias("_ea"), F.greatest(a, b).alias("_eb")] + (
        [F.col(weight_col).alias("_w")] if weight_col else []
    )
    if weight_col:
        # deterministic per-pair weight under duplicate edges: max, not an
        # arbitrary dropDuplicates survivor (see docstring)
        e = (
            edges.select(*norm_cols)
            .groupBy("_ea", "_eb")
            .agg(F.max("_w").alias("_w"))
        )
    else:
        e = edges.select(*norm_cols).dropDuplicates(["_ea", "_eb"])
    la = assignments.select(
        F.col(node_col).alias("_ea"), F.col(comp_col).alias("_ca")
    )
    lb = assignments.select(
        F.col(node_col).alias("_eb"), F.col(comp_col).alias("_cb")
    )
    intra = (
        e.join(la, "_ea").join(lb, "_eb").filter(F.col("_ca") == F.col("_cb"))
    )
    per = intra.groupBy(F.col("_ca").alias("component")).agg(
        F.count("*").alias("n_edges"),
        *(
            [
                F.round(F.min("_w"), precision).alias("min_weight"),
                # mean = round(sum)/count, NOT round(avg): weights arrive
                # 6dp-rounded, and the mean of 6dp multiples often lands
                # on an exact decimal half (x.xxxxxx5) where Spark's
                # binary-expansion HALF_UP and an oracle engine's
                # decimal-repr rounding disagree (the q_monge_elkan
                # divergence class).  The SUM of 6dp multiples sits within
                # 1 ulp of the micro-unit grid — never near a half — so
                # round(sum) absorbs ordering noise and the division then
                # produces bit-identical doubles in both engines.
                (
                    F.round(F.sum("_w"), precision) / F.count("*")
                ).alias("avg_weight"),
            ]
            if weight_col
            else []
        ),
    )
    sizes = assignments.groupBy(
        F.col(comp_col).alias("component")
    ).agg(F.count("*").alias("n_nodes"))
    n = F.col("n_nodes")
    return (
        sizes.join(per, "component", "left")
        .withColumn("n_edges", F.coalesce("n_edges", F.lit(0)))
        .withColumn(
            "density",
            F.when(n < 2, F.lit(1.0)).otherwise(
                F.round(
                    # C(n, 2) in double: the BIGINT product n*(n-1)
                    # overflows (ANSI: job failure) at n ≈ 4.3e9 nodes —
                    # i.e. exactly on the degenerate mega-cluster this
                    # diagnostic exists to flag; density is a double
                    # ratio, so double math loses nothing
                    F.col("n_edges").cast("double")
                    / (n.cast("double") * (n - F.lit(1)).cast("double") / F.lit(2.0)),
                    precision,
                )
            ),
        )
        .select(
            "component",
            "n_nodes",
            "n_edges",
            "density",
            *(["min_weight", "avg_weight"] if weight_col else []),
        )
    )


def adjusted_rand_index(
    assignments: DataFrame,
    a_col: str = "component_a",
    b_col: str = "component_b",
    precision: int = 6,
) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) between two clusterings
    of the same items — the standard run-over-run stability metric: compare
    this week's clusters against last week's, or two threshold-ladder
    levels, without any labeled truth.

    ``assignments`` has one row per item with its cluster id under run A
    and run B; rows where either label is NULL (unlabeled items) are
    excluded — the family convention shared with
    :func:`pairwise_cluster_metrics` and :func:`v_measure`.  Returns one
    row: ``(n_items, index, expected, max_index, ari)`` where

        index    = Σ_cells C(n_ij, 2)
        expected = Σ_i C(a_i, 2) · Σ_j C(b_j, 2) / C(n, 2)
        max      = (Σ_i C(a_i, 2) + Σ_j C(b_j, 2)) / 2
        ari      = (index − expected) / (max − expected)

    Degenerate convention (both partitions all-singletons or all-one):
    max == expected, and ari is defined as 1.0 — the partitions are
    identical — matching scikit-learn.

    Scale shape: identical to :func:`pairwise_cluster_metrics` — one
    shuffle on the (a, b) contingency cell, two rollup dims, 1-row
    combine; never materialises pairs.
    """
    assignments = assignments.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    )
    cells = assignments.groupBy(a_col, b_col).agg(F.count("*").alias("n_cell"))
    a_sizes = cells.groupBy(a_col).agg(F.sum("n_cell").alias("n_a"))
    b_sizes = cells.groupBy(b_col).agg(F.sum("n_cell").alias("n_b"))
    idx = cells.agg(
        F.sum("n_cell").alias("n_items"),
        _comb_sum("n_cell").alias("index"),
    )
    sum_a = a_sizes.agg(_comb_sum("n_a").alias("sa"))
    sum_b = b_sizes.agg(_comb_sum("n_b").alias("sb"))
    n = F.col("n_items")
    # C(n, 2) straight in double: the BIGINT product n*(n-1) overflows at
    # n ≈ 4.3e9 items, and `total` only ever feeds double ratio math
    total = n.cast("double") * (n - F.lit(1)).cast("double") / F.lit(2.0)
    stats = (
        idx.crossJoin(F.broadcast(sum_a))
        .crossJoin(F.broadcast(sum_b))
        .select(
            "n_items",
            "index",
            # sa·sb in DOUBLE: the BIGINT product overflows once
            # sa·sb > 2^63 — with moderate 1000-item clusters that is
            # already a ~10-MILLION-item input, far below the design
            # point; `expected` is a double metric, so double math is
            # the honest type (exact to 2^53, approximate beyond —
            # fine for a ratio whose numerator is an expectation)
            F.when(
                total > 0,
                F.col("sa").cast("double") * F.col("sb").cast("double") / total,
            ).otherwise(F.lit(0.0)).alias("expected"),
            # sa + sb promoted to DOUBLE before adding: each _comb_sum
            # exports up to ~9.2e18, so the BIGINT sum wraps (non-ANSI)
            # or fails the job (ANSI) when both runs carry a ~4.3e9-item
            # mega-cluster — the same degenerate design point the sa·sb
            # double promotion above hardens (values identical below
            # 2^53 either way)
            (
                (F.col("sa").cast("double") + F.col("sb").cast("double"))
                / F.lit(2.0)
            ).alias("max_index"),
        )
    )
    denom = F.col("max_index") - F.col("expected")
    return stats.select(
        "n_items",
        "index",
        F.round("expected", precision).alias("expected"),
        F.round("max_index", precision).alias("max_index"),
        F.round(
            F.when(
                F.abs(denom) < 1e-12, F.lit(1.0)
            ).otherwise((F.col("index") - F.col("expected")) / denom),
            precision,
        ).alias("ari"),
    )


def v_measure(
    assignments: DataFrame,
    pred_col: str = "component",
    true_col: str = "truth",
    precision: int = 6,
) -> DataFrame:
    """Homogeneity / completeness / V-measure (Rosenberg & Hirschberg,
    EMNLP'07) — the entropy-based clustering diagnostics that separate the
    two failure modes pairwise F1 mixes together: homogeneity drops when a
    cluster MIXES truths (bad merges), completeness drops when a truth is
    SPLIT across clusters (missed merges).

        homogeneity  = 1 − H(truth | pred) / H(truth)
        completeness = 1 − H(pred | truth) / H(pred)
        v            = harmonic mean of the two

    Degenerate conventions (matching scikit-learn): a side with zero
    entropy (single class / single cluster) defines its ratio as 1.0; if
    homogeneity + completeness = 0, v = 0.0.  NULL-labeled rows are
    excluded up front — the family convention shared with
    :func:`pairwise_cluster_metrics` and :func:`adjusted_rand_index`
    (the conditional-entropy cells here flow through equi-joins, which
    drop NULL keys, while the marginal entropies would still count the
    NULL groups — the same one-sided skew).

    Same scale shape as :func:`pairwise_cluster_metrics` /
    :func:`adjusted_rand_index`: one shuffle on the contingency cell, two
    rollups, 1-row combine — entropies are plain Σ (n/N)·ln(n/N) sums over
    cell/rollup counts, never per-pair work.
    """
    assignments = assignments.filter(
        F.col(pred_col).isNotNull() & F.col(true_col).isNotNull()
    )
    cells = assignments.groupBy(pred_col, true_col).agg(
        F.count("*").alias("n_cell")
    )
    pred_sizes = cells.groupBy(pred_col).agg(F.sum("n_cell").alias("n_pred"))
    true_sizes = cells.groupBy(true_col).agg(F.sum("n_cell").alias("n_true"))
    n_total = cells.agg(F.sum("n_cell").alias("n_items"))

    def _h(sizes: DataFrame, col: str, out: str) -> DataFrame:
        # H = -Σ (n/N) ln(n/N); N rides in as a 1-row broadcast
        return sizes.crossJoin(F.broadcast(n_total)).agg(
            (-F.sum(
                (F.col(col).cast("double") / F.col("n_items"))
                * F.log(F.col(col).cast("double") / F.col("n_items"))
            )).alias(out)
        )

    # conditional entropies from the cells joined to the opposite rollup:
    # H(truth|pred) = -Σ_cells (n/N) ln(n_cell / n_pred)
    joined = (
        cells.join(pred_sizes, pred_col)
        .join(true_sizes, true_col)
        .crossJoin(F.broadcast(n_total))
    )
    cond = joined.agg(
        (-F.sum(
            (F.col("n_cell").cast("double") / F.col("n_items"))
            * F.log(F.col("n_cell").cast("double") / F.col("n_pred"))
        )).alias("h_true_given_pred"),
        (-F.sum(
            (F.col("n_cell").cast("double") / F.col("n_items"))
            * F.log(F.col("n_cell").cast("double") / F.col("n_true"))
        )).alias("h_pred_given_true"),
    )
    stats = (
        cond.crossJoin(F.broadcast(_h(true_sizes, "n_true", "h_true")))
        .crossJoin(F.broadcast(_h(pred_sizes, "n_pred", "h_pred")))
    )
    hom = F.when(
        F.col("h_true") > 0,
        F.lit(1.0) - F.col("h_true_given_pred") / F.col("h_true"),
    ).otherwise(F.lit(1.0))
    com = F.when(
        F.col("h_pred") > 0,
        F.lit(1.0) - F.col("h_pred_given_true") / F.col("h_pred"),
    ).otherwise(F.lit(1.0))
    with_hc = stats.select(hom.alias("_hom"), com.alias("_com"))
    v = F.when(
        F.col("_hom") + F.col("_com") > 0,
        2 * F.col("_hom") * F.col("_com") / (F.col("_hom") + F.col("_com")),
    ).otherwise(F.lit(0.0))
    return with_hc.select(
        F.round("_hom", precision).alias("homogeneity"),
        F.round("_com", precision).alias("completeness"),
        F.round(v, precision).alias("v_measure"),
    )
