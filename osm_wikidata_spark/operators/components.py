"""Transitive clustering: connected components over the match-edge DataFrame
(SURVEY.md §2.5 J8; required by BASELINE.json north_rule).

Two paths, picked by the size of the edge set:

* **local** (at most :data:`LOCAL_EDGES` edges): one min-root union-find
  inside a single Arrow group (``functions/arrow.apply_groups``) — one
  exchange and one task, however many rounds the star loop would have
  needed.  Every star round costs four jobs at a fixed ~0.45 s each
  whatever the data size, so below the bound the per-job cost, not the
  work, decides the wall time; the bound is sized from a measured
  crossover (see :data:`LOCAL_EDGES`).
* **distributed** (above the bound, the 10^12-edge path): the alternating
  large-star / small-star loop below.

The size comes one of two ways.  Without a caller's bound, the edges are
canonicalised (oriented, self-loops dropped, deduplicated) and
checkpointed, and the row count the checkpoint's ``Observation`` records
picks the path, so choosing costs no job beyond that checkpoint.  A
caller that has already measured an upper bound on the edge rows
(``max_edges``, e.g. ``run_pipeline``'s count observed on the edges
write) and finds it within the bound goes straight to union-find over
the raw edges minus self-loops: union-find needs neither orientation nor
dedup, so the canonical shuffle and its checkpoint job are skipped.  The
bound only picks the path — labels are exact either way — but it caps
what one Python worker holds, so it must be measured, never guessed.

The distributed path implements the alternating large-star / small-star
algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14) as pure DataFrame min-over-partition-window rounds:

* **large-star**: for every node u, connect each strictly-larger neighbour
  to min(Γ(u) ∪ {u}).
* **small-star**: for every node u, connect u and each neighbour ≤ u to the
  minimum of that set.

Each star pass is ONE shuffle: the per-node minimum is a window aggregate
over the neighbour rows already co-located by u (a groupBy + join-back
would shuffle the neighbour table a second time — see _large_star).

Convergence is when the edge set is a fixpoint of one large-star +
small-star round.  Each round's edge set (and the canonical input) is
materialised by ONE action, an eager ``localCheckpoint`` that keeps
lineage bounded, and an ``Observation`` on that same action records the
set signature (row count + Σ xxhash64) — no separate signature job.  The
fixpoint is a star forest whose centres are the component minima (every
edge is (root u < child v), every child has exactly one root), so the
labels are read straight off it: (v → u) plus each distinct root
(u → u).  The 10^12-scale variant swaps the local checkpoint for a
checkpoint-table write per round (plans/checkpoint.py) which also makes
the loop resumable.

There is no reference implementation to cite — the reference enforces 1:1
matches instead (`/root/reference/matcher/matcher.py:1429-1481`); transitive
clustering is graft-new per BASELINE.json.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StructField, StructType

from ..functions.arrow import apply_groups

# Canonical edge sets of at most this many rows take the local path.
# Measured on random graphs (m edges over m node ids, 4-core VM,
# local[4], warm workers), seconds for kernel alone / local path /
# distributed path:
#   10^5 bigint 0.07 / 1.6 / 8.2     10^5 string 0.27 / 1.5 / 7.4
#   10^6 bigint 1.0 / 4.1 / 17.3     10^6 string 5.6 / 8.9 / 27.4
# The local path is still 3-4x faster at 10^6, so the crossover lies
# above this bound; the bound also caps what one Python worker holds.
LOCAL_EDGES = 1 << 20


def _canonical(edges: DataFrame) -> DataFrame:
    """(u, v) with u < v, self-loops dropped, deduplicated."""
    return (
        edges.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _bidirectional(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """Replace every edge (u, v>u) by (v, min(Γ(u) ∪ {u})).

    The per-node minimum rides a partition WINDOW over u rather than a
    groupBy + join-back: both need every neighbour row co-located by u,
    but the window does it in ONE exchange where the join re-shuffles the
    full neighbour table a second time to meet its own aggregate — at
    10^12 edges that halves the shuffled bytes of every CC round (the
    star passes dominate the job).  Skew: a hot node's neighbours landed
    in one partition under either plan, but the window BUFFERS them in
    one (spillable) task where the sort-merge join streamed them and was
    AQE-skew-splittable — the window trade is right HERE because every
    pair generator in this engine caps block/bucket/cell sizes upstream
    (max_block_size / max_bucket / max_cell), bounding the degree a node
    can enter CC with, and large-star itself is the pass that breaks hot
    stars up.  An uncapped external edge feed should cap degrees first
    (contrast cap_buckets, which KEEPS groupBy+join for exactly this
    reason: its whole job is to meet uncapped skew).

    The output is NOT re-canonicalised here: it contains no self-loops
    (min_n ≤ u < v strictly) and is orientation-free for the next pass
    (:func:`_small_star` symmetrises its input), while duplicates are
    min-neutral inside small-star's window and collapse in small-star's
    own ``_canonical``.  Dropping the mid-round dedup removes one full
    exchange of the edge set from EVERY round (measured plan: 4 → 3
    exchanges per round; the per-round output is byte-identical because
    small-star's canonical dedup still runs)."""
    from pyspark.sql.window import Window

    nb = _bidirectional(e)
    min_n = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    return (
        nb.withColumn("min_n", min_n)
        .filter(F.col("v") > F.col("u"))
        # orient (v, min_n): min_n < v strictly, so rows are canonical
        # (small, large) swapped — small_star's _bidirectional handles it
        .select(F.col("v").alias("u"), F.col("min_n").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For every node, hang itself and its ≤ neighbours off their minimum.

    Same one-exchange window shape as :func:`_large_star`; the centre
    rows (u, min) are emitted once per neighbour instead of once per node
    — :func:`_canonical`'s dropDuplicates (already required by the
    algorithm) collapses them, so no extra shuffle is introduced."""
    from pyspark.sql.window import Window

    nb = _bidirectional(e).filter(F.col("v") <= F.col("u"))
    nb = nb.withColumn("min_n", F.min("v").over(Window.partitionBy("u")))
    rehung = nb.select(F.col("v").alias("u"), F.col("min_n").alias("v"))
    centres = nb.select(F.col("u"), F.col("min_n").alias("v"))
    return _canonical(rehung.union(centres))


def _materialise(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Run ONE action over the edge set ``e`` and return ``(e', sig)``.

    ``e'`` is ``e`` localCheckpoint-ed by that action.  ``sig`` is the
    order-independent set signature an ``Observation`` records on the same
    action: row count and the sum of ``xxhash64(u, v)`` as
    ``decimal(38,0)`` (the hashes overflow bigint under ANSI mode)."""
    obs = Observation()
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    )
    e = observed.localCheckpoint(eager=True)
    m = obs.get
    return e, (m["n"], m["h"])


def _union_find_kernel(pdf: pd.DataFrame) -> dict:
    """Label every endpoint of the edges (u, v) in ``pdf`` with its
    component minimum.  Orientation and duplicate edges do not matter;
    ``pdf`` holds no self-loop and no null endpoint.

    ``np.unique`` codes ``u ∪ v`` in Spark's own order (numeric for
    numbers; code-point order for strings, which is UTF-8 byte order), so
    the smallest code of a component is its minimum id.  (``pd.factorize``
    hashes strings as C strings, so it merges an id ending in NUL into the
    same id without it.)  The union
    always hangs the larger root under the smaller, which keeps
    ``parent[x] <= x`` and makes every root its tree's minimum; numpy
    pointer-jumping then flattens the forest."""
    n = len(pdf)
    uniq, codes = np.unique(
        np.concatenate([pdf["u"].to_numpy(), pdf["v"].to_numpy()]),
        return_inverse=True,
    )
    parent = list(range(len(uniq)))
    for a, b in zip(codes[:n].tolist(), codes[n:].tolist()):
        while parent[a] != a:  # find with path halving
            parent[a] = parent[parent[a]]
            a = parent[a]
        while parent[b] != b:
            parent[b] = parent[parent[b]]
            b = parent[b]
        if a < b:
            parent[b] = a
        elif b < a:
            parent[a] = b
    root = np.asarray(parent, dtype=np.int64)
    while True:
        jumped = root[root]
        if np.array_equal(jumped, root):
            break
        root = jumped
    return {"node": uniq, "component": uniq[root]}


def _local_labels(e: DataFrame) -> DataFrame:
    """``(node, component)`` of the edges ``e`` (no self-loop) from
    :func:`_union_find_kernel`, run over all of ``e`` as one Arrow group."""
    t = e.schema["u"].dataType
    schema = StructType([StructField("node", t), StructField("component", t)])
    return apply_groups(
        e.withColumn("_g", F.lit(0)), ["_g"], _union_find_kernel, schema
    )


def connected_components(
    edges: DataFrame,
    src: str = "left_id",
    dst: str = "right_id",
    max_iterations: int = 30,
    max_edges: int | None = None,
) -> DataFrame:
    """Label every node with the minimum node id of its component.

    Returns ``(node, component)`` for every endpoint of a non-self-loop
    edge.  An edge set of at most :data:`LOCAL_EDGES` canonical edges is
    labelled by one union-find task and runs no rounds.  Above that the
    star loop takes O(log^2 n) rounds (on the chain/star graphs of the
    tests, <10) and raises ``RuntimeError`` when the edge set is not a
    fixpoint after ``max_iterations`` rounds: labels read off an
    unconverged edge set would silently split components.

    ``max_edges`` is an upper bound on the rows of ``edges`` that the
    caller has measured (not guessed: it caps what the one union-find
    task holds).  At or under :data:`LOCAL_EDGES` the raw edges go
    straight to union-find, with no canonical dedup and no checkpoint;
    with ``None`` or above the bound the edges are canonicalised and
    checkpointed, and their observed count picks the path.
    """
    uv = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if max_edges is not None and max_edges <= LOCAL_EDGES:
        return _local_labels(uv.filter(F.col("u") != F.col("v")))
    # ONE action per round: the eager localCheckpoint that materialises
    # the round's edge set also carries the signature Observation, so
    # convergence costs no job of its own (see _materialise).
    e, sig = _materialise(_canonical(uv))
    if sig[0] <= LOCAL_EDGES:
        return _local_labels(e)
    for _ in range(max_iterations):
        e, new_sig = _materialise(_small_star(_large_star(e)))
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iterations={max_iterations}; raise max_iterations"
        )

    # a fixpoint of the round is a star forest: every edge is (root u <
    # child v) and every child hangs off exactly one root, the component
    # minimum — so no node distinct, min-aggregate or join is needed
    return e.select(F.col("v").alias("node"), F.col("u").alias("component")).union(
        e.select(F.col("u").alias("node"), F.col("u").alias("component")).distinct()
    )


def incremental_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    src: str = "left_id",
    dst: str = "right_id",
    max_iterations: int = 30,
) -> DataFrame:
    """Fold a batch of new match edges into an existing ``(node,
    component)`` assignment WITHOUT re-clustering the full graph.

    The streaming counterpart of :func:`connected_components` (pairs with
    ``streaming/incremental.py``'s per-batch edge scoring): contract every
    new edge to the current component labels of its endpoints, run CC on
    the contracted graph — whose size is O(batch), independent of the
    accumulated graph — then recompose:

    * existing components whose label got merged are re-labelled by one
      join on the component key (the only full-table touch, and the meta
      mapping is batch-sized, so AQE broadcasts it);
    * brand-new nodes take their contracted label directly.

    Labels stay the component-minimum node id: an old label is already the
    min of its members, so the contracted min over {old labels, new nodes}
    is the min over the merged membership — identical to what a full
    recompute would produce.  That makes incremental-vs-batch equality
    testable exactly (tests/test_components.py) and the state resumable
    from any committed assignment generation.

    A contracted graph of at most :data:`LOCAL_EDGES` edges — any
    ordinary batch — is labelled by one union-find task.  Only a batch
    above that bound runs the star loop, and only there does the uncapped
    degree of this external edge feed meet the capped-degree assumption
    of :func:`_large_star`'s window.
    """
    a = assignments.select("node", "component")
    e = (
        new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    )
    # endpoints -> current labels (nodes unseen so far label themselves)
    cu = a.select(F.col("node").alias("u"), F.col("component").alias("cu"))
    cv = a.select(F.col("node").alias("v"), F.col("component").alias("cv"))
    contracted = (
        e.join(cu, "u", "left")
        .join(cv, "v", "left")
        .select(
            F.coalesce("cu", "u").alias("left_id"),
            F.coalesce("cv", "v").alias("right_id"),
        )
    )
    meta = connected_components(contracted, max_iterations=max_iterations)

    # re-label merged components: one join keyed on the (batch-sized) meta
    relabel = meta.select(
        F.col("node").alias("component"), F.col("component").alias("merged")
    )
    updated = a.join(relabel, "component", "left").select(
        "node", F.coalesce("merged", "component").alias("component")
    )
    # nodes first seen in this batch: in meta (as themselves) but not in a
    fresh = (
        meta.join(a.select(F.col("node")), "node", "left_anti")
        .select("node", "component")
    )
    return updated.unionByName(fresh)


def components_at_thresholds(
    edges: DataFrame,
    thresholds: list[float],
    weight_col: str = "weight",
    src: str = "left_id",
    dst: str = "right_id",
    max_iterations: int = 30,
) -> DataFrame:
    """Cluster assignments at several score thresholds in one frame:
    ``(threshold, node, component)`` — the Splink-style hierarchy view
    that lets an analyst pick the linkage operating point by inspecting
    how clusters merge as the threshold drops.

    Node universe is FIXED across thresholds (every endpoint of the input
    edge set), so rows per threshold are comparable: a node whose edges
    all fall below a threshold appears as its own singleton component.

    Scale shape: one CC run per threshold over the filtered edge set —
    thresholds are few (an analyst's ladder, not a sweep) and the runs are
    independent (a scheduler can execute them concurrently).  A filtered
    set of at most :data:`LOCAL_EDGES` edges costs one union-find task;
    above that the O(log^2 n) star rounds dominate.  Monotonicity
    (clusters only merge as the threshold drops) is a model property,
    pinned by tests rather than exploited for incremental reuse — at
    10^12 edges the simple per-threshold run
    re-reads the edge set, which is cheaper than materialising the
    merge-tree state between levels.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    out = None
    for t in thresholds:
        cc = connected_components(
            edges.filter(F.col(weight_col) >= t).select(src, dst),
            src,
            dst,
            max_iterations=max_iterations,
        )
        full = (
            nodes.join(cc, "node", "left")
            .select(
                F.lit(float(t)).alias("threshold"),
                "node",
                F.coalesce("component", "node").alias("component"),
            )
        )
        out = full if out is None else out.unionByName(full)
    return out
