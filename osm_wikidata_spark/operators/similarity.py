"""Similarity search over embedding columns (driver mandate).

Brute-force cosine top-k as the exact baseline, and a multi-table
random-hyperplane LSH variant as the scale path.  Exact dot products run
JVM-side via ``zip_with`` + ``aggregate`` higher-order functions; LSH
signatures run as ONE Arrow-batched numpy matmul per batch (a ``dim × 768``
plane matrix as column literals would put multi-MB plans through Catalyst,
and the matmul is faster anyway).

Scale: brute force is O(N·Q); at 100 TB use the LSH variant, whose bucket
join turns the cross product into per-bucket joins.  Recall is tuned with
``n_tables`` (union of independent hash tables) — measured ≥0.9 on the
driver's embeddings testdata in tests/test_operators.py.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from ..functions.arrow import apply_groups, map_batches
from .blocking import top_k_per_group


def dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _safe_div(num: F.Column, den: F.Column) -> F.Column:
    """NULL — not a crash, not NaN — for degenerate cosine inputs.

    Under Spark 4's default ANSI mode a zero divisor (a zero-norm
    vector, the classic corrupt-embedding row) is a hard
    DIVIDE_BY_ZERO **job failure**; with ANSI off it yields NULL.  A
    NaN element is worse than either: NaN propagates through dot/norm
    and sorts GREATER than every double, so one corrupt vector would
    ride a descending sort to the top of every top-k list.
    ``try_divide`` restores NULL-on-zero under both ANSI modes;
    ``nanvl`` maps NaN results to NULL.  NULL cos fails every
    ``>= threshold`` filter and sorts last under ``desc`` (Spark's
    default nulls-last), so degenerate vectors become unfindable
    instead of job-killing or list-topping."""
    return F.nanvl(F.try_divide(num, den), F.lit(None).cast("double"))


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return _safe_div(dot(a, b), l2_norm(a) * l2_norm(b))


def _norm_cosine(
    lv: F.Column, rv: F.Column, ln: F.Column, rn: F.Column
) -> F.Column:
    """``dot(lv, rv) / (ln · rn)`` — :func:`cosine` with the two L2 norms
    carried as per-ROW scalar columns through the pair join instead of
    recomputed per PAIR.  Bit-identical to :func:`cosine` (the norms are
    the same float values computed with the same ops, and the divide is
    the same divide — measured 0 mismatches at 6dp over 500k sf0.1
    pairs, including the NULL-on-degenerate case via :func:`_safe_div`),
    but per-pair work drops from three O(dim) array aggregates to one:
    norms become part of the O(N·dim) row-side term, leaving the dot as
    the only O(P·dim) term.  At the N²/k candidate volumes of semdedup /
    LSH rerank this measured ~2× on the whole edge stage
    (sf0.1: 5.9 s → 3.0 s)."""
    return _safe_div(dot(lv, rv), ln * rn)


def brute_force_top_k(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the corpus.

    Returns (query_id, vec_id, cos) — the per-query k best corpus vectors.
    """
    vs = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("vn"),
    )
    qs = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
        l2_norm(F.col(query_vec_col)).alias("qn"),
    )
    joined = vs.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        _norm_cosine(F.col("v"), F.col("qv"), F.col("vn"), F.col("qn")).alias("cos"),
    )
    return top_k_per_group(
        joined, "query_id", "cos", k, ascending=False, tiebreak=["vec_id"]
    ).select("query_id", "vec_id", F.round("cos", 6).alias("cos"))


_PLANES_CACHE: dict[tuple[int, int, int], "object"] = {}


def _planes(seed: int, dim: int, n_rows: int):
    """Deterministic Gaussian plane matrix, cached per Python worker.

    Planes are a pure function of (seed, dim) — identical on every executor
    and across runs without shipping a dim×n_rows literal through the plan.
    The dim comes from the vectors themselves, so no driver-side probe."""
    import numpy as np

    key = (seed, dim, n_rows)
    if key not in _PLANES_CACHE:
        rng = np.random.default_rng(seed)
        _PLANES_CACHE[key] = rng.standard_normal((n_rows, dim))
    return _PLANES_CACHE[key]


def hyperplane_signatures(
    vec_col,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> F.Column:
    """Multi-table random-hyperplane LSH: array of ``n_tables`` bucket keys.

    Table t's key is ``"t:<dim>:<n_planes sign bits of v·R_t>"`` — one
    numpy matmul per distinct vector length per Arrow batch, no per-plane
    column expressions.  A row's signature is a pure function of its own
    vector: each length group is signed with the plane matrix for ITS
    length (planes are a pure function of ``(seed, length)``), so a valid
    vector's buckets never depend on which rows share its Arrow batch —
    i.e. never on partitioning.  The length rides in the key, so vectors
    of different lengths can never bucket-collide.  Null/empty vectors
    get an empty bucket list (unfindable rather than failing the task);
    when ``dim`` is given, rows of any OTHER length are likewise emptied
    (explicit-validation mode, matching ``ivf_assign``).
    """

    @F.pandas_udf(ArrayType(StringType()))
    def _sig(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype=object)
        lens = v.map(lambda x: -1 if x is None else len(x)).to_numpy()
        out = pd.Series([[] for _ in range(len(v))], dtype=object)
        dims = [dim] if dim is not None else [int(d) for d in np.unique(lens) if d > 0]
        for d in dims:
            valid = lens == d
            if d <= 0 or not valid.any():
                continue
            mat = np.stack(v[valid].to_numpy())  # (group, d)
            planes = _planes(seed, d, n_tables * n_planes)
            bits = (mat @ planes.T >= 0).astype(np.uint8)  # (group, T*P)
            sigs = [
                [
                    f"{t}:{d}:"
                    + "".join(map(str, row[t * n_planes : (t + 1) * n_planes]))
                    for t in range(n_tables)
                ]
                for row in bits
            ]
            out[valid] = pd.Series(sigs, index=out.index[valid], dtype=object)
        return out

    return _sig(vec_col)


def lsh_top_k(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: exact cosine rerank within the union of matching
    buckets across ``n_tables`` independent hyperplane tables.

    Per-table collision probability for angle θ is (1−θ/π)^n_planes; the
    union over tables lifts recall to 1−(1−p)^n_tables.  Tune n_tables up /
    n_planes down for recall, the reverse for candidate-set size.

    SIZE ASSUMPTION: the query side is force-broadcast — correct for the
    top-k-search shape this implements (queries ≪ corpus; each query row
    carries n_tables bucket rows plus its vector, so e.g. 10k 768-dim
    float64 queries ≈ 60 MB broadcast).  For query sets beyond ~10^5
    vectors drop the hint or use :func:`cosine_near_dup_pairs_lsh`'s
    self-join shape instead.
    """
    bucketed = vectors.withColumn(
        "_vn", l2_norm(F.col(vec_col))
    ).withColumn(
        "bucket", F.explode(hyperplane_signatures(F.col(vec_col), n_planes, n_tables, seed))
    )
    bucketed_q = queries.withColumn(
        "_qn", l2_norm(F.col(query_vec_col))
    ).withColumn(
        "bucket",
        F.explode(hyperplane_signatures(F.col(query_vec_col), n_planes, n_tables, seed)),
    )
    joined = (
        bucketed.join(F.broadcast(bucketed_q), "bucket")
        .select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("vec_id"),
            _norm_cosine(
                F.col(vec_col), F.col(query_vec_col), F.col("_vn"), F.col("_qn")
            ).alias("cos"),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    return top_k_per_group(
        joined, "query_id", "cos", k, ascending=False, tiebreak=["vec_id"]
    ).select("query_id", "vec_id", F.round("cos", 6).alias("cos"))


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (driver-mandate dedup
    variant): all (left, right) with cosine ≥ threshold, left < right.

    All-pairs O(N²) — the exact baseline for oracle checks and small N.
    Use :func:`cosine_near_dup_pairs_lsh` at scale.
    """
    left = vectors.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("lv"),
        l2_norm(F.col(vec_col)).alias("ln"),
    )
    right = vectors.select(
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("rv"),
        l2_norm(F.col(vec_col)).alias("rn"),
    )
    return (
        left.join(right, F.col("left_id") < F.col("right_id"))
        .select(
            "left_id",
            "right_id",
            F.round(
                _norm_cosine(F.col("lv"), F.col("rv"), F.col("ln"), F.col("rn")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def cosine_near_dup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 200,
    persist: bool = False,
    dropped_sink: Callable[[DataFrame], None] | None = None,
) -> DataFrame:
    """Approximate embedding-cosine near-dup pairs — the 100-TB path.

    Candidates = pairs sharing a bucket in ANY of ``n_tables`` hyperplane
    tables (the self-join analog of :func:`lsh_top_k`), verified with the
    exact cosine.  High-cosine pairs have a small angle, so per-table
    collision probability (1−θ/π)^n_planes is high precisely for the pairs
    a dedup cares about — e.g. cos ≥ 0.9 ⇒ θ ≤ 0.451 rad ⇒ p_table ≈ 0.29,
    union over 8 tables ≈ 0.94 recall.

    Scale shape: the bucket self-join carries COMPACT IDS ONLY — full
    embedding vectors never ride the candidate shuffle; they are rehydrated
    by id join after candidate dedup.  Buckets above ``max_bucket`` (the
    keyspace is only ``n_tables · 2^n_planes``, so a degenerate corpus
    floods it) are dropped, bounding candidates at
    ``n_tables · 2^n_planes · max_bucket² / 2`` rows — raise ``n_planes``
    with corpus size so population per bucket stays under the cap.
    """
    from .dedup import cap_buckets

    bucketed = vectors.select(
        F.col(id_col).alias("doc"),
        F.explode(
            hyperplane_signatures(F.col(vec_col), n_planes, n_tables, seed)
        ).alias("bucket"),
    )
    # bucketed feeds the bucket-size count and both self-join sides;
    # persist (two scalar columns per row, OPT-IN — cache-lifetime contract
    # of dedup.ngram_jaccard_pairs) so the hyperplane-signature pandas UDF
    # runs once per vector, not ~4x.  dropped_sink receives the (bucket, n)
    # frame of cap-dropped buckets so recall loss is observable.
    if persist:
        from pyspark import StorageLevel

        bucketed = bucketed.persist(StorageLevel.MEMORY_AND_DISK)
    kept, dropped = cap_buckets(bucketed, ["bucket"], max_bucket)
    if dropped_sink is not None:
        dropped_sink(dropped)
    candidates = (
        kept.select(F.col("doc").alias("left_id"), "bucket")
        .join(kept.select(F.col("doc").alias("right_id"), "bucket"), "bucket")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    lv = vectors.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("lv"),
        l2_norm(F.col(vec_col)).alias("ln"),
    )
    rv = vectors.select(
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("rv"),
        l2_norm(F.col(vec_col)).alias("rn"),
    )
    return (
        candidates.join(lv, "left_id")
        .join(rv, "right_id")
        .select(
            "left_id",
            "right_id",
            F.round(
                _norm_cosine(F.col("lv"), F.col("rv"), F.col("ln"), F.col("rn")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment against a fixed centroid codebook.

    The codebook would come from a sampled k-means offline; here it is
    supplied by the caller, keeping the operator deterministic.  ``cell`` is
    the argmax-cosine centroid index (first index on exact ties, matching
    ``array_position(array_max)``).

    Scale shape: the codebook ships WORKER-SIDE as a numpy matrix captured
    in the pandas-UDF closure (PySpark auto-broadcasts large serialized
    commands), NOT as ``F.lit`` column expressions — a realistic codebook
    (4k-65k centroids x 768 dims) as plan literals would put a
    multi-hundred-MB tree through Catalyst on every analysis pass.  Each
    Arrow batch is scored with ONE ``(batch, dim) @ (dim, k)`` matmul, the
    same pattern as :func:`hyperplane_signatures`' plane matrix.
    """
    import numpy as np

    cb = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    cb_norms = np.sqrt((cb * cb).sum(axis=1))
    cb_norms[cb_norms == 0.0] = 1.0  # zero centroid scores 0 everywhere

    dim = cb.shape[1]

    @F.pandas_udf("long")
    def _cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="Int64")
        # null or dimension-mismatched vectors yield a null cell (the
        # column-expression form's behaviour) instead of failing the task
        valid = v.map(lambda x: x is not None and len(x) == dim)
        out = pd.array([pd.NA] * len(v), dtype="Int64")
        if valid.any():
            mat = np.stack(v[valid].to_numpy())  # (batch, dim)
            vec_norms = np.sqrt((mat * mat).sum(axis=1))
            vec_norms[vec_norms == 0.0] = 1.0
            sims = (mat @ cb.T) / (vec_norms[:, None] * cb_norms[None, :])
            out[valid.to_numpy()] = sims.argmax(axis=1).astype("int64")
        return pd.Series(out, dtype="Int64")

    return vectors.select(
        F.col(id_col), F.col(vec_col), _cell(F.col(vec_col)).alias("cell")
    )


def ivf_top_k(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF search: exact cosine rerank restricted to the ``nprobe`` cells
    whose centroids best match each query.

    The corpus is partitioned once by :func:`ivf_assign` (each vector in
    exactly one cell), queries probe their top-``nprobe`` centroid cells,
    and the rerank join touches ~``N · nprobe / n_cells`` candidates per
    query instead of N — the classic IVF trade.  Recall loss is confined
    to vectors whose cell is not probed; ``nprobe = n_cells`` degenerates
    to brute force.  Returns (query_id, vec_id, cos) ranked like
    :func:`brute_force_top_k` — unrounded-cos desc with a vec_id
    tiebreak; only the emitted cos is rounded to 6.

    The codebook ships worker-side in both UDF closures (same pattern as
    :func:`ivf_assign`); the probe explode emits ``nprobe`` compact rows
    per query, and the cell join is unhinted (AQE broadcasts the probed
    query side when it is small).
    """
    import numpy as np

    from pyspark.sql.types import ArrayType, LongType

    cb = np.asarray(centroids, dtype=np.float64)
    cb_norms = np.sqrt((cb * cb).sum(axis=1))
    cb_norms[cb_norms == 0.0] = 1.0
    dim = cb.shape[1]

    @F.pandas_udf(ArrayType(LongType()))
    def _probes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        out = []
        for vec in v:
            if vec is None or len(vec) != dim:
                out.append([])
                continue
            arr = np.asarray(vec, dtype=np.float64)
            sims = (arr @ cb.T) / (max(np.sqrt((arr * arr).sum()), 1e-300) * cb_norms)
            # stable argsort: ties probe the lower cell index first
            out.append(np.argsort(-sims, kind="stable")[:nprobe].tolist())
        return pd.Series(out)

    assigned = ivf_assign(vectors, centroids, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("vn"),
        "cell",
    )
    probed = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
        l2_norm(F.col(query_vec_col)).alias("qn"),
        F.explode(_probes(F.col(query_vec_col))).alias("cell"),
    )
    # rank on the UNROUNDED cosine (round only the output), exactly like
    # brute_force_top_k — ranking on the rounded value would let the
    # vec_id tiebreak flip near-ties within 1e-6 and break the
    # nprobe=n_cells ≡ brute-force equivalence
    scored = assigned.join(probed, "cell").select(
        "query_id",
        "vec_id",
        _norm_cosine(F.col("v"), F.col("qv"), F.col("vn"), F.col("qn")).alias("cos"),
    )
    return top_k_per_group(
        scored, "query_id", "cos", k, ascending=False, tiebreak=["vec_id"]
    ).select("query_id", "vec_id", F.round("cos", 6).alias("cos"))


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    n_iter: int = 10,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = False,
    dim: int | None = None,
) -> list[list[float]]:
    """Train an IVF codebook: distributed Lloyd's k-means over the
    embedding column (the offline step :func:`ivf_assign`'s docstring
    defers to the caller for).

    ``dim`` declares the embedding dimension (rows of any other length
    are excluded, matching :func:`ivf_assign`'s validation).  When None
    it is inferred as the MODE of observed vector lengths — an
    aggregation, not a ``first()`` probe, so the choice is deterministic
    on any partitioning even when a corrupt short vector sorts first.

    Spark shapes, per iteration:

    * **assign** — :func:`ivf_assign`'s worker-side-codebook pandas UDF
      (one ``(batch, dim) @ (dim, k)`` matmul per Arrow batch);
    * **update** — per-cell PARTIAL sums via ``map_batches`` (one
      ``(cell, count, sum-vector)`` row per cell per batch — the map-side
      combine), finished on the driver.  The driver step touches only
      O(batches · k) tiny rows; a codebook is driver-sized by the IVF
      contract, so this is the natural home (same judgement as the
      hot-list collect in blocking.py).

    ``persist=True`` caches the projected ``(id, vec)`` frame across the
    Lloyd iterations (each iteration is an action, so the default re-reads
    the source ``n_iter + 1`` times) — the standard iterative-algorithm
    idiom, OPT-IN per this repo's cache-lifetime convention (the caller
    owns executor memory; codebooks are normally trained on a hash-sample
    that fits, see the module docstring).  Unpersisted before return.

    Init is a seeded hash-sample — the k distinct valid vectors with the
    smallest ``xxhash64(id, seed)`` — so the starting codebook is
    reproducible on any cluster size or partitioning.  Iterations use
    floating-point partial sums whose combine order follows partition
    order, so centroids are deterministic for a fixed partitioning but
    may differ in the last ulps across parallelism levels — hence this is
    pinned by pytest (planted clusters, empty-cell survival), not by a
    value-hash oracle.  Empty cells keep their previous centroid.
    """
    import numpy as np

    valid = vectors.filter(F.col(vec_col).isNotNull())
    if dim is None:
        dim_row = (
            valid.groupBy(F.size(vec_col).alias("d"))
            .count()
            .orderBy(F.desc("count"), F.asc("d"))
            .first()
        )
        if dim_row is None:
            raise ValueError("kmeans_fit: no non-null vectors")
        dim = dim_row["d"]
    valid = valid.filter(F.size(vec_col) == dim).select(id_col, vec_col)
    if persist:
        from pyspark import StorageLevel

        valid = valid.persist(StorageLevel.MEMORY_AND_DISK)

    try:
        # seeded hash-sample init: oversample, dedupe driver-side, take k
        cand = (
            valid.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
            .limit(max(4 * k, k + 8))
            .collect()
        )
        init: list[tuple[float, ...]] = []
        seen: set[tuple[float, ...]] = set()
        for row in cand:
            key = tuple(row[vec_col])
            if key not in seen:
                seen.add(key)
                init.append(key)
            if len(init) == k:
                break
        if len(init) < k:
            raise ValueError(
                f"kmeans_fit: only {len(init)} distinct vectors for k={k}"
            )
        cb = np.asarray(init, dtype=np.float64)

        partial_schema = "cell long, n long, s array<double>"

        for _ in range(n_iter):
            assigned = ivf_assign(valid, cb.tolist(), id_col, vec_col).select(
                vec_col, "cell"
            )

            def _partials(pdf):
                cells, ns, sums = [], [], []
                for c, g in pdf[pdf["cell"].notna()].groupby("cell"):
                    cells.append(int(c))
                    ns.append(len(g))
                    sums.append(np.stack(g[vec_col].to_numpy()).sum(axis=0))
                return {"cell": cells, "n": ns, "s": sums}

            rows = map_batches(assigned, _partials, partial_schema).collect()
            counts = np.zeros(k, dtype=np.int64)
            sums = np.zeros_like(cb)
            for r in rows:
                counts[r["cell"]] += r["n"]
                sums[r["cell"]] += np.asarray(r["s"], dtype=np.float64)
            occupied = counts > 0
            cb[occupied] = sums[occupied] / counts[occupied, None]
    finally:
        # the "unpersisted before return" contract must hold on error
        # paths too (e.g. the too-few-distinct-vectors ValueError above)
        if persist:
            valid.unpersist()
    return cb.tolist()


def _cell_pair_kernel(threshold: float, margin: float = 2e-6, block: int = 2048):
    """Per-cell pair generator + cosine verify as one numpy kernel.

    FP-identity with the former per-pair ``zip_with``/``aggregate`` shape
    (which Spark evaluates INTERPRETED — higher-order lambdas are
    CodegenFallback, the change-11 finding again): every float op here
    replays the JVM fold's exact sequence —

    * products ``a_d·b_d`` round once each, then accumulate **in dim
      order** (``G = G + outer(a[:,d], b[:,d])`` is one rounded add per
      element per step, exactly ``((0.0 + p_0) + p_1) + …``);
    * norms run the same sequential square-accumulate then ``sqrt``;
    * ``cos = dot / (ln·rn)`` is the same single multiply and divide.

    Degenerate cases replicate :func:`_safe_div`: a zero denominator
    (zero-norm vector) and a NaN cosine are EXCLUDED, exactly as
    ``try_divide``'s NULL and ``nanvl``'s NULL fail the threshold filter.
    The kernel filter keeps a superset (``cos >= threshold - margin``);
    the exact ``round(cos, 6) >= threshold`` decision stays JVM-side on
    the emitted double, so borderline rounding never crosses the Python
    boundary (margin 2e-6 ≫ the 5e-7 rounding half-step).

    Pairs are oriented by a strict id comparison, so ids must be unique
    within a cell: a duplicate id raises ``ValueError`` naming it (one
    O(n) pass over the already-sorted ids) instead of dropping its pairs.
    The pair matrix is evaluated in ``block``×``block`` tiles so a
    degenerate giant cell costs O(n²) work (as the former self-join did)
    but only ~``block²`` transient memory for the pair matrix; the cell
    itself is held whole, O(n·dim).
    """

    def kernel(pdf):
        import numpy as np

        n = len(pdf)
        if n < 2:
            return None
        ids_raw = pdf["doc"].to_numpy()
        order = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[order]
        # sorted ids: equal neighbours are duplicates, whose pairs the
        # strict ids[i] < ids[j] orientation below would silently drop
        dup = np.flatnonzero(ids[1:] == ids[:-1])
        if dup.size:
            raise ValueError(
                f"semdedup: duplicate id {ids[dup].tolist()[0]!r} in "
                f"cell {pdf['cell'].iloc[0]}; id_col must hold unique ids"
            )
        mat = np.stack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        dim = mat.shape[1]
        acc = np.zeros(n, dtype=np.float64)
        for d in range(dim):
            c = mat[:, d]
            acc = acc + c * c
        norms = np.sqrt(acc)
        out_l, out_r, out_c = [], [], []
        for i0 in range(0, n, block):
            ai = mat[i0:i0 + block]
            for j0 in range(i0, n, block):
                bj = mat[j0:j0 + block]
                G = np.zeros((ai.shape[0], bj.shape[0]), dtype=np.float64)
                for d in range(dim):
                    G = G + ai[:, d][:, None] * bj[:, d][None, :]
                den = (
                    norms[i0:i0 + ai.shape[0]][:, None]
                    * norms[j0:j0 + bj.shape[0]][None, :]
                )
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = G / den
                keep = (
                    (
                        ids[i0:i0 + ai.shape[0]][:, None]
                        < ids[j0:j0 + bj.shape[0]][None, :]
                    )
                    & (den != 0.0)
                    & ~np.isnan(cos)
                    & (cos >= threshold - margin)
                )
                ii, jj = np.nonzero(keep)
                if len(ii):
                    out_l.append(ids[i0 + ii])
                    out_r.append(ids[j0 + jj])
                    out_c.append(cos[ii, jj])
        if not out_l:
            return None
        return {
            "left_id": np.concatenate(out_l),
            "right_id": np.concatenate(out_r),
            "cos": np.concatenate(out_c),
        }

    return kernel


def semdedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = None,
    dropped_sink: Callable[[DataFrame], None] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + within-cluster cosine.

    The paper's observation: semantic duplicates land in the same k-means
    cluster, so the O(N²) all-pairs cosine collapses to Σ|cell|² — with a
    balanced codebook (train via :func:`kmeans_fit` on a sample) that is
    N²/k, i.e. choose k ∝ N for linear total work.  Within each cell,
    pairs at cosine ≥ ``threshold`` are semantic duplicates; transitive
    closure then yields "keep one representative per group" exactly like
    the repo's other dedup families.

    Returns the scale-shaped per-document mapping
    ``(doc_id, canonical_id, cluster_size)`` (members of groups ≥ 2 only;
    ``filter(doc_id != canonical_id)`` is the drop list).

    Scale shape: pair generation + cosine verify run as ONE per-cell
    numpy kernel (:func:`_cell_pair_kernel`) — only vectors shuffle (one
    row per doc, keyed by cell) and only near-threshold pairs leave
    Python, where the former shape materialised every within-cell pair
    row through an interpreted ``zip_with`` dot (r06 A/B: 4.00 s →
    1.88 s at sf0.1, outputs identical at thresholds 0.4 and 0.95).
    The exact ``round(cos, 6) >= threshold`` decision stays JVM-side; the
    kernel only pre-filters with a superset margin, so every surviving
    pair is byte-identical to the join shape's.  A degenerate cell — one
    giant boilerplate cluster — is bounded by ``max_cell`` with the
    dropped cells surfaced through ``dropped_sink``, never silently.  An
    uncapped cell stays whole in ONE Python worker: its vectors are
    resident at O(n·dim) (the Arrow batch plus a float64 matrix) and only
    the O(n²) pair matrix is tiled, so a giant cell can exhaust a worker
    where the former self-join merely ran long — set ``max_cell`` at
    scale.  Each vector lives in exactly one cell, so candidate pairs are
    unique by construction (no dedup shuffle needed, unlike multi-table
    LSH).  ``id_col`` must hold unique ids: a duplicate id raises (in the
    kernel, naming the id) rather than silently losing its pairs.
    """
    from .dedup import cap_buckets

    cells = (
        ivf_assign(vectors, centroids, id_col, vec_col)
        # null cell = null/dim-mismatched vector: no semantic identity,
        # must not cluster with other malformed rows
        .filter(F.col("cell").isNotNull())
        .select(F.col(id_col).alias("doc"), F.col(vec_col).alias("_v"), "cell")
    )
    # _v rides through cap_buckets untouched: the size aggregate reads
    # only (cell), and the keep join is by cell (AQE-broadcast side)
    kept, dropped = cap_buckets(cells, ["cell"], max_cell)
    if dropped_sink is not None:
        dropped_sink(dropped)
    id_type = cells.schema["doc"].dataType.simpleString()
    raw = apply_groups(
        kept,
        ["cell"],
        _cell_pair_kernel(threshold),
        f"left_id {id_type}, right_id {id_type}, cos double",
    )
    pairs = raw.select(
        "left_id", "right_id", F.round("cos", 6).alias("cos")
    ).filter(F.col("cos") >= threshold)
    from .dedup import near_dup_clusters

    return near_dup_clusters(pairs)
