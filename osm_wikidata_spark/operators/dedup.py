"""Deduplication operators for large-scale document pipelines.

Graft-new (driver mandate): exact, MinHash+LSH, SimHash, and n-gram Jaccard
near-dup detection over a document table.  All deterministic.  Exact dedup
and n-gram Jaccard key on md5 hex strings / true shingles (identical in
Spark and DuckDB → direct SQL oracles); MinHash and SimHash key on Spark's
xxhash64 (an order of magnitude cheaper per shingle than seeded md5) and
are pinned by precomputed VALUES oracles — an independent pure-Python
replica of the candidate semantics (scripts/gen_scale_oracles.py, xxHash64
from the public spec in tests/xxh64_ref.py) computes the expected pairs
over the sf0.01 snapshot — plus planted-duplicate/recall tests.

Scale notes:
* exact dedup is one hash-shuffle on a 32-char key — the canonical pattern.
* MinHash/LSH: the shingle explosion is the expensive part; band buckets
  bound the pair candidate count, and buckets above ``max_bucket`` are
  dropped (boilerplate-cluster defence) exactly like blocking hot-key caps.
* joins key on 8-byte longs (LSH buckets) or short hex strings → compact
  shuffles.
"""

from __future__ import annotations

from itertools import combinations
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..functions.arrow import map_batches


def cap_buckets(
    band_keys: DataFrame, key_cols: list[str], max_bucket: int | None
) -> tuple[DataFrame, DataFrame]:
    """Hot-bucket defence shared by every LSH family here.

    Returns ``(kept, dropped)``: rows of ``band_keys`` whose bucket holds
    2..max_bucket members, and an audit frame (key_cols..., n) of the
    oversized buckets that were dropped.  With ``max_bucket=None`` nothing
    is capped: ``kept`` is ``band_keys`` itself, singleton buckets
    included (every caller drops them anyway: a ``left < right``
    self-join emits no pair for one, nor does semdedup's cell kernel),
    and ``dropped`` is a lazy empty frame — no size aggregate and no keep
    join run.  With the cap, a band self-join
    emits at most ``n_buckets_kept * max_bucket^2 / 2`` candidate rows —
    linear in corpus size — instead of the quadratic blow-up a degenerate
    corpus (billions of boilerplate near-identical docs) would cause.
    Recall loss is confined to members of those degenerate clusters, which
    exact dedup already collapses; the LSH entry points expose ``dropped``
    via their ``dropped_sink`` callback so the loss is observable, never
    silent.

    Join strategy: the keep join is deliberately UNHINTED.  ``keep`` holds
    every bucket with 2..max_bucket members — for MinHash the bucket key is
    a raw xxhash64, so keep's cardinality grows LINEARLY with corpus size
    and a forced ``F.broadcast(keep)`` would ship a multi-GB list to every
    executor at 10^9 docs (the inverse of the hot-list pattern in
    blocking.py, which broadcasts the provably-small oversized set).
    Leaving it unhinted lets AQE broadcast when keep is actually small and
    fall back to a shuffled join when it is not.
    """
    sizes = band_keys.groupBy(*key_cols).agg(F.count("*").alias("n"))
    if max_bucket is None:
        return band_keys, sizes.filter(F.lit(False))
    keep = sizes.filter(
        (F.col("n") > 1) & (F.col("n") <= max_bucket)
    ).select(*key_cols)
    dropped = sizes.filter(F.col("n") > max_bucket)
    return band_keys.join(keep, key_cols), dropped


def normalize_text(col: str = "text") -> F.Column:
    """Lowercase, collapse whitespace — the canonical dedup key input."""
    return F.regexp_replace(F.lower(F.col(col)), r"\s+", " ")


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalised) documents.

    Returns (fingerprint, n_docs, doc_ids) for groups with n_docs > 1 —
    the audit/report shape.  The per-group id array is a deliberate
    small-output choice; for the policy path over degenerate corpora
    (where one group can hold 10^8 members) use :func:`duplicate_mapping`,
    which stays columnar.
    """
    return (
        docs.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("fingerprint"))
        # null-text docs are not duplicates of each other (same convention
        # as duplicate_mapping; groupBy would otherwise cluster them all
        # under the null fingerprint)
        .filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def duplicate_mapping(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-dedup output in its scale shape: one row PER DOCUMENT of a
    duplicate group — (doc_id, fingerprint, canonical_id, group_size).

    :func:`exact_duplicates` collects each group's ids into one array row,
    which is the right shape for small audit outputs but a scale hazard on
    a degenerate corpus: 10^8 boilerplate copies of one page would
    materialise as a single multi-GB array in one task.  This variant keeps
    everything columnar — two window aggregates over the fingerprint
    shuffle, no arrays — and directly drives the standard training-data
    policy "keep one representative, drop the rest":
    ``filter(doc_id != canonical_id)`` is the drop list.
    ``canonical_id`` = min doc_id per fingerprint (deterministic).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("fingerprint")
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.md5(normalize_text(text_col)).alias("fingerprint"),
        )
        # null-text docs have no fingerprint; they are not duplicates of
        # each other (a null group would otherwise cluster them all)
        .filter(F.col("fingerprint").isNotNull())
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .filter(F.col("group_size") > 1)
    )


def near_dup_clusters(
    pairs: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Transitive near-duplicate clusters over a candidate-pair edge set —
    the fuzzy analogue of :func:`duplicate_mapping`.

    Composes any pair generator in this family (:func:`ngram_jaccard_pairs`,
    :func:`minhash_lsh_pairs`, :func:`simhash_near_dups`,
    ``similarity.cosine_near_dup_pairs``) with large-star/small-star
    connected components (operators/components.py) and returns the
    scale-shaped per-document mapping ``(doc_id, canonical_id,
    cluster_size)``: ``canonical_id`` is the minimum doc id of the
    component (deterministic), and ``filter(doc_id != canonical_id)`` is
    the standard "keep one representative, drop the rest" list.  Every
    returned row belongs to a cluster of >= 2 because nodes enter only via
    an edge.

    Scale shape: the edge set is already bounded by the pair generator's
    bucket caps; CC labels up to ``components.LOCAL_EDGES`` edges in one
    union-find task, and above that takes O(log^2 n) shuffle rounds on
    (u, v) longs; the cluster_size window is one extra shuffle on the
    component key and stays columnar (no per-cluster arrays), so a
    degenerate 10^8-member boilerplate cluster costs one
    skewed-but-scalar partition, not a multi-GB array row.
    """
    from pyspark.sql.window import Window

    from .components import connected_components

    cc = connected_components(pairs, src=left_col, dst=right_col)
    w = Window.partitionBy("component")
    return cc.withColumn("cluster_size", F.count("*").over(w)).select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        "cluster_size",
    )


def split_words(text_col: str = "text") -> F.Column:
    """Words of the normalised text — the shared shingle substrate.

    MATERIALISE THIS (a ``select``/``withColumn`` of its own) before
    feeding it to :func:`word_shingles_from` / :func:`word_shingle_hashes_from`:
    an inline ``slice(split(...), i, n)`` inside a per-element lambda
    re-evaluates the whole split for EVERY shingle — O(W²) per document
    (measured 3.42 s vs 0.25 s for the sf0.1 shingle scan, 13.7×).  A
    staged projection is evaluated once per row and, verified in the
    optimized plan, is NOT re-inlined by CollapseProject (the reference
    sits under a lambda), so the split shows up exactly once.
    """
    return F.split(normalize_text(text_col), " ")


def word_hashes(text_col: str = "text") -> F.Column:
    """Per-word xxhash64 array of the normalised text (materialise —
    see :func:`split_words`)."""
    return F.transform(split_words(text_col), lambda x: F.xxhash64(x))


def word_shingles_from(words: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingle STRINGS from a MATERIALISED words
    array column (O(n) per shingle; see :func:`split_words`)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        )
    )


def word_shingle_hashes_from(wh: F.Column, n: int = 3) -> F.Column:
    """Distinct shingle-hash identities from a MATERIALISED per-word-hash
    array column (O(n) per shingle; see :func:`split_words`)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(wh) - (n - 1), F.lit(1))),
            lambda i: F.xxhash64(F.slice(wh, i, n)),
        )
    )


def word_shingles(text_col: str = "text", n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of the normalised text.

    PERF: inline form — the per-shingle lambda re-evaluates the split
    (O(W²) per doc).  Operators on a document corpus should stage
    :func:`split_words` in a projection and use
    :func:`word_shingles_from`; this form is fine for short strings
    (names) and kept for compatibility.
    """
    return word_shingles_from(F.split(normalize_text(text_col), " "), n)


def word_shingle_hashes(text_col: str = "text", n: int = 3) -> F.Column:
    """Distinct xxhash64 identities of the word n-gram shingles —
    :func:`word_shingles` without ever building the shingle strings.

    Each word is hashed once; a shingle is the xxhash64 of the slice of
    per-word hashes, so generation costs n long-hashes instead of an
    n-word string concatenation, and downstream keys are 8-byte longs
    instead of 50+-byte strings.  Identity is exact up to xxhash64
    collisions (~W^2/2^65 per document); use where the consumer needs
    shingle IDENTITY (joins, distincts, counts), not shingle text.

    PERF: inline form — see :func:`word_shingles`; corpus-scale callers
    stage :func:`word_hashes` and use :func:`word_shingle_hashes_from`.
    """
    return word_shingle_hashes_from(
        F.transform(F.split(normalize_text(text_col), " "), lambda x: F.xxhash64(x)),
        n,
    )


def minhash_band_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc, band, bucket) banded-MinHash LSH keys — the shared kernel of
    :func:`minhash_lsh_pairs` (batch self-join) and the incremental state
    in ``streaming/neardup.py`` (new-batch keys probed against the
    accumulated key table).  Keys are a pure per-document function, so the
    two paths are candidate-equivalent by construction.
    """
    rows_per_band = n_hashes // bands
    # null-text docs carry no shingles and must generate no keys (the
    # duplicate_mapping convention): without this gate the shingle
    # expression degenerates to a CONSTANT one-element hash array for
    # every null doc (split(null)→null rides the greatest(…,1) guard into
    # xxhash64(null) = the seed hash), silently bucketing all null docs
    # together — and an identical-set group is exactly the shape no
    # downstream filter can prune (k docs → k² candidate pairs at scale)
    # A null id is no document either: it can never pair (the self-join's
    # ``left_id < right_id`` drops it), so it must not count toward a
    # bucket's size.  Filtering it HERE also keeps the two band-key
    # subtrees of minhash_lsh_pairs identical (the self-join infers
    # ``isnotnull(doc)`` for its own side only), so their doc shuffle runs
    # once, as a reused exchange: two copies running side by side let
    # whichever finished first pick AQE's broadcast side, and with it the
    # job count.
    docs = docs.filter(F.col(text_col).isNotNull() & F.col(id_col).isNotNull())
    # flat explode + groupBy(min×n) instead of nested array expressions:
    # keeps the per-row expression tree small so whole-stage codegen holds,
    # and the mins combine map-side (the shape simhash_table used before
    # its r06 numpy-vote kernel; 16 codegen'd min columns stay cheap).
    # xxhash64 (seeded per hash function) instead of seeded md5: ~an order
    # of magnitude cheaper per shingle and the min-wise property only needs
    # a uniform hash family, not a cryptographic one.
    # words are STAGED in their own projection (split_words contract):
    # the inline shingle expression re-evaluated the split per shingle —
    # O(W²) per document.
    shingled = docs.select(
        F.col(id_col).alias("doc"), split_words(text_col).alias("_w")
    ).select(
        "doc", F.explode(word_shingles_from(F.col("_w"), shingle_n)).alias("shingle")
    )
    mins = shingled.groupBy("doc").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"m{i}")
            for i in range(n_hashes)
        ]
    )
    # band bucket = one xxhash64 over the band's min columns — no signature
    # array materialisation, no string hashing
    return mins.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"m{i}")
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 50,
    persist: bool = False,
    dropped_sink: Callable[[DataFrame], None] | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows = n_hashes / bands per band; a pair lands in a bucket when one whole
    band of its signatures agrees.  Returns (left_id, right_id, band) pairs
    with left < right; ``band`` is the LOWEST band index that bucketed the
    pair (deterministic, so value oracles can pin the candidate semantics).

    ``dropped_sink`` receives the (band, bucket, n) frame of buckets dropped
    by the ``max_bucket`` cap, so recall loss is observable (pass e.g. an
    audit-table append); ``persist`` is opt-in — the cache entry outlives
    this call (cache-lifetime contract of :func:`ngram_jaccard_pairs`), so
    the OWNING plan layer enables it, not the library default.
    """
    band_keys = minhash_band_keys(docs, id_col, text_col, n_hashes, bands, shingle_n)

    # band_keys feeds the bucket-size count and both self-join sides (no
    # ReusedExchange across them — verified in the formatted plan), so the
    # shingle explode + min aggregation would otherwise run per consumer.
    # Locally the effect is within VM noise (bandwidth-bound); at cluster
    # scale 4x recompute of the shingle explode is CPU that persist trades
    # for executor-local storage.  persist=False opts out; the cache-
    # lifetime contract of ngram_jaccard_pairs applies.
    if persist:
        from pyspark import StorageLevel

        band_keys = band_keys.persist(StorageLevel.MEMORY_AND_DISK)
    kept, dropped = cap_buckets(band_keys, ["band", "bucket"], max_bucket)
    if dropped_sink is not None:
        dropped_sink(dropped)

    left = kept.select(F.col("doc").alias("left_id"), "band", "bucket")
    right = kept.select(F.col("doc").alias("right_id"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.min("band").alias("band"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    persist: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ ``threshold`` pairs via prefix filtering.

    A naive inverted-index self-join emits k² rows for a boilerplate shingle
    shared by k documents.  Prefix filtering (Bayardo et al., "Scaling Up
    All Pairs Similarity Search", WWW'07; Chaudhuri et al. SSJoin) removes
    that blow-up *without* approximation: order every document's shingles by
    ascending global document frequency (rarest first, ties on the shingle
    id) and join only each document's **prefix** — its first
    ``|S| − ⌈t·|S|⌉ + 1`` shingles.  Any pair with Jaccard ≥ t must share an
    element of both prefixes (Jaccard ≥ t ⇒ |A∩B| ≥ t·|A|, so the prefix of
    A cannot be disjoint from A∩B; same for B).  A boilerplate shingle,
    having maximal frequency, sorts last and almost never lands in a prefix
    — the self-join's hot keys defuse themselves.

    Candidates are then verified exactly with ``array_intersect`` on the
    full shingle arrays, so the result is identical to the all-pairs join at
    every scale (the oracle stays exact).

    Shingles ride as :func:`word_shingle_hashes` longs end to end — the
    inverted index, the frequency window, the prefix self-join and the
    verification intersect all need shingle IDENTITY only, and the prefix
    filter is sound under ANY consistent global order, so (df, hash) works
    as well as (df, string) while every shuffle key and array element
    shrinks to 8 bytes.  The Jaccard values are identical to the string
    computation up to xxhash64 collisions (~2^-64 per in-document pair);
    the SQL oracle intersects true shingle strings and stays
    hash-identical at any collision-free scale.
    """
    # null-text gate: see minhash_band_keys — null docs would otherwise
    # share a constant one-element shingle set (J=1.0 with every other
    # null doc), an unprunable identical-set k² group
    # per-word hashes STAGED in their own projection (split_words
    # contract: the inline form re-ran split+hash per shingle, O(W²)/doc)
    with_sets = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        word_hashes(text_col).alias("_wh"),
    ).select(
        "doc", word_shingle_hashes_from(F.col("_wh"), shingle_n).alias("sh")
    ).withColumn("set_size", F.size("sh"))
    # the shingle-set subtree feeds THREE consumers (inverted index + both
    # sides of the verification join); without a persist each one re-runs
    # the normalize/split/shingle pipeline over the full corpus (measured
    # ~2x query wall time at sf0.1).  CACHE-LIFETIME CONTRACT: the entry
    # lives in the session's CacheManager until the caller unpersists or
    # clears the cache (e.g. spark.catalog.clearCache()).  persist is
    # OPT-IN (default False) precisely because of that leak: a long-lived
    # driver calling the default path repeatedly would accumulate cache
    # entries it never asked for; the OWNING plan layer (bench.py, the
    # queries() registry) passes persist=True and clears between jobs.
    if persist:
        from pyspark import StorageLevel

        with_sets = with_sets.persist(StorageLevel.MEMORY_AND_DISK)
    inverted = with_sets.select("doc", "set_size", F.explode("sh").alias("shingle"))

    from pyspark.sql.window import Window

    w = Window.partitionBy("doc").orderBy("df", "shingle")
    # the 1e-9 guard keeps float noise from overshooting an exactly-integer
    # t·|S| (e.g. 0.55·20 → 11.000000000000002 → ceil 12 would shorten the
    # prefix and silently miss pairs sitting exactly at the threshold)
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(threshold) * F.col("set_size") - F.lit(1e-9)).cast("int")
        + F.lit(1)
    )
    # global shingle document frequency as a COUNT WINDOW over the shingle
    # partitioning instead of a groupBy + join-back (guide §2.4: same
    # co-location, one exchange): the agg+join shape shuffled the
    # corpus-sized inverted index for the aggregate and again to meet the
    # join, plus the join itself; the window needs exactly one exchange.
    # A boilerplate hot shingle lands in one window partition either way —
    # the same task that would have held the join's probe rows.  Measured
    # sf0.1 full-query: 2.17 s → 1.77 s, identical output.
    prefix = (
        inverted.withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= prefix_len)
        .select("doc", "set_size", "shingle", "__rank")
    )

    # length filter (also exact): J ≥ t ⇒ |A∩B| ≥ t·|A∪B|, and
    # |A∩B| ≤ min(|A|,|B|), |A∪B| ≥ max(|A|,|B|), so min ≥ t·max.
    # Pruning here — on two int columns already riding the prefix join —
    # keeps mismatched-size pairs out of the verification join, which is
    # the expensive one (it ships full shingle arrays).
    joined = (
        prefix.select(
            F.col("doc").alias("left_id"),
            F.col("set_size").alias("__ln"),
            F.col("__rank").alias("__i"),
            "shingle",
        )
        .join(
            prefix.select(
                F.col("doc").alias("right_id"),
                F.col("set_size").alias("__rn"),
                F.col("__rank").alias("__j"),
                "shingle",
            ),
            "shingle",
        )
        .filter(
            (F.col("left_id") < F.col("right_id"))
            & (
                F.least("__ln", "__rn")
                >= F.lit(threshold) * F.greatest("__ln", "__rn") - F.lit(1e-9)
            )
        )
    )
    # positional filter (also exact; PPJoin-style, Xiao et al. WWW'08 with
    # the conservative prior-overlap term): both docs list shingles in the
    # same global (df, shingle) order, so for a shared shingle at ranks
    # (i, j), overlap before it is ≤ min(i−1, j−1) (earlier shared
    # shingles occupy earlier ranks on BOTH sides) and overlap from it on
    # is ≤ 1 + min(|A|−i, |B|−j).  J ≥ t ⟺ overlap ≥ t/(1+t)·(|A|+|B|);
    # a pair whose best shared-prefix shingle cannot reach that bound is
    # pruned before verification.  Taking min(i)/min(j) separately is
    # sound: rank is monotone in the shared global order, so the
    # globally-least shared prefix shingle attains both minima.
    alpha = (
        F.lit(threshold / (1.0 + threshold)) * (F.col("__ln") + F.col("__rn"))
        - F.lit(1e-9)
    )
    candidates = (
        joined.groupBy("left_id", "right_id")
        .agg(
            F.first("__ln").alias("__ln"),
            F.first("__rn").alias("__rn"),
            F.min("__i").alias("__i"),
            F.min("__j").alias("__j"),
        )
        .filter(
            F.lit(1)
            + F.least(F.col("__i") - 1, F.col("__j") - 1)
            + F.least(F.col("__ln") - F.col("__i"), F.col("__rn") - F.col("__j"))
            >= F.ceil(alpha)
        )
        .select("left_id", "right_id")
    )

    # exact verification on the full shingle sets
    left_sets = with_sets.select(
        F.col("doc").alias("left_id"), F.col("sh").alias("left_sh"),
        F.col("set_size").alias("left_n"),
    )
    right_sets = with_sets.select(
        F.col("doc").alias("right_id"), F.col("sh").alias("right_sh"),
        F.col("set_size").alias("right_n"),
    )
    common = F.size(F.array_intersect("left_sh", "right_sh"))
    return (
        candidates.join(left_sets, "left_id")
        .join(right_sets, "right_id")
        .select(
            "left_id",
            "right_id",
            (common / (F.col("left_n") + F.col("right_n") - common)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _simhash_vote_kernel(bits: int):
    """Batch kernel: fold a document's shingle-hash array into its
    ``bits``-bit SimHash with exact integer bit-count votes.

    Bit b of the output is set iff more than half the shingles have bit b
    set in their xxhash64 (``votes_b = Σ±1 > 0  ⇔  2·ones_b > n``) —
    integer arithmetic only, so the value is identical to the former
    60-column conditional-sum aggregate (A/B: 5000/5000 sims equal).
    Hashes arrive as JVM ``xxhash64`` longs, so the hash identity — which
    determines the output and is pinned by the VALUES oracle — never
    leaves the JVM.  Giant documents are bit-counted in 65,536-shingle
    chunks so the transient (chunk × bits) matrix stays ~30 MB even for
    a degenerate multi-million-shingle doc.
    """

    def kernel(pdf):
        import numpy as np

        shifts = np.arange(bits, dtype=np.uint64)
        sims = np.zeros(len(pdf), dtype=np.int64)
        for i, h in enumerate(pdf["_h"]):
            arr = np.asarray(h, dtype=np.int64).astype(np.uint64)
            n = len(arr)
            ones = np.zeros(bits, dtype=np.int64)
            for lo in range(0, n, 65536):
                chunk = arr[lo: lo + 65536]
                ones += (
                    (chunk[:, None] >> shifts[None, :]) & np.uint64(1)
                ).sum(axis=0).astype(np.int64)
            sims[i] = int(((2 * ones > n).astype(np.uint64) << shifts).sum())
        return {"doc": pdf["doc"], "sim": sims}

    return kernel


def simhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bits: int = 60,
) -> DataFrame:
    """(doc, sim) with a ``bits``-bit SimHash per document.

    Shingle strings and their ``xxhash64`` — the output-determining
    identity, pinned by the VALUES oracle — are built JVM-side; the
    per-document ±1 vote fold runs as one Arrow-batched numpy kernel
    (:func:`_simhash_vote_kernel`).  ZERO SHUFFLE: the former shape
    exploded shingles through a 60-column conditional-sum groupBy (one
    map-side-combined exchange and 60 CASE WHEN evaluations per shingle
    row — measured 1.38 s at sf0.1 vs 0.50 s for the kernel, bit-counts
    being exactly the vectorised-integer workload numpy is built for);
    now the per-doc hash array never leaves its row.  A degenerate giant
    document costs one task's CPU, as before — there are no keys.
    """
    # null-text gate: see minhash_band_keys — a null doc's shingle array
    # degenerates to [null], whose seed-hash vote would give every null
    # doc the SAME sim (Hamming-0 with each other)
    docs = docs.filter(F.col(text_col).isNotNull())
    # xxhash64 over the shingle: the per-bit votes only need a uniform
    # 64-bit hash (bits 0..59 are extracted below); sign extension is
    # irrelevant to single-bit masks
    # words staged in their own projection (split_words contract —
    # inline shingling re-split the text per shingle, O(W²)/doc)
    prepared = docs.select(
        F.col(id_col).alias("doc"), split_words(text_col).alias("_w")
    ).select(
        "doc",
        F.transform(
            word_shingles_from(F.col("_w"), shingle_n), lambda s: F.xxhash64(s)
        ).alias("_h"),
    )
    id_type = prepared.schema["doc"].dataType.simpleString()
    return map_batches(
        prepared, _simhash_vote_kernel(bits), f"doc {id_type}, sim long"
    )


def _band_bounds(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """(offset, width) per band, splitting ``bits`` into ``n_bands``
    near-equal contiguous blocks."""
    base, extra = divmod(bits, n_bands)
    bounds, offset = [], 0
    for b in range(n_bands):
        width = base + (1 if b < extra else 0)
        bounds.append((offset, width))
        offset += width
    return bounds


def _default_n_bands(
    bits: int,
    max_hamming: int,
    corpus_size: int | None = None,
    max_bucket: int | None = None,
) -> int:
    """Pick the banding scheme by key capacity.

    Classic pigeonhole (k+1 bands, 1-block keys) when single-band keys are
    already ≥16 bits, OR when the corpus is small enough that the narrow
    keys cannot flood: with the smallest k+1 block width ``w``, expected
    bucket population is ~``N / 2^w``, so ``N·4 ≤ 2^w · max_bucket`` keeps
    even 4x-skewed buckets under the cap (k+1 runs ~C(m,2)/m times fewer
    table rows — measurably cheaper).  Otherwise Manku-style k+2 bands
    keyed on 2-block combos (Manku WWW'07 §3), which widens keys to
    ``2·bits/(k+2)`` at the cost of C(k+2,2) tables — the linear-in-N
    candidate guarantee at corpus scale.
    """
    k1 = max_hamming + 1
    min_width = bits // k1
    if min_width >= 16:
        return k1
    if (
        corpus_size is not None
        and max_bucket is not None
        and corpus_size * 4 <= (1 << min_width) * max_bucket
    ):
        return k1
    return max_hamming + 2


def simhash_candidate_pairs(
    hashed: DataFrame,
    bits: int,
    max_hamming: int,
    n_bands: int | None = None,
    max_bucket: int | None = 200,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Block-combination candidate pairs over a (doc, sim) table with exact
    Hamming verification.  Returns ``(pairs, dropped_buckets)``.

    Generalized pigeonhole (Manku, Jain & Das Sarma, WWW'07 §3): split the
    ``bits``-bit hash into ``m = n_bands`` near-equal blocks and key each
    doc on every combination of ``t = m − max_hamming`` blocks (C(m, t)
    tables).  ≤ ``max_hamming`` bit errors touch ≤ ``max_hamming`` blocks,
    leaving ≥ t blocks intact, so some all-intact combination key collides
    — full recall for any valid (m, t), and the exact Hamming check below
    makes the *output* identical regardless of banding.  m = k+1 (t = 1) is
    the classic scheme; its weakness at corpus scale is key width: 60 bits
    / 7 bands ≈ 8 bits → ≤512 distinct buckets per band, so bucket
    population grows ~N/512 and candidates ~N²/512.  The default m = k+2
    keys on 2-block combos (e.g. 15-bit keys, 32k buckets, 28 tables for
    bits=60, k=6): ~4× more table rows, ~85× fewer collisions per bucket.

    Capacity with the ``max_bucket`` cap: candidate rows are bounded by
    ``C(m,t) · N · max_bucket / 2`` — linear in N at any corpus size.
    Oversized buckets (degenerate boilerplate clusters, which exact dedup
    already collapses) are dropped and reported in ``dropped_buckets``
    (q, qv, n) for the audit sink.
    """
    if n_bands is None:
        n_bands = _default_n_bands(bits, max_hamming)
    t = n_bands - max_hamming
    if t < 1:
        raise ValueError(f"n_bands={n_bands} must exceed max_hamming={max_hamming}")
    bounds = _band_bounds(bits, n_bands)
    # one long per doc, but the vote aggregation behind it is the dominant
    # cost and feeds the combo-key explode plus both self-join sides with
    # no ReusedExchange (verified in the formatted plan).  persist is
    # OPT-IN here (default False) because ``hashed`` is CALLER-supplied:
    # persisting it registers the caller's plan in the session cache as a
    # side effect they never asked for.  simhash_near_dups, which builds
    # and owns the table, enables it.
    if persist:
        from pyspark import StorageLevel

        hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)

    def _combo_key(combo: tuple[int, ...]) -> F.Column:
        key, shift = F.lit(0).cast("long"), 0
        for b in combo:
            offset, width = bounds[b]
            block = F.shiftright("sim", offset).bitwiseAND(F.lit((1 << width) - 1))
            key = key + F.shiftleft(block, shift)
            shift += width
        return key

    combos = list(combinations(range(n_bands), t))
    bands = hashed.select(
        "doc",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(ci).alias("q"), _combo_key(combo).alias("qv"))
                    for ci, combo in enumerate(combos)
                ]
            )
        ).alias("qs"),
    ).select("doc", "sim", F.col("qs.q").alias("q"), F.col("qs.qv").alias("qv"))

    kept, dropped = cap_buckets(bands, ["q", "qv"], max_bucket)
    left = kept.select(
        F.col("doc").alias("left_id"), F.col("sim").alias("left_sim"), "q", "qv"
    )
    right = kept.select(
        F.col("doc").alias("right_id"), F.col("sim").alias("right_sim"), "q", "qv"
    )
    candidates = (
        left.join(right, ["q", "qv"])
        .filter(F.col("left_id") < F.col("right_id"))
        .dropDuplicates(["left_id", "right_id"])
    )
    hamming = F.bit_count(F.col("left_sim").bitwiseXOR(F.col("right_sim")))
    pairs = candidates.select(
        "left_id", "right_id", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
    return pairs, dropped


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_hamming: int = 6,
    bits: int = 60,
    n_bands: int | None = None,
    max_bucket: int | None = 200,
    persist: bool = False,
    dropped_sink: Callable[[DataFrame], None] | None = None,
    corpus_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs whose SimHashes are within ``max_hamming`` bits.

    Candidate generation keys on block combinations of the ``bits``-bit
    hash (see :func:`simhash_candidate_pairs` for the generalized-pigeonhole
    recall guarantee and the max_bucket linearity bound), then verifies
    exact Hamming distance.  ``persist`` (opt-in) caches the owned
    (doc, sim) table across its multiple consumers (cache-lifetime contract
    of :func:`ngram_jaccard_pairs` applies); ``dropped_sink`` receives the
    (q, qv, n) frame of cap-dropped buckets so recall loss is observable.

    ``corpus_size`` (the caller's known or counted N) lets the default
    banding drop to the cheaper classic k+1 scheme when the corpus cannot
    flood its narrower keys — see :func:`_default_n_bands`; the exact
    Hamming verification makes the OUTPUT banding-invariant whenever the
    ``max_bucket`` cap does not trigger.
    """
    if n_bands is None:
        n_bands = _default_n_bands(bits, max_hamming, corpus_size, max_bucket)
    hashed = simhash_table(docs, id_col, text_col, shingle_n, bits)
    pairs, dropped = simhash_candidate_pairs(
        hashed, bits, max_hamming, n_bands=n_bands, max_bucket=max_bucket,
        persist=persist,
    )
    if dropped_sink is not None:
        dropped_sink(dropped)
    return pairs
