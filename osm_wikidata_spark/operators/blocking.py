"""Blocking + salted candidate-pair generation (SURVEY.md §2.5 J1/J2).

The reference generates candidates with a per-item spatial SQL query
(`/root/reference/matcher/matcher.py:281-308`, LIMIT 50, gist index).  At
10^12-turn scale that becomes: explode normalised name tokens into an
inverted ``blocks`` index on each side, then equi-join on ``block_key``.

Token frequencies are Zipfian, so the join is skew-prone.  Defences,
in order:

1. **block-size cap** — blocks larger than ``max_block_size`` on either side
   are dropped (with audit counts); a token shared by 10^6 records carries no
   discriminative signal, exactly like the reference's skip_tags
   (place.py:70-85).  The anti-joined side is the *hot* key list — small by
   construction (``Σ block_n > cap·|hot|`` bounds it at corpus/cap keys) —
   never the keep set, which at 10^12 turns is nearly every distinct token.
   The one aggregate that finds the hot keys also summarises the kept
   block sizes, so the skew audit and the salted join read that summary
   instead of re-aggregating; with no hot key the cap joins nothing.
   The cap (:func:`capped_blocks`) takes an index whose ``(block_id,
   block_key)`` rows are already distinct: :func:`build_blocks`
   deduplicates for callers that cannot prove it, while
   ``plans.pipeline.run_pipeline`` explodes token arrays that are
   distinct per entity (``array_union``) over entity ids that are unique
   (one ``groupBy`` row each), so a dedup shuffle there would remove
   nothing.
2. **salted join** — two-path: only keys whose pair product exceeds
   ``hot_threshold`` are salted (probe side split into ``salt`` sub-keys,
   build side exploded ``salt``-fold); the cold 99% of keys join unsalted,
   paying no explode/shuffle amplification (north_rule requirement).  A
   caller that knows the largest block (``max_block``) and so knows no key
   can be hot gets the plain join, with no size aggregate or hot list.
3. **AQE skew-join** stays on as the runtime backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

BLOCK_SUMMARY = ("n_blocks", "max_block", "avg_block", "p50_block", "p99_block")


def _block_index(df: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("block_id"),
        F.explode(F.col(tokens_col)).alias("block_key"),
    ).dropDuplicates(["block_id", "block_key"])


def build_blocks(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    max_block_size: int | None = None,
) -> DataFrame:
    """Explode a token-array column into an inverted (block_key, id) index.

    Rows are deduplicated on ``(block_id, block_key)``, so an id that
    appears twice or a token array that repeats a token gives one row.
    With ``max_block_size``, hot keys are removed *before* the join via an
    **anti**-join against the (small) hot-key list; see
    :func:`capped_blocks`.  Without it the index is returned lazily.
    """
    blocks = _block_index(df, id_col, tokens_col)
    if max_block_size is None:
        return blocks
    return capped_blocks(blocks, max_block_size)[0]


def capped_blocks(
    blocks: DataFrame, max_block_size: int | None
) -> tuple[DataFrame, dict]:
    """Cap a ``(block_id, block_key)`` index whose rows are distinct, and
    return it with the size summary of the keys it keeps.

    The caller owns distinctness: the per-key sizes are row counts, so a
    repeated row would inflate its key's size.  :func:`build_blocks`
    deduplicates before calling this; a caller whose ids are unique and
    whose token arrays hold no repeats (``run_pipeline``'s entities)
    passes a plain ``explode`` and spends no shuffle on a dedup that
    would remove nothing.

    One driver-side aggregate over the per-key sizes returns both the hot
    keys (``block_n > max_block_size``) and the ``BLOCK_SUMMARY`` of the
    kept ones: ``n_blocks``, ``max_block``, ``avg_block``, ``p50_block``
    and ``p99_block``, the values ``plans.audit.block_skew_metrics``
    computes over the capped index.  Only a non-empty hot list is
    anti-joined, as a broadcast local relation: the driver collects
    exactly the keys a broadcast of the hot list would, and never the
    keep set, which at 10^12 turns is nearly every distinct token.
    """
    n = F.col("block_n")
    if max_block_size is None:
        kept, hot = n, F.lit(None)
    else:
        kept = F.when(n <= max_block_size, n)
        hot = F.when(n > max_block_size, F.col("block_key"))
    row = (
        block_size_stats(blocks)
        .agg(
            F.collect_list(hot).alias("hot"),
            F.count(kept).alias("n_blocks"),
            F.max(kept).alias("max_block"),
            F.avg(kept).alias("avg_block"),
            F.percentile_approx(kept, 0.5).alias("p50_block"),
            F.percentile_approx(kept, 0.99).alias("p99_block"),
        )
        .first()
    )
    if row["hot"]:
        hot_keys = blocks.sparkSession.createDataFrame(
            [(k,) for k in row["hot"]], StructType([blocks.schema["block_key"]])
        )
        blocks = blocks.join(F.broadcast(hot_keys), "block_key", "left_anti")
    elif max_block_size is not None:
        # the column order the anti-join gives, so a stored index has one
        # schema whether or not a key was hot
        blocks = blocks.select("block_key", "block_id")
    return blocks, {k: row[k] for k in BLOCK_SUMMARY}


def block_size_stats(blocks: DataFrame) -> DataFrame:
    """Per-key block cardinality — the skew telemetry for the audit table."""
    return blocks.groupBy("block_key").agg(F.count("*").alias("block_n"))


def _candidate_pairs_raw(
    left_blocks: DataFrame,
    right_blocks: DataFrame,
    salt: int,
    hot_threshold: int,
) -> DataFrame:
    """The two-path join of :func:`salted_pair_join` WITHOUT the final
    pair dedup — one (left_id, right_id, block_key) row per co-occurrence.
    Split out so scripts/skew_bench.py can measure the join stage's
    per-task balance directly (the dedup re-shuffles evenly by pair and
    would hide it)."""
    left = left_blocks.select(F.col("block_id").alias("left_id"), "block_key")
    right = right_blocks.select(F.col("block_id").alias("right_id"), "block_key")
    if salt <= 1:
        pairs = left.join(right, "block_key")
    else:
        left_n = left.groupBy("block_key").agg(F.count("*").alias("left_n"))
        right_n = right.groupBy("block_key").agg(F.count("*").alias("right_n"))
        hot = (
            left_n.join(right_n, "block_key")
            # product compared in DOUBLE: a BIGINT left_n·right_n overflows
            # once both sides of one key exceed ~3e9 rows (uncapped feeds
            # at 10^12 records) — under ANSI a job failure, without it a
            # negative wrap that silently DROPS the hottest key from the
            # salt list, the exact key the defence exists for.  The
            # threshold comparison needs no exactness beyond 2^53.
            .filter(
                F.col("left_n").cast("double") * F.col("right_n")
                > F.lit(float(hot_threshold))
            )
            .select("block_key")
        )
        hot_b = F.broadcast(hot)
        cold_pairs = left.join(hot_b, "block_key", "left_anti").join(
            right.join(hot_b, "block_key", "left_anti"), "block_key"
        )
        salted_left = left.join(hot_b, "block_key").withColumn(
            "salt", F.pmod(F.xxhash64("left_id"), F.lit(salt))
        )
        salted_right = right.join(hot_b, "block_key").withColumn(
            "salt", F.explode(F.array([F.lit(i) for i in range(salt)]))
        )
        # PIN the hot join's parallelism with an explicit repartition-by-
        # count on the join key (satisfies the join's distribution, so no
        # second exchange).  Without it, AQE's partition coalescing UNDOES
        # the salting: coalescing decisions read map-output BYTES, which
        # never see join fan-out — and the hot path's input bytes are
        # small at ANY corpus scale (hot keys are few and their members
        # capped) while its output is the hot².  Measured in
        # scripts/skew_bench.py: unpinned, AQE merged the 8 salt cells
        # into one 64M-row task (max_task_share 0.996 — the exact
        # straggler the salt exists to break); pinned, the cells stay
        # separate.  AQE does not coalesce user-specified partition
        # counts (REPARTITION_BY_NUM shuffle origin).
        try:
            n_shuffle = int(
                left_blocks.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):  # e.g. "auto" under some vendors
            n_shuffle = 200
        salted_left = salted_left.repartition(n_shuffle, "block_key", "salt")
        hot_pairs = salted_left.join(salted_right, ["block_key", "salt"]).drop("salt")
        pairs = cold_pairs.unionByName(hot_pairs)
    return pairs


def salted_pair_join(
    left_blocks: DataFrame,
    right_blocks: DataFrame,
    salt: int = 8,
    hot_threshold: int = 65536,
    max_block: int | None = None,
) -> DataFrame:
    """Join two (block_key, block_id) indexes into candidate pairs.

    Two-path skew defence: keys whose pair product ``left_n × right_n``
    exceeds ``hot_threshold`` are joined salted — the left side gets a
    deterministic per-row salt (hash of its id), the right side is exploded
    across all ``salt`` values, so each hot key splits across ``salt``
    reducers.  Every other key joins unsalted: a blanket ``salt``-fold
    explode would multiply shuffle volume for the cold 99% of keys that
    never needed it.  The hot list is tiny by construction (product > 65536
    means ≥256 rows on a side) and is broadcast for the path split.
    Measured balance evidence: scripts/skew_bench.py + BENCH.md (largest
    join-stage task's share of the pair volume, salted vs not).

    ``max_block``, when given, bounds every key's row count on both sides
    (``capped_blocks`` records it).  With ``max_block² ≤ hot_threshold`` no
    key can be hot, so the join takes the unsalted ``salt ≤ 1`` shape and
    spends no job proving it.

    Dedups (left_id, right_id) pairs that co-occur in several blocks,
    keeping the lexicographically-smallest key for lineage.
    """
    if max_block is not None and float(max_block) ** 2 <= hot_threshold:
        salt = 1
    return (
        _candidate_pairs_raw(left_blocks, right_blocks, salt, hot_threshold)
        .groupBy("left_id", "right_id")
        .agg(F.min("block_key").alias("block_key"))
    )


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-group top-k (K1; the reference's ORDER BY dist LIMIT 50,
    matcher.py:306) as a rank window.  ``tiebreak`` columns make the cut
    deterministic when ``order_col`` has duplicates."""
    from pyspark.sql.window import Window

    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    order += [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .drop("__rank")
    )


def soundex_block_keys(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "name",
    sep: str = " ",
) -> DataFrame:
    """Phonetic blocking memberships: one (id, code) row per distinct
    American-Soundex code of the record's name words.

    The classic spelling-robust blocking channel (Newcombe 1959 onward):
    "Smith"/"Smyth" → S530, so typo variants land in the same block
    without any pairwise work.  Uses Spark's built-in ``soundex`` — pure
    JVM, whole-stage codegen, h/w-merge variant with non-letter resets
    (semantics pinned by a differential fuzz against an independent
    DuckDB regexp/translate re-derivation, tests/test_scoring.py).

    Empty/blank words produce empty codes and are dropped; compose with
    :func:`build_blocks`-style caps downstream (common codes are the
    phonetic analog of stopword mega-blocks).  ``sep`` is a LITERAL
    separator (regex-quoted internally).
    """
    from .scoring import quote_sep

    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), quote_sep(sep))).alias("word"),
        )
        .filter(F.col("word") != "")
        .select("id", F.soundex("word").alias("code"))
        .filter(F.col("code") != "")
        .dropDuplicates(["id", "code"])
    )
