"""End-to-end entity-resolution pipeline over transcripts (SURVEY.md §3.1).

Stages (each checkpointable, each audited):

    transcripts ──extract──► entities (conv_id, names[], tokens[])
        │                        │ explode tokens
        │                        ▼
        │                    blocks (block_key, id)      [hot keys capped]
        │                        │ salted self-join
        │                        ▼
        │                    pairs (left_id, right_id, block_key)
        │                        │ name cross-product → pandas-UDF cascade
        │                        ▼
        │                    edges (matched pairs, kind, rule)
        │                        │ large-star/small-star
        │                        ▼
        └──────────────────► components (conv_id, component)

The reference executes the same semantics as a per-item SQL loop
(`/root/reference/matcher/place.py:1190-1237`); here every stage is one
set-oriented DataFrame op so Catalyst/AQE own the physical plan.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.udfs import block_tokens_udf, pair_decision_udf
from ..operators.blocking import build_blocks, salted_pair_join
from ..operators.components import connected_components
from ..sources.transcripts import ENDING_RULES, GLOBAL_ENDINGS
from .audit import (
    append_audit,
    append_partition_rows,
    append_score_rows,
    block_skew_metrics,
    score_observations,
)
from .checkpoint import stage

_MENTION_PATTERN = r'"([^"]+)"'
_PLACE_PATTERN = "«([^»]+)»"


def _derived_endings(tokens: F.Column) -> F.Column:
    """Per-entity trim endings from the entity's own name words — the graft
    analog of the reference's per-item IsA-derived endings
    (model.py:455-468; mutated per item in matcher.py:641-656).  Fed raw
    name words, NOT blocking tokens: blocking drops stopwords ("house" is
    one), but ending derivation must still see them.  A small literal map
    keeps this JVM-side."""
    if not ENDING_RULES:
        return F.array().cast("array<string>")
    rule_map = F.create_map(
        *[
            lit
            for token, endings in sorted(ENDING_RULES.items())
            for lit in (F.lit(token), F.array(*[F.lit(e) for e in endings]))
        ]
    )
    hits = F.transform(tokens, lambda t: F.element_at(rule_map, t))
    return F.array_distinct(
        F.flatten(F.filter(hits, lambda h: h.isNotNull()))
    )


def _name_words(n: F.Column) -> F.Column:
    """Lowercase words of one name (split on non-alphanumeric, empties
    removed) — the single tokenisation shared by acronym keying and ending
    derivation (tests/test_generator.py mirrors it in Python)."""
    return F.filter(F.split(F.lower(F.trim(n)), r"[^0-9a-z]+"), lambda w: w != "")


def _full_name_keys(names: F.Column) -> F.Column:
    """Secondary blocking channel (J2; the reference's tag-independent
    nearby-nodes scan, matcher.py:240-251): one block key per exact
    whitespace-normalised lowercase name.  Full names are far more
    selective than tokens, so this channel keeps recall for identical-name
    pairs even when every shared *token* block is hot-capped away."""
    return F.transform(
        names,
        lambda n: F.concat(
            F.lit("full:"), F.md5(F.regexp_replace(F.lower(F.trim(n)), r"\s+", " "))
        ),
    )


def _acronym_keys(names: F.Column) -> F.Column:
    """Third blocking channel: acronym keys, closing the initials recall
    gap.  "BAC" and "Baryshnikov Arts Center" share NO token and NO full
    name, yet the cascade matches them (name-containing-initials,
    match.py:346-382) — the reference pairs them *spatially*; the graft
    pairs them by acronym.  A ≥3-word name emits the key of its first
    letters; a single 3-6-letter word emits itself (the acronym side).
    Nulls (names fitting neither shape) are filtered out by the caller's
    array_union/filter."""

    def _key(n):
        words = _name_words(n)
        multi = F.concat(
            F.lit("acro:"),
            F.array_join(F.transform(words, lambda w: F.substring(w, 1, 1)), ""),
        )
        # F.get, not element_at: a punctuation-only name tokenises to an
        # EMPTY words array, and the size()==1 conjunct guards the
        # subscript only under left-to-right And evaluation, which the
        # optimizer doesn't promise — get() nulls out of bounds instead
        # of faulting the job under ANSI (NULL & ... stays falsy here).
        first = F.get(words, 0)
        single = F.concat(F.lit("acro:"), first)
        return (
            F.when(F.size(words) >= 3, multi)
            .when(
                (F.size(words) == 1)
                & F.length(first).between(3, 6)
                & first.rlike("^[a-z]+$"),
                single,
            )
        )

    return F.filter(F.transform(names, _key), lambda k: k.isNotNull())


def extract_entities(transcripts: DataFrame) -> DataFrame:
    """One row per conversation: mention names + blocking tokens (token
    channel ∪ full-name channel ∪ acronym channel) + per-entity trim
    endings + place context + hamlet flag.

    Analog of the reference's ``Item.names()`` assembly
    (model.py:703-753) — names come from quoted mentions in turn text.
    ``place_names`` collects «place» context markers (the within-names
    containment scan analog, matcher.py:582-599); ``is_hamlet`` reads the
    "kind: hamlet" marker (the instanceof-Q5084 analog the reference gates
    the house trim on, matcher.py:1036-1046).
    """
    mentions = transcripts.select(
        F.col("conv_id"),
        F.explode(F.regexp_extract_all("text", F.lit(_MENTION_PATTERN), F.lit(1))).alias(
            "name"
        ),
    )
    per_name = mentions.dropDuplicates(["conv_id", "name"]).withColumn(
        "tokens", block_tokens_udf("name")
    )
    context = transcripts.groupBy("conv_id").agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.regexp_extract_all("text", F.lit(_PLACE_PATTERN), F.lit(1))
                    )
                )
            )
        ).alias("place_names"),
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
            _derived_endings(
                F.array_distinct(F.flatten(F.transform("names", _name_words)))
            ),
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


def score_pairs(
    pairs: DataFrame,
    entities: DataFrame,
    endings: list[str] | None = None,
    dedup_names: bool = True,
) -> DataFrame:
    """Name cross-product scoring of candidate pairs via the kernel UDF.

    With ``dedup_names`` (default), exact-name pairs are deduplicated
    *before* the UDF (the set-level equivalent of the reference's memo
    cache, match.py:1029-1048), scored once, and joined back — the right
    plan for Zipfian name data where a few names dominate.  With
    ``dedup_names=False`` the UDF runs directly on the exploded pairs (one
    less shuffle and no join-back) — the right plan when names are mostly
    unique, where the dedup would be pure overhead; the in-batch memo still
    catches local repeats.

    The trim set per pair = GLOBAL_ENDINGS (or the ``endings`` override)
    ∪ both sides' per-entity ``endings`` — mirroring the reference's
    per-item endings derivation (matcher.py:641-656) while keeping the pair
    decision a pure function of its own row.
    """
    sep = "\x1f"
    global_endings = F.array(*[F.lit(e) for e in (endings or GLOBAL_ENDINGS)])
    empty = F.array().cast("array<string>")
    # null array values coalesce to empty HERE so the fingerprint below
    # cannot alias distinct shapes (concat_ws silently skips nulls:
    # endings=null/places=["x"] and endings=["x"]/places=null would
    # otherwise hash identically and rehydrate the wrong context)
    ent = entities.select(
        "conv_id",
        "names",
        (
            F.coalesce(F.col("endings"), empty)
            if "endings" in entities.columns
            else empty
        ).alias("endings"),
        (
            F.coalesce(F.col("place_names"), empty)
            if "place_names" in entities.columns
            else empty
        ).alias("place_names"),
        (
            F.coalesce("is_hamlet", F.lit(False))
            if "is_hamlet" in entities.columns
            else F.lit(False)
        ).alias("is_hamlet"),
    )
    # Per-ENTITY context fingerprint, computed once per conversation (N
    # rows), not once per exploded candidate-name row: the pair decision is
    # a pure function of (left_name, right_name, endings ∪, places ∪,
    # left/right hamlet flags), so the two entity fingerprints identify the
    # decision inputs and NO array work rides the (much larger) pair
    # explosion — pairs without entity context all share one fingerprint,
    # preserving the Zipfian memo win.
    # element separator (\x1e) differs from the field separator (\x1f) so
    # array contents can never alias a field boundary
    ent = ent.withColumn(
        "ctx_fp",
        F.md5(
            F.concat_ws(
                sep,
                F.array_join(F.array_sort("endings"), "\x1e"),
                F.array_join(F.array_sort("place_names"), "\x1e"),
                F.col("is_hamlet").cast("string"),
            )
        ),
    )
    # tiny dim: one row per DISTINCT context (≈ |ENDING_RULES| × place sets)
    ctx_dim = ent.select(
        "ctx_fp", "endings", "place_names", "is_hamlet"
    ).dropDuplicates(["ctx_fp"])

    exploded = (
        pairs.join(
            ent.select(
                F.col("conv_id").alias("left_id"),
                F.col("names").alias("left_names"),
                F.col("ctx_fp").alias("left_fp"),
            ),
            "left_id",
        )
        .join(
            ent.select(
                F.col("conv_id").alias("right_id"),
                F.col("names").alias("right_names"),
                F.col("ctx_fp").alias("right_fp"),
            ),
            "right_id",
        )
        .select(
            "left_id",
            "right_id",
            "block_key",
            "left_fp",
            "right_fp",
            F.explode("left_names").alias("left_name"),
            F.col("right_names"),
        )
        .select(
            "left_id", "right_id", "block_key", "left_fp", "right_fp",
            "left_name",
            F.explode("right_names").alias("right_name"),
        )
    )

    # fingerprint of the EMPTY context (no endings, no places, not hamlet)
    # — must mirror the ctx_fp expression above byte-for-byte
    empty_fp = hashlib.md5("\x1f".join(["", "", "false"]).encode()).hexdigest()

    def _with_context(df: DataFrame) -> DataFrame:
        """Rehydrate the pair's decision context from the ctx dim and fold
        it to pair level: trim set = GLOBAL ∪ both sides (matcher.py:641-656);
        the hamlet house-trim gate stays PER-SIDE (left_hamlet/right_hamlet
        booleans ride to the UDF, which applies the reference's per-item
        ``trim_house=not item.is_hamlet()`` per direction,
        matcher.py:1036-1046); place context = union of both sides'
        within-context names (matcher.py:714-720's ``place_names | within``),
        null when empty so the UDF skips the place-strip retry
        (match.py:708-719).

        Shape: one LEFT join per side against the dim of NON-EMPTY
        contexts, coalescing misses (the overwhelming majority — the
        empty-context fingerprint) to the global defaults.  Chosen over
        the two rejected alternatives: a forced broadcast is unsafe
        because ctx_dim's cardinality is data-dependent (distinct
        place-name sets), and a filter-split + union consumes the
        (expensive, un-materialised) upstream twice — measured 2.5x on
        the flagship.  The empty fingerprint never matches the dim, and
        its hot probe partitions are handled by AQE skew-join splitting
        (the dim side replicates under a left join); when the dim is
        genuinely small AQE broadcasts it and the shuffle disappears.
        """
        ctx_nonempty = ctx_dim.filter(F.col("ctx_fp") != empty_fp)
        out = df.join(
            ctx_nonempty.select(
                F.col("ctx_fp").alias("left_fp"),
                F.col("endings").alias("le"),
                F.col("place_names").alias("lp"),
                F.col("is_hamlet").alias("lh"),
            ),
            "left_fp",
            "left",
        ).join(
            ctx_nonempty.select(
                F.col("ctx_fp").alias("right_fp"),
                F.col("endings").alias("re"),
                F.col("place_names").alias("rp"),
                F.col("is_hamlet").alias("rh"),
            ),
            "right_fp",
            "left",
        )
        empty_arr = F.array().cast("array<string>")
        le, re_ = F.coalesce("le", empty_arr), F.coalesce("re", empty_arr)
        lp, rp = F.coalesce("lp", empty_arr), F.coalesce("rp", empty_arr)
        pair_endings = F.array_sort(
            F.array_union(global_endings, F.array_union(le, re_))
        )
        pair_places = F.when(
            F.size(F.array_union(lp, rp)) > 0, F.array_sort(F.array_union(lp, rp))
        )
        return (
            out.withColumn("pair_endings", pair_endings)
            .withColumn("pair_places", pair_places)
            .withColumn("left_hamlet", F.coalesce("lh", F.lit(False)))
            .withColumn("right_hamlet", F.coalesce("rh", F.lit(False)))
            .drop("le", "lp", "lh", "re", "rp", "rh")
        )

    # the cascade is asymmetric (record-side-only retries like drop_initials,
    # match.py:688-693) and transcripts have no record/entity sides, so the
    # UDF scores both directions INSIDE one call (pair_decision_udf): one
    # Arrow round-trip per row, reverse direction short-circuited on match
    decision = pair_decision_udf(
        "left_name",
        "right_name",
        F.col("pair_endings"),
        F.col("pair_places"),
        F.col("left_hamlet"),
        F.col("right_hamlet"),
    )

    if dedup_names:
        # exact-(name pair, context) dedup before the UDF: the distinct set
        # is shuffled/joined on four short string columns, and the context
        # arrays are only materialised on the distinct side
        key = ["left_name", "right_name", "left_fp", "right_fp"]
        scored_names = (
            _with_context(exploded.select(*key).dropDuplicates(key))
            .select(*key, decision.alias("decision"))
        )
        scored = exploded.join(scored_names, key)
    else:
        scored = _with_context(exploded).withColumn("decision", decision)
    return (
        scored.groupBy("left_id", "right_id")
        .agg(
            F.min("block_key").alias("block_key"),
            F.max(F.col("decision.matched")).alias("matched"),
            F.min(F.when(F.col("decision.matched"), F.col("decision.kind"))).alias("kind"),
            F.min(F.when(F.col("decision.matched"), F.col("decision.rule"))).alias("rule"),
        )
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    run_dir: str | None = None,
    run_id: str | None = None,
    endings: list[str] | None = None,
    max_block_size: int | None = 1000,
    salt: int = 8,
    snm_window: int | None = None,
    cnp_k: int | None = None,
    fs_bands: dict[str, list[float]] | None = None,
    fs_thresholds: tuple[float, float] = (0.0, 0.0),
) -> dict[str, DataFrame]:
    """Full blocking → scoring → clustering run.

    Returns the named stage outputs; with ``run_dir`` each stage is
    checkpointed (resumable) and audited under ``run_dir/audit``.  The
    audit launches no job of its own except the block-skew aggregate:
    ``partitions`` rows come from each stored stage's parquet footers and
    ``scores`` rows from the kind counts observed on the edges write
    (``plans.audit``); a reused stage is audited from the same files, so
    a resume over finished stages launches only that aggregate.

    ``snm_window`` (opt-in, default off so existing runs are byte-stable)
    unions a sorted-neighborhood channel over each entity's primary name
    into the candidate set: the token/full-name/acronym channels miss
    pairs sharing no whole token ("Smithfield"/"Smithfeld"), which a sort
    neighborhood catches at a guaranteed N·(w−1) extra budget.  Extra
    candidates only ADD recall — precision stays with the scoring cascade,
    which rejects non-matches regardless of which channel proposed them.
    Cross-channel duplicate pairs collapse via the same min-block_key
    lineage rule salted_pair_join uses ("«snm»" sorts after real tokens,
    so token lineage wins when both channels propose a pair).

    ``cnp_k`` (opt-in) applies meta-blocking Cardinality Node Pruning
    (Papadakis TKDE'13 §5.3, union variant) between pair generation and
    scoring: pairs are weighted by block-set overlap (CBS/Jaccard,
    ``metablocking.block_edge_weights``) and only pairs ranking in either
    endpoint's top-``cnp_k`` survive to the pandas-UDF cascade — the
    candidate-BUDGET knob for corpora where the block graph is far denser
    than the match graph.  Pruning is recall-bounded by k: true matches
    share the most blocks by construction of the channels, so they rank
    first; the pipeline test pins unchanged F1 at a strictly smaller
    scored-pair budget.

    ``fs_bands`` (opt-in) adds a probabilistic scoring stage alongside the
    deterministic cascade (the north-star FS linkage shape): candidate
    pairs' primary names are scored (Jaro-Winkler / Levenshtein-ratio /
    token overlap), banded into comparison vectors per ``fs_bands``
    (column → ascending thresholds), a Fellegi-Sunter model is EM-fitted
    on the pattern sufficient statistics, and every pair gets
    ``match_weight``/``posterior`` plus the three-way ``decision`` at
    ``fs_thresholds=(lower, upper)`` — returned as the ``fs_pairs``
    output.  The cascade stays the acceptance authority (components are
    unchanged); FS posteriors are the triage/review signal
    (``select_review_pairs`` consumes them).
    """
    run_id = run_id or uuid.uuid4().hex[:12]

    entities = stage(spark, run_dir, "entities", lambda: extract_entities(transcripts))
    append_partition_rows(run_dir, run_id, "entities")

    blocks = stage(
        spark,
        run_dir,
        "blocks",
        lambda: build_blocks(entities, "conv_id", "tokens", max_block_size),
        params={"max_block_size": max_block_size},
    )
    append_audit(block_skew_metrics(blocks, run_id), run_dir, "blocks")

    def _pairs() -> DataFrame:
        p = salted_pair_join(blocks, blocks, salt=salt).filter(
            F.col("left_id") < F.col("right_id")
        )
        if snm_window is not None:
            from osm_wikidata_spark.operators.neighborhood import (
                sorted_neighborhood_pairs,
            )

            snm = sorted_neighborhood_pairs(
                entities.select(
                    F.col("conv_id"),
                    F.get(F.col("names"), 0).alias("primary_name"),
                ),
                "conv_id",
                "primary_name",
                window=snm_window,
            ).select(
                F.least("left_id", "right_id").alias("left_id"),
                F.greatest("left_id", "right_id").alias("right_id"),
                F.lit("«snm»").alias("block_key"),
            )
            p = (
                p.unionByName(snm)
                .groupBy("left_id", "right_id")
                .agg(F.min("block_key").alias("block_key"))
            )
        if cnp_k is not None:
            from ..operators.metablocking import block_edge_weights, prune_edges_cnp

            # weight pairs by block-set overlap and keep only each node's
            # top-k — the budget gate BEFORE the expensive scoring UDF.
            # The semi-join preserves p's block_key lineage.
            weights = block_edge_weights(
                blocks, id_col="block_id", block_col="block_key",
                max_block=max_block_size,
            )
            kept = prune_edges_cnp(weights, cnp_k, weight_col="js", persist=True)
            p = p.join(
                kept.select("left_id", "right_id"), ["left_id", "right_id"], "leftsemi"
            )
        return p

    pairs = stage(
        spark,
        run_dir,
        "pairs",
        _pairs,
        params={
            "salt": salt,
            "max_block_size": max_block_size,
            "snm_window": snm_window,
            "cnp_k": cnp_k,
        },
    )
    append_partition_rows(run_dir, run_id, "pairs")

    edges = stage(
        spark,
        run_dir,
        "edges",
        lambda: score_pairs(pairs, entities, endings),
        params={"endings": endings, "salt": salt, "max_block_size": max_block_size},
        observe=score_observations(),
    )
    append_partition_rows(run_dir, run_id, "edges")
    append_score_rows(run_dir, run_id, "edges")

    def _components() -> DataFrame:
        accepted = edges.filter(F.col("matched"))
        labels = connected_components(accepted, "left_id", "right_id")
        # singletons: conversations with no accepted edge
        return (
            entities.select(F.col("conv_id"))
            .join(labels.withColumnRenamed("node", "conv_id"), "conv_id", "left")
            .select(
                "conv_id",
                F.coalesce("component", "conv_id").alias("component"),
            )
        )

    components = stage(spark, run_dir, "components", _components)
    append_partition_rows(run_dir, run_id, "components")

    out = {
        "entities": entities,
        "blocks": blocks,
        "pairs": pairs,
        "edges": edges,
        "components": components,
    }

    if fs_bands is not None:
        from ..operators.linkage import (
            comparison_vectors,
            fellegi_sunter_em,
            fs_decisions,
            score_pairs_fs,
        )
        from ..operators.scoring import score_name_pairs

        def _fs() -> DataFrame:
            prim = entities.select(
                "conv_id", F.get(F.col("names"), 0).alias("primary_name")
            )
            scored = score_name_pairs(
                pairs.join(
                    prim.select(
                        F.col("conv_id").alias("left_id"),
                        F.col("primary_name").alias("left_name"),
                    ),
                    "left_id",
                ).join(
                    prim.select(
                        F.col("conv_id").alias("right_id"),
                        F.col("primary_name").alias("right_name"),
                    ),
                    "right_id",
                )
            )
            gcols = [f"gamma_{c}" for c in fs_bands]
            levels = [len(t) + 1 for t in fs_bands.values()]
            cv = comparison_vectors(scored, fs_bands)
            if cv.isEmpty():
                # nothing to fit (blocking produced zero candidate
                # pairs) — emit an empty decisions frame with the same
                # schema instead of letting EM fail on no sufficient
                # statistics
                return (
                    cv.withColumn("match_weight", F.lit(None).cast("double"))
                    .withColumn("posterior", F.lit(None).cast("double"))
                    .withColumn("decision", F.lit(None).cast("string"))
                )
            patterns, _params = fellegi_sunter_em(cv, gcols, levels)
            return fs_decisions(
                score_pairs_fs(cv, patterns, gcols),
                lower=fs_thresholds[0],
                upper=fs_thresholds[1],
            )

        out["fs_pairs"] = stage(
            spark,
            run_dir,
            "fs_pairs",
            _fs,
            params={
                "fs_bands": fs_bands,
                "fs_thresholds": list(fs_thresholds),
                "cnp_k": cnp_k,
                "snm_window": snm_window,
            },
        )

    return out
