"""End-to-end entity-resolution pipeline over transcripts (SURVEY.md §3.1).

Stages (each checkpointable, each audited):

    transcripts ──extract──► entities (conv_id, names[], tokens[])
        │                        │ explode tokens (no dedup: ids unique,
        │                        │ tokens distinct per entity)
        │                        ▼
        │                    blocks (block_key, id)      [hot keys capped]
        │                        │ salted self-join
        │                        ▼
        │                    pairs (left_id, right_id, block_key)
        │                        │ ⋈ entities on each side → one pandas-UDF
        │                        │ call per pair over its name cross-product
        │                        ▼
        │                    edges (matched pairs, kind, rule)
        │                        │ union-find (≤ 2^20 edges; a durable
        │                        │ run passes the matched count its
        │                        │ edges write observed) or
        │                        │ large-star/small-star
        │                        ▼
        └──────────────────► components (conv_id, component)

The reference executes the same semantics as a per-item SQL loop
(`/root/reference/matcher/place.py:1190-1237`); here every stage is one
set-oriented DataFrame op so Catalyst/AQE own the physical plan.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.udfs import block_tokens_array_udf, pair_decision_udf
from ..operators.blocking import capped_blocks, salted_pair_join
from ..operators.components import connected_components
from ..sources.transcripts import ENDING_RULES, GLOBAL_ENDINGS
from .audit import (
    append_block_rows,
    append_partition_rows,
    append_score_rows,
    score_observations,
)
from .checkpoint import stage, stage_metrics

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

    One aggregate over ``conv_id`` yields every column: a conversation
    with no mention has no entity, and null text adds nothing
    (``collect_list`` skips the null match arrays).  Blocking tokens are
    derived per distinct name inside each Arrow batch
    (:func:`block_tokens_array_udf`), so the per-name dedup, regroup and
    context join of a per-mention plan are not needed.
    """

    def _distinct_matches(pattern: str) -> F.Column:
        return F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.regexp_extract_all("text", F.lit(pattern), F.lit(1)))
                )
            )
        )

    return (
        transcripts.groupBy("conv_id")
        .agg(
            _distinct_matches(_MENTION_PATTERN).alias("names"),
            _distinct_matches(_PLACE_PATTERN).alias("place_names"),
            F.max(F.col("text").contains("kind: hamlet")).alias("is_hamlet"),
        )
        .filter(F.size("names") > 0)
        .withColumn("tokens", block_tokens_array_udf("names"))
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
        .select("conv_id", "names", "tokens", "endings", "place_names", "is_hamlet")
    )


def score_pairs(
    pairs: DataFrame,
    entities: DataFrame,
    endings: list[str] | None = None,
) -> DataFrame:
    """Decide each candidate pair over its name cross-product in one Arrow
    pass: pairs ⋈ entities (left) ⋈ entities (right), then one
    :func:`pair_decision_udf` call per pair.

    ``pairs`` carries ``left_id``, ``right_id`` and ``block_key``;
    ``entities`` carries ``conv_id``, ``names``, ``endings``,
    ``place_names`` and ``is_hamlet`` (the :func:`extract_entities`
    schema).  Null ``endings``/``place_names`` count as empty and a null
    flag as false; an entity whose ``names`` is null or empty has no
    pairs.  The UDF memoises each name crossing on ``(left_name,
    right_name, endings, places, left_hamlet, right_hamlet)`` for one
    Arrow batch, the batch-wide form of the reference's memo cache
    (match.py:1029-1048).

    There is no aggregate after the UDF, so the output holds one row per
    ``pairs`` row (``block_key`` passes through) and the caller keeps two
    facts:

    * ``pairs`` holds one row per ``(left_id, right_id)``.
      ``salted_pair_join``'s ``groupBy``, the snm ``groupBy``, the cnp
      semi-join over them and incremental's ``dropDuplicates`` each
      guarantee it.
    * ``entities`` holds one row per ``conv_id``: one ``groupBy`` row each
      in :func:`extract_entities` and incremental's merge.

    The trim set per pair = GLOBAL_ENDINGS (or the ``endings`` override;
    ``[]`` trims no global ending) ∪ both sides' per-entity endings,
    mirroring the reference's per-item endings derivation
    (matcher.py:641-656) while keeping the pair decision a pure function
    of its own row.  The place context is the union of both sides'
    places (matcher.py:714-720's ``place_names | within``), null when
    empty so the UDF skips the place-strip retry (match.py:708-719).  The
    hamlet house-trim gate stays per side (matcher.py:1036-1046).
    """
    empty = F.array().cast("array<string>")
    ent = entities.filter(F.size("names") > 0).select(
        "conv_id",
        "names",
        F.struct(
            F.coalesce("endings", empty).alias("endings"),
            F.coalesce("place_names", empty).alias("places"),
            F.coalesce("is_hamlet", F.lit(False)).alias("hamlet"),
        ).alias("ctx"),
    )

    def _side(side: str) -> DataFrame:
        return ent.select(
            F.col("conv_id").alias(f"{side}_id"),
            F.col("names").alias(f"{side}_names"),
            F.col("ctx").alias(f"{side}_ctx"),
        )

    global_endings = F.array(
        *[F.lit(e) for e in (GLOBAL_ENDINGS if endings is None else endings)]
    ).cast("array<string>")
    places = F.array_union("left_ctx.places", "right_ctx.places")
    decision = pair_decision_udf(
        "left_names",
        "right_names",
        F.array_sort(
            F.array_union(
                global_endings,
                F.array_union("left_ctx.endings", "right_ctx.endings"),
            )
        ),
        F.when(F.size(places) > 0, F.array_sort(places)),
        F.col("left_ctx.hamlet"),
        F.col("right_ctx.hamlet"),
    )
    return (
        pairs.join(_side("left"), "left_id")
        .join(_side("right"), "right_id")
        .select("left_id", "right_id", "block_key", decision.alias("d"))
        .select("left_id", "right_id", "block_key", "d.*")
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
    audit launches no job of its own: ``partitions`` rows come from each
    stored stage's parquet footers, ``scores`` rows from the kind counts
    observed on the edges write and the ``blocks`` row from the size
    summary the block cap's own aggregate returned (``plans.audit``); a
    reused stage is audited from the same files and sidecars, so a resume
    over finished stages launches no job.

    Both skew guards own their no-op paths: the block cap anti-joins
    nothing when no key is over ``max_block_size``, and the salted pair
    join runs the plain join when the largest kept block (read from the
    blocks summary, also on resume) proves that no key is hot.

    No stage re-proves what an earlier one guarantees.  The blocks index
    is a plain explode of ``entities.tokens``: each entity is one
    ``groupBy("conv_id")`` row and its tokens come out of
    ``array_union``, so no ``(block_id, block_key)`` row repeats and the
    cap needs no dedup shuffle (``capped_blocks``).  A durable run's
    edges write also observes its ``matched`` count, and the components
    stage passes it to ``connected_components`` as ``max_edges``: at or
    under ``LOCAL_EDGES`` union-find runs straight over the accepted
    edges, with no canonical dedup or checkpoint.  A stored edges stage
    whose sidecar lacks that count is rebuilt once.  Without ``run_dir``
    nothing is observed and the components stage measures its own input.

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

    # a stage's params are its upstream stage's params plus its own, so a
    # changed parameter rebuilds every stage downstream of where it acts
    block_params = {"max_block_size": max_block_size}
    block_summary: dict = {}

    def _blocks() -> DataFrame:
        index = entities.select(
            F.col("conv_id").alias("block_id"), F.explode("tokens").alias("block_key")
        )
        frame, summary = capped_blocks(index, max_block_size)
        block_summary.update(summary)
        return frame

    blocks = stage(
        spark, run_dir, "blocks", _blocks, params=block_params, facts=block_summary
    )
    append_block_rows(run_dir, run_id, block_summary)

    def _pairs() -> DataFrame:
        p = salted_pair_join(
            blocks, blocks, salt=salt, max_block=block_summary["max_block"] or 0
        ).filter(F.col("left_id") < F.col("right_id"))
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

    pair_params = {
        **block_params, "salt": salt, "snm_window": snm_window, "cnp_k": cnp_k
    }
    pairs = stage(spark, run_dir, "pairs", _pairs, params=pair_params)
    append_partition_rows(run_dir, run_id, "pairs")

    edge_params = {**pair_params, "endings": endings}
    edges = stage(
        spark,
        run_dir,
        "edges",
        lambda: score_pairs(pairs, entities, endings),
        params=edge_params,
        observe={**score_observations(), "matched": F.count_if("matched")},
    )
    append_partition_rows(run_dir, run_id, "edges")
    append_score_rows(run_dir, run_id, "edges")
    matched = stage_metrics(run_dir, "edges")["matched"] if run_dir else None

    def _components() -> DataFrame:
        accepted = edges.filter(F.col("matched"))
        labels = connected_components(
            accepted, "left_id", "right_id", max_edges=matched
        )
        # singletons: conversations with no accepted edge
        return (
            entities.select(F.col("conv_id"))
            .join(labels.withColumnRenamed("node", "conv_id"), "conv_id", "left")
            .select(
                "conv_id",
                F.coalesce("component", "conv_id").alias("component"),
            )
        )

    components = stage(
        spark, run_dir, "components", _components, params=edge_params
    )
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
                **pair_params,
                "fs_bands": fs_bands,
                "fs_thresholds": list(fs_thresholds),
            },
        )

    return out
