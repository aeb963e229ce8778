"""Physical-plan regression tests — the 100-TB discipline checks.

These pin the plan *shapes* that matter at scale: filter/column pushdown
into the parquet scan, broadcast joins for small dims, Arrow (not
row-at-a-time) Python evaluation, and anti-join (not exceptAll) vetoes.
A green result that reads all columns or shuffles a broadcastable dim is a
regression even if values match.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_scan_pushdown_filters_and_schema(spark):
    """S1: predicate AND projection must reach the parquet scan."""
    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_scan_entities"](spark, SF))
    assert "PushedFilters" in plan
    assert "c_mktsegment" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: the scan schema carries only the needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "c_custkey" in read_schema and "c_name" in read_schema
    assert "c_address" not in read_schema and "c_comment" not in read_schema


def test_result_assembly_broadcasts_dim(spark):
    """S10/J7: the nation dim must broadcast, never shuffle."""
    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_result_assembly"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_score_pairs_uses_arrow_eval(spark):
    """The kernel UDF must run as ArrowEvalPython (vectorised batches), not
    BatchEvalPython (row pickling)."""
    from osm_wikidata_spark.plans.pipeline import extract_entities, score_pairs
    from osm_wikidata_spark.sources.transcripts import synth_transcripts

    transcripts, _ = synth_transcripts(spark, n_conversations=20, turns_per_conv=2)
    entities = extract_entities(transcripts)
    pairs = spark.createDataFrame(
        [("conv-000000", "conv-000001", "k")], "left_id string, right_id string, block_key string"
    )
    plan = _formatted_plan(score_pairs(pairs, entities))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_veto_anti_join_shape(spark):
    """apply_vetoes with id_cols must plan a broadcast + left-anti join."""
    from osm_wikidata_spark.operators.vetoes import (
        DEFAULT_VETO_RULES,
        apply_vetoes,
        veto_rules_table,
    )

    pairs = spark.createDataFrame(
        [("p1", ["amenity=post_office"], ["amenity=place_of_worship"])],
        "pair_id string, left_attrs array<string>, right_attrs array<string>",
    )
    rules = veto_rules_table(spark, DEFAULT_VETO_RULES)
    plan = _formatted_plan(apply_vetoes(pairs, rules, id_cols=["pair_id"]))
    assert "LeftAnti" in plan


def test_ngram_jaccard_has_no_unfiltered_self_join(spark):
    """The Jaccard plan must join PREFIX rows (rank-filtered), never the
    full inverted index against itself."""
    from osm_wikidata_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id bigint, text string"
    )
    plan = _formatted_plan(dedup.ngram_jaccard_pairs(docs))
    # the prefix filter manifests as a row_number window before the join
    assert "row_number" in plan
    assert "Window" in plan


def test_brute_force_topk_broadcasts_queries(spark):
    from osm_wikidata_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(9, [1.0, 0.0])], "query_id bigint, query_vec array<double>"
    )
    plan = _formatted_plan(similarity.brute_force_top_k(vecs, queries))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_keep_join_not_forced_broadcast(spark):
    """cap_buckets' keep side must carry NO broadcast hint: for MinHash the
    bucket keyspace is raw xxhash64, so keep's cardinality is linear in
    corpus size and a forced broadcast would kill the driver at 10^9 docs.
    AQE may still broadcast at runtime when keep is actually small — what
    this pins is that the plan never FORCES it."""
    from osm_wikidata_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
        "doc_id bigint, text string",
    )
    pairs = dedup.minhash_lsh_pairs(docs)
    analyzed = pairs._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    optimized = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized


def test_minhash_band_keys_shuffle_runs_once(spark):
    """The bucket-size count and the keep join read ONE doc-keyed shuffle
    of the band keys: the second is a reused exchange, so the plan AQE
    finishes with no longer depends on which copy completes first."""
    from osm_wikidata_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
        "doc_id bigint, text string",
    )
    pairs = dedup.minhash_lsh_pairs(docs)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0].splitlines()
    nodes = [line.lstrip(" :+-") for line in final]
    assert sum(n.startswith("Exchange hashpartitioning(doc") for n in nodes) == 1
    assert any(n.startswith("ReusedExchange [doc") for n in nodes)


def test_minhash_null_ids_do_not_count_toward_bucket_size(spark):
    """A null-id document never pairs, so it does not push a bucket over
    ``max_bucket`` either."""
    from osm_wikidata_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (None, "a b c d e")],
        "doc_id bigint, text string",
    )
    pairs = dedup.minhash_lsh_pairs(docs, max_bucket=2).collect()
    assert [(r["left_id"], r["right_id"]) for r in pairs] == [(1, 2)]


def test_simhash_keep_join_not_forced_broadcast(spark):
    """Same invariant for the SimHash combo-key path."""
    from osm_wikidata_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id bigint, text string"
    )
    pairs = dedup.simhash_near_dups(docs)
    assert "ResolvedHint" not in pairs._jdf.queryExecution().analyzed().toString()


def test_ivf_codebook_stays_out_of_the_plan(spark):
    """A realistic codebook (4096 x 256) must ship worker-side via the
    pandas-UDF closure, not as F.lit plan literals — the literal form
    would build a ~10^6-node Catalyst tree (multi-hundred-MB at 768 dims)
    re-analyzed on every pass."""
    from osm_wikidata_spark.operators import similarity

    centroids = [
        [1.0 if j == (k % 256) else 0.0 for j in range(256)] for k in range(4096)
    ]
    vecs = spark.createDataFrame(
        [(1, [1.0] + [0.0] * 255)], "vec_id bigint, embedding array<double>"
    )
    assigned = similarity.ivf_assign(vecs, centroids)
    plan = _formatted_plan(assigned)
    assert "ArrowEvalPython" in plan  # vectorized, not row-at-a-time
    analyzed = assigned._jdf.queryExecution().analyzed().toString()
    assert len(analyzed) < 20_000, f"plan blew up: {len(analyzed)} chars"
    rows = assigned.collect()
    assert rows[0]["cell"] == 0  # argmax parity with the literal form


def test_pair_cosine_norms_stay_below_the_join(spark):
    """Pair scoring must carry each side's L2 norm as a per-ROW column:
    the norm SQRT-aggregates belong in the row-side Projects BELOW the
    join, leaving the dot as the only per-PAIR array aggregate (measured
    ~2x on the edge stage at sf0.1; the all-pairs baseline was 2.4x).
    A regression to cosine() in the pair projection would put SQRT back
    above the join."""
    from osm_wikidata_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])],
        "vec_id bigint, embedding array<double>",
    )
    pairs = similarity.cosine_near_dup_pairs(vecs, threshold=0.1)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    above_children = plan[: plan.index(":-")]  # top Project + Join node
    assert "SQRT" not in above_children, "norms recomputed per pair"
    assert above_children.count("zip_with") >= 1  # the dot stayed per-pair
    assert plan.count("SQRT") == 2  # exactly one norm per side, per row


def test_c4_filters_is_shuffle_free(spark):
    """C4 line/doc filters are a pure per-row map: zero exchanges, so the
    operator composes anywhere in a pipeline without a repartition."""
    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_c4_filters"](spark, SF))
    assert "Exchange" not in plan


def test_repetition_stats_is_shuffle_free(spark):
    """Every repetition signal is a pure function of one document, so the
    operator must stay scan -> project: per-doc sorted-array run scans,
    ZERO exchanges.  (The round-4 shape exploded ~5x the corpus word
    count through two hash aggregations — 8x slower at sf0.1 and a
    corpus-sized shuffle at scale.)"""
    from osm_wikidata_spark.operators import quality

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = _formatted_plan(quality.repetition_stats(docs))
    assert "Exchange" not in plan


def test_conversation_qa_single_shuffle(spark):
    """The lag window and the per-conversation aggregate must share ONE
    hash exchange on conv_id (exchange reuse), not shuffle twice."""
    import __spark_entry__ as entry

    import re

    plan = _formatted_plan(entry.queries()["q_conversation_qa"](spark, SF))
    shuffles = re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M)
    assert len(shuffles) == 1, plan


def test_sessionize_single_shuffle(spark):
    """Both sessionize windows (lag + running sum) use the same
    (key, order) spec -> one exchange plus one in-partition sort chain."""
    import __spark_entry__ as entry

    import re

    plan = _formatted_plan(entry.queries()["q_sessionize"](spark, SF))
    shuffles = re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M)
    assert len(shuffles) == 1, plan


def test_curation_pipeline_semantics(spark):
    """End-to-end curation chain on a hand-built corpus: boilerplate is
    stripped corpus-wide, low-quality docs are gated, docs identical up
    to boilerplate collapse to one canonical (stage-order property), PII
    is redacted, and every survivor gets exactly one split."""
    from osm_wikidata_spark.plans.curation import curate

    good = (
        "the quick brown fox jumps over the lazy dog and it was plain "
        "that the weather in the town was fine for a walk to the station"
    )
    rows = [
        # 10 filler docs carrying the boilerplate header (promotes it)
        *[
            (i, "visit our site today\n" + good + f" number {i}")
            for i in range(10)
        ],
        # duplicate pair: same body, different boilerplate carriage
        (100, "visit our site today\n" + good + " contact a@b.co"),
        (101, good + " contact a@b.co"),
        # below the token floor
        (102, "too short"),
    ]
    out = curate(
        spark.createDataFrame(rows, "doc_id long, text string"),
        min_docs_boiler=10,
        min_tokens=20,
        min_quality=0.5,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    # 102 gated out; 101 collapsed into 100 (canonical = min doc_id)
    assert 102 not in got and 101 not in got and 100 in got
    assert len(got) == 11
    # boilerplate line stripped from every carrier, lineage recorded
    assert got[100]["n_lines_removed"] == 1 and got[0]["n_lines_removed"] == 1
    assert "visit our site" not in got[100]["text"]
    # the email in the surviving canonical is redacted
    assert "<EMAIL>" in got[100]["text"] and "a@b.co" not in got[100]["text"]
    # split is one of the configured names for every row
    assert {r["split"] for r in got.values()} <= {"train", "val", "test"}


def test_curation_pipeline_shuffle_budget(spark):
    """The chain's only wide stages are the two the docstring claims:
    line-frequency aggregation (+ its join back) and the fingerprint
    window.  Gate/redact/split must add zero exchanges."""
    import re

    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_curation_pipeline"](spark, SF))
    shuffles = re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M)
    assert len(shuffles) <= 4, plan


def test_assign_shards_single_shuffle(spark):
    """Output sharding is exactly ONE exchange (hash-scatter on the shard
    id) plus the per-shard sort — the cheapest global permutation Spark
    can express."""
    import re

    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_assign_shards"](spark, SF))
    shuffles = re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M)
    assert len(shuffles) == 1, plan


def test_dsir_select_plan_shape(spark):
    """DSIR: the ratio dim must BROADCAST onto the gram stream (it is
    ≤4096 rows by construction), the corpus must be scanned exactly 3
    times (dim raw + dim target + scoring — each gram explode once), the
    global top-k must be a TakeOrderedAndProject (no full sort), and no
    Python evaluation anywhere (pure JVM expressions)."""
    import re

    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_dsir_select"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 3, plan


def test_semdedup_cell_assignment_arrow_vectorised(spark):
    """SemDeDup's cell-assignment stage (ivf_assign) must be ONE
    ArrowEvalPython node (a single batched matmul), never row-at-a-time
    BatchEvalPython.  semdedup's final frame can't be asserted directly —
    near_dup_clusters checkpoints the iterative CC, truncating the lineage
    to a Scan ExistingRDD — so we pin the visible stage.  The cell join's
    no-forced-broadcast invariant is pinned on the shared cap_buckets
    machinery by test_minhash_keep_join_not_forced_broadcast."""
    from osm_wikidata_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "vec_id bigint, embedding array<double>"
    )
    plan = _formatted_plan(similarity.ivf_assign(vecs, [[1.0, 0.0], [0.0, 1.0]]))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # end-to-end still runs and clusters the planted near-identical pair
    out = similarity.semdedup(vecs, [[1.0, 0.0], [0.0, 1.0]], threshold=0.9)
    rows = {(r.doc_id, r.canonical_id) for r in out.collect()}
    assert rows == {(1, 1), (2, 1)}


def test_pair_scores_single_arrow_stage(spark):
    """The scoring trio crosses the JVM/Python boundary exactly once (the
    Jaro-Winkler pandas UDF); Levenshtein-ratio and token-overlap must stay
    JVM-side, and never row-at-a-time Python."""
    import re

    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_pair_scores"](spark, SF))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, flags=re.M)) == 1, plan
    assert "BatchEvalPython" not in plan


def test_fuzzy_decontamination_no_python(spark):
    """Fuzzy decontamination is an all-JVM plan: shingle identities are
    xxhash64 expressions, so no Python evaluation may appear."""
    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_decontaminate_fuzzy"](spark, SF))
    assert "EvalPython" not in plan
    assert "HashAggregate" in plan


def test_review_pairs_is_take_ordered(spark):
    """Uncertainty top-k must be TakeOrderedAndProject (per-partition
    top-k + k-row driver merge), never a global Sort + Limit."""
    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_review_pairs"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_blocking_metrics_single_pass(spark):
    """All three counts must come from ONE full-outer join — the SNM sort
    and the truth self-join each appear exactly once in the plan."""
    import re

    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_blocking_metrics"](spark, SF))
    assert "FullOuter" in plan
    # the range-partition global rank (the candidate subtree's signature
    # window) is computed once, not once per count
    assert len(re.findall(r"row_number", plan)) <= 2  # rank + offset dim


def test_soft_tfidf_single_arrow_node(spark):
    """SoftTFIDF's only Python is the token-level JW kernel — exactly one
    ArrowEvalPython; idf weighting, norms, argmax and the final cosine
    all stay JVM-side."""
    import re

    import __spark_entry__ as entry

    plan = _formatted_plan(entry.queries()["q_soft_tfidf"](spark, SF))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, flags=re.M)) == 1, plan


def _name_pairs(spark):
    return spark.createDataFrame(
        [(1, 2, "red lion inn", "red lion"), (3, 4, "white hart", None)],
        "left_id int, right_id int, left_name string, right_name string",
    )


def test_monge_elkan_is_one_arrow_node_without_exchange(spark):
    """Monge-Elkan scores each row from its own two names: one
    ArrowEvalPython over the name columns and no shuffle."""
    import re

    from osm_wikidata_spark.operators.scoring import monge_elkan

    plan = _formatted_plan(monge_elkan(_name_pairs(spark)))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, flags=re.M)) == 1, plan
    assert "Exchange" not in plan, plan


def test_monge_elkan_checkpoint_is_one_job(spark):
    from osm_wikidata_spark.operators.scoring import monge_elkan
    from tests.jobcount import jobs_in_group

    scored = monge_elkan(_name_pairs(spark))
    jobs = jobs_in_group(
        spark, "monge-elkan-checkpoint", lambda: scored.localCheckpoint(eager=True)
    )
    assert jobs == 1


def test_salted_hot_path_parallelism_is_pinned(spark):
    """The salted hot-path join must carry a REPARTITION_BY_NUM exchange
    on (block_key, salt): without it, AQE partition coalescing — which
    reads map-output bytes and never sees join fan-out — merges the salt
    cells back into one task (measured in scripts/skew_bench.py: the 8
    cells of an 8000-member hot key collapsed into one 64M-row straggler,
    max_task_share 0.996).  The hot path's input bytes are small at ANY
    corpus scale (hot keys few, members capped), so the advisory-size
    heuristic always wants to merge it; the explicit repartition-by-count
    is the only thing keeping the fan-out stage parallel."""
    from osm_wikidata_spark.operators.blocking import salted_pair_join

    blocks = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k2", "c")],
        "block_key string, block_id string",
    )
    pairs = salted_pair_join(blocks, blocks, salt=8)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan


def test_salted_hot_cells_spread_across_tasks(spark):
    """Behavioural counterpart of the REPARTITION_BY_NUM plan pin: in the
    shuffle-join regime (auto-broadcast off, as at corpus scale where the
    index cannot broadcast), no single join task may own the hot key's
    whole fan-out.  Uses the pre-dedup join (_candidate_pairs_raw) because
    the pair dedup's even re-shuffle would mask the join tasks."""
    from pyspark.sql import functions as F

    from osm_wikidata_spark.operators.blocking import _candidate_pairs_raw

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the key must be genuinely DATA-DEPENDENT: a constant-foldable key
        # (a literal, or id*0 tricks) folds out of the join's required
        # distribution, so the join re-partitions on salt alone with a
        # fresh (coalescible) exchange above the pin — a degenerate shape
        # real blocking never produces (keys come from tokens).  Two hot
        # keys of 150 members each (pair products 22500 > threshold).
        blocks = spark.range(300).select(
            F.concat(F.lit("hot"), F.pmod(F.col("id"), 2).cast("string")).alias(
                "block_key"
            ),
            F.concat(F.lit("id"), F.col("id")).alias("block_id"),
        )
        raw = _candidate_pairs_raw(blocks, blocks, salt=8, hot_threshold=1000)
        per_task = (
            raw.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .agg(F.max("count").alias("mx"), F.sum("count").alias("total"))
            .first()
        )
        assert per_task["total"] == 2 * 150 * 150
        # 8 salt cells over 8 test shuffle partitions: a collision-free
        # spread puts ~1/8 per task; assert well under a single-task merge
        assert per_task["mx"] / per_task["total"] < 0.6, per_task
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_shingle_words_staged_once(spark):
    """r06 O(W²) regression pin: the words/word-hash array must be
    MATERIALISED in its own projection below the shingle transform, so the
    text split is evaluated once per row — the inline form re-evaluated
    `split(normalize(text))` inside the per-element lambda (once per
    shingle, O(W²)/doc; measured 13.7x on the sf0.1 shingle scan).  The
    optimized plan must show exactly ONE split of the text per gram
    stream, and CollapseProject must not have re-inlined the staged
    column."""
    from osm_wikidata_spark.operators import dedup, importance

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")

    # ngram with_sets shape (word_shingle_hashes_from over staged hashes)
    with_sets = (
        docs.filter(F.col("text").isNotNull())
        .select(F.col("doc_id").alias("doc"), dedup.word_hashes("text").alias("_wh"))
        .select("doc", dedup.word_shingle_hashes_from(F.col("_wh"), 3).alias("sh"))
    )
    opt = with_sets._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1, f"split inlined back:\n{opt}"

    # dsir gram stream shape
    grams = docs.select(dedup.split_words("text").alias("_w")).select(
        F.explode(importance.gram_buckets_from(F.col("_w"), 3)).alias("bucket")
    )
    opt = grams._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1, f"split inlined back:\n{opt}"


def test_cc_large_star_has_no_dedup_aggregate(spark):
    """r06 CC round pin: the mid-round `_canonical` between large-star and
    small-star was removed (large-star emits no self-loops — min_n < v
    strictly — and duplicates are min-neutral inside small-star's window;
    small-star's own canonical still dedups the round output).  Large-star
    alone must therefore plan as window-over-union with NO aggregate — a
    reappearing HashAggregate would mean the extra per-round exchange of
    the full edge set is back (measured 2.83 s → 1.99 s on the chain-graph
    A/B)."""
    from osm_wikidata_spark.operators import components as C

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "u bigint, v bigint"
    )
    plan = _formatted_plan(C._large_star(e))
    assert "Aggregate" not in plan, f"dedup aggregate back in large-star:\n{plan}"
    assert "Window" in plan
    # small-star still canonicalises the round output (the dedup the
    # algorithm itself needs)
    round_plan = _formatted_plan(C._small_star(C._large_star(e)))
    assert "Aggregate" in round_plan
