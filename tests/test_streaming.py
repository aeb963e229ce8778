"""Incremental ingest: new transcript files are blocked and scored against
the existing index only (streaming/incremental.py, streaming/neardup.py,
both on the delta-chain store of streaming/chain.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osm_wikidata_spark.sources.transcripts import synth_transcripts
from osm_wikidata_spark.streaming.incremental import (
    incremental_edges_batch,
    stream_transcripts,
)


@pytest.mark.parametrize("id_type", ["string", "bigint"])
def test_incremental_batches_equal_full_run(spark, tmp_path, id_type):
    transcripts, _ = synth_transcripts(spark, n_conversations=60, turns_per_conv=3)
    split = "conv-000030"
    if id_type == "bigint":
        # "conv-000042" -> 42: the same conversations under bigint ids
        transcripts = transcripts.withColumn(
            "conv_id", F.substring("conv_id", 6, 6).cast("bigint")
        )
        split = 30
    state = os.path.join(str(tmp_path), "state")
    os.makedirs(state, exist_ok=True)

    batch1 = transcripts.filter(F.col("conv_id") < split)
    batch2 = transcripts.filter(F.col("conv_id") >= split)

    e1 = incremental_edges_batch(spark, batch1, state).filter("matched").collect()
    e2 = incremental_edges_batch(spark, batch2, state).filter("matched").collect()
    incremental = {
        tuple(sorted((r["left_id"], r["right_id"]))) for r in e1 + e2
    }

    from osm_wikidata_spark.plans.pipeline import run_pipeline

    full = run_pipeline(spark, transcripts)
    full_edges = {
        tuple(sorted((r["left_id"], r["right_id"])))
        for r in full["edges"].filter("matched").collect()
    }
    assert incremental == full_edges


def test_turn_rate_stream_equals_batch(spark, tmp_path):
    """Watermarked event-time window agg: streaming (availableNow) result
    must equal the same aggregate computed in batch."""
    from osm_wikidata_spark.streaming.incremental import TRANSCRIPT_SCHEMA
    from osm_wikidata_spark.streaming.windows import turn_rate

    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=4)
    src = os.path.join(str(tmp_path), "tr_src")
    transcripts.write.parquet(src)

    batch = {
        (r["window_start"], r["role"]): r["n_turns"]
        for r in turn_rate(spark.read.parquet(src)).collect()
    }

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    out_dir = os.path.join(str(tmp_path), "tr_out")
    ckpt = os.path.join(str(tmp_path), "tr_ckpt")
    q = (
        turn_rate(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows closed by the watermark; every emitted
    # row must match batch, and re-running with a final empty batch flushes
    streamed = {
        (r["window_start"], r["role"]): r["n_turns"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed, "no windows emitted"
    assert all(batch[k] == v for k, v in streamed.items())


def test_conversation_progress_stateful(spark, tmp_path):
    """applyInPandasWithState accumulates per-conversation counters across
    micro-batches."""
    from osm_wikidata_spark.streaming.incremental import TRANSCRIPT_SCHEMA
    from osm_wikidata_spark.streaming.windows import conversation_progress

    transcripts, _ = synth_transcripts(spark, n_conversations=10, turns_per_conv=5)
    src = os.path.join(str(tmp_path), "cp_src")
    # two files → at least two micro-batches with maxFilesPerTrigger=1
    transcripts.filter(F.col("turn_idx") < 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    transcripts.filter(F.col("turn_idx") >= 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = os.path.join(str(tmp_path), "cp_out")
    ckpt = os.path.join(str(tmp_path), "cp_ckpt")

    # parquet sink rejects update mode; append each micro-batch's updates
    def _sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        conversation_progress(stream)
        .writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(out_dir).collect()
    # final state per conversation: all 5 turns seen, max idx 4
    final = {}
    for r in rows:
        cur = final.get(r["conv_id"])
        if cur is None or r["n_turns"] > cur["n_turns"]:
            final[r["conv_id"]] = r
    assert len(final) == 10
    assert all(r["n_turns"] == 5 and r["max_turn_idx"] == 4 for r in final.values())


def test_conversation_progress_null_ts_batch(spark, tmp_path):
    """A micro-batch whose ts values are all null must not poison last_ts
    (NaT) nor stop a later real timestamp from landing, and the monotone
    guarantee must hold when an older timestamp arrives afterwards."""
    import datetime

    from osm_wikidata_spark.streaming.incremental import TRANSCRIPT_SCHEMA
    from osm_wikidata_spark.streaming.windows import conversation_progress

    src = os.path.join(str(tmp_path), "nt_src")
    t1 = datetime.datetime(2026, 1, 2, 12, 0, 0)
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    batches = [
        [("c", 0, "user", "a", None, None)],          # all-null ts batch
        [("c", 1, "assistant", "b", None, t1)],        # real ts
        [("c", 2, "tool", "c", "x", t0)],              # OLDER ts (out of order)
    ]
    for batch in batches:
        spark.createDataFrame(batch, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out_dir = os.path.join(str(tmp_path), "nt_out")
    ckpt = os.path.join(str(tmp_path), "nt_ckpt")

    def _sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        conversation_progress(stream)
        .writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = sorted(spark.read.parquet(out_dir).collect(), key=lambda r: r["n_turns"])
    by_turns = {r["n_turns"]: r["last_ts"] for r in rows}
    assert by_turns.get(1) is None          # null batch → no last_ts yet
    assert by_turns.get(2) == t1            # real ts lands despite earlier NaT
    assert by_turns.get(3) == t1            # older ts must NOT regress it


def test_uncommitted_generation_recovery(spark, tmp_path):
    """A crash after the generation write but before the manifest commit
    leaves an orphaned gen dir: the manifest must keep naming the previous
    (complete) generation, the orphan must never be read or re-used, and
    the next batch must build on the pre-crash state."""
    import shutil

    from osm_wikidata_spark.streaming.chain import chain, chain_paths

    transcripts, _ = synth_transcripts(spark, n_conversations=20, turns_per_conv=2)
    state = os.path.join(str(tmp_path), "state")
    os.makedirs(state, exist_ok=True)
    incremental_edges_batch(spark, transcripts, state)
    gen1 = chain(state)[-1]
    blocks_paths = chain_paths(state, "blocks")
    assert spark.read.parquet(*blocks_paths).count() > 0

    # simulate the crash: a fully-written next generation whose manifest
    # commit never happened (here: a bogus, possibly-partial dir)
    orphan = os.path.join(state, "gen-000009")
    os.makedirs(os.path.join(orphan, "blocks"), exist_ok=True)
    assert chain(state)[-1] == gen1  # manifest untouched by crash

    more, _ = synth_transcripts(spark, n_conversations=25, turns_per_conv=2)
    more = more.filter(F.col("conv_id") >= "conv-000020")
    incremental_edges_batch(spark, more, state)
    gen2 = chain(state)[-1]
    assert gen2 not in (gen1, "gen-000009")  # orphan never re-used
    assert int(gen2.split("-")[1]) > 9
    recovered = spark.read.parquet(*chain_paths(state, "blocks"))
    # old conversations' blocks survived the crash
    assert recovered.filter(F.col("block_id") < "conv-000020").count() > 0
    shutil.rmtree(orphan, ignore_errors=True)


def test_crashed_compaction_orphan_is_invisible(spark, tmp_path):
    """A compaction that writes its full base generation but crashes
    before the manifest commit leaves an orphan holding a COMPLETE copy
    of the state.  It must stay invisible — read counts stay exact (no
    double-counted conversations), its number is skipped, and it is GC'd
    once commits age past it."""
    from osm_wikidata_spark.streaming.chain import chain
    from osm_wikidata_spark.streaming.incremental import read_state

    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=2)
    state = os.path.join(str(tmp_path), "state")
    os.makedirs(state, exist_ok=True)
    for lo, hi in (("conv-000000", "conv-000010"),
                   ("conv-000010", "conv-000020")):
        batch = transcripts.filter(
            (F.col("conv_id") >= lo) & (F.col("conv_id") < hi)
        )
        incremental_edges_batch(spark, batch, state, compact_every=8)
    assert chain(state) == ["gen-000001", "gen-000002"]

    # simulate the crashed compaction: a fully-written base generation
    # (complete folded state) whose manifest commit never happened
    blocks, entities = read_state(spark, state)
    orphan = os.path.join(state, "gen-000003")
    blocks.write.parquet(os.path.join(orphan, "blocks"))
    entities.write.parquet(os.path.join(orphan, "entities"))
    assert chain(state) == ["gen-000001", "gen-000002"]  # manifest untouched

    # the orphan's full copy is invisible: counts are exact
    _b2, e2 = read_state(spark, state)
    assert e2.count() == 20
    assert e2.groupBy("conv_id").count().filter("count > 1").count() == 0

    # next commit skips the orphan's number and stays exact
    batch3 = transcripts.filter(
        (F.col("conv_id") >= "conv-000020") & (F.col("conv_id") < "conv-000030")
    )
    incremental_edges_batch(spark, batch3, state, compact_every=8)
    assert chain(state) == ["gen-000001", "gen-000002", "gen-000004"]
    _b3, e3 = read_state(spark, state)
    assert e3.count() == 30
    assert e3.groupBy("conv_id").count().filter("count > 1").count() == 0

    # commits age past the orphan: it is GC'd (number <= newest-2, never
    # in any manifest)
    batch4 = transcripts.filter(
        (F.col("conv_id") >= "conv-000030") & (F.col("conv_id") < "conv-000040")
    )
    incremental_edges_batch(spark, batch4, state, compact_every=8)
    assert not os.path.exists(orphan)
    _b4, e4 = read_state(spark, state)
    assert e4.count() == 40


def test_generation_chain_compaction_and_gc(spark, tmp_path):
    """Delta-chain lifecycle: commits append batch-sized delta generations
    to the manifest chain; crossing ``compact_every`` folds the chain into
    one base generation; every generation the PREVIOUS manifest referenced
    survives exactly one more commit (lazy-plan grace — compaction retires
    a whole chain at once, so all of it must outlive the compacting
    commit); and the merged read recovers everything."""
    from osm_wikidata_spark.streaming.chain import chain
    from osm_wikidata_spark.streaming.incremental import read_state

    transcripts, _ = synth_transcripts(spark, n_conversations=40, turns_per_conv=2)
    state = os.path.join(str(tmp_path), "state")
    os.makedirs(state, exist_ok=True)
    for lo, hi in (("conv-000000", "conv-000010"),
                   ("conv-000010", "conv-000020"),
                   ("conv-000020", "conv-000030")):
        batch = transcripts.filter(
            (F.col("conv_id") >= lo) & (F.col("conv_id") < hi)
        )
        incremental_edges_batch(spark, batch, state, compact_every=2)
    # batch 3 crossed compact_every=2: chain is the single base gen-000003
    assert chain(state) == ["gen-000003"]
    assert chain(state)[-1] == "gen-000003"
    gens = sorted(n for n in os.listdir(state) if n.startswith("gen-"))
    # the compacting commit retired [gen-000001, gen-000002]; BOTH must
    # survive it — a reader holding the pre-compaction manifest has lazy
    # plans over the whole retired chain
    assert gens == ["gen-000001", "gen-000002", "gen-000003"]
    blocks, entities = read_state(spark, state)
    # the compacted base holds every batch's conversations
    assert entities.count() == 30
    assert blocks.select("block_id").distinct().count() == 30

    # commit 4 (a plain delta): the grace expires — only the generations
    # the PREVIOUS manifest referenced (gen-000003) plus the new chain
    # survive
    batch4 = transcripts.filter(
        (F.col("conv_id") >= "conv-000030") & (F.col("conv_id") < "conv-000040")
    )
    incremental_edges_batch(spark, batch4, state, compact_every=2)
    assert chain(state) == ["gen-000003", "gen-000004"]
    gens = sorted(n for n in os.listdir(state) if n.startswith("gen-"))
    assert gens == ["gen-000003", "gen-000004"]
    _blocks2, entities2 = read_state(spark, state)
    assert entities2.count() == 40


def test_streaming_query_runs(spark, tmp_path):
    transcripts, _ = synth_transcripts(spark, n_conversations=30, turns_per_conv=3)
    src = os.path.join(str(tmp_path), "src")
    transcripts.write.parquet(src)

    state = os.path.join(str(tmp_path), "state")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    edges_dir = os.path.join(str(tmp_path), "edges")
    os.makedirs(state, exist_ok=True)

    q = stream_transcripts(spark, src, state, ckpt, edges_dir)
    q.awaitTermination(120)
    edges = spark.read.parquet(edges_dir)
    assert edges.count() > 0
    assert "batch_id" in edges.columns


def test_exact_dedup_stream_bounded_state(spark, tmp_path):
    """Streaming exact dedup: one representative per fingerprint within the
    watermark; streaming output (availableNow) carries no fingerprint seen
    twice, and every batch fingerprint survives."""
    import os

    from pyspark.sql import functions as F

    from osm_wikidata_spark.streaming.dedup import exact_dedup_stream

    rows = []
    for i in range(40):
        # 20 distinct texts, each duplicated once 30 s later
        rows.append((i, f"document text {i % 20}", 1700000000 + (i % 20) * 60 + (i // 20) * 30))
    for i in range(3):
        # null-text docs are NOT duplicates of each other (batch-family
        # convention) — all three must pass through the stateful dedup
        rows.append((100 + i, None, 1700000000 + i))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, epoch bigint").select(
        "doc_id", "text", F.timestamp_seconds("epoch").alias("ts")
    )
    src = os.path.join(str(tmp_path), "docs_src")
    docs.write.parquet(src)

    stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").parquet(src)
    out_dir = os.path.join(str(tmp_path), "dd_out")
    ckpt = os.path.join(str(tmp_path), "dd_ckpt")
    q = (
        exact_dedup_stream(stream, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out_dir).collect()
    fps = [r["fingerprint"] for r in streamed if r["fingerprint"] is not None]
    assert len(fps) == len(set(fps)) == 20  # one per distinct text, no dupes
    null_ids = sorted(r["doc_id"] for r in streamed if r["fingerprint"] is None)
    assert null_ids == [100, 101, 102]  # none collapsed into "duplicates"


def test_incremental_assignments_equal_batch_cc(spark, tmp_path):
    """Each committed generation's assignment table equals a full
    connected-components recompute over every matched edge seen so far."""
    from osm_wikidata_spark.operators.components import connected_components
    from osm_wikidata_spark.streaming.chain import live_path

    transcripts, _ = synth_transcripts(spark, n_conversations=60, turns_per_conv=3)
    state = os.path.join(str(tmp_path), "state")
    os.makedirs(state, exist_ok=True)

    batch1 = transcripts.filter(F.col("conv_id") < "conv-000030")
    batch2 = transcripts.filter(F.col("conv_id") >= "conv-000030")

    all_edges = []
    for batch in (batch1, batch2):
        edges = incremental_edges_batch(spark, batch, state)
        all_edges += edges.filter("matched").select("left_id", "right_id").collect()
        got = {
            r["node"]: r["component"]
            for r in spark.read.parquet(live_path(state, "assignments")).collect()
        }
        full = spark.createDataFrame(
            [(r["left_id"], r["right_id"]) for r in all_edges],
            "left_id string, right_id string",
        )
        want = {
            r["node"]: r["component"]
            for r in connected_components(full).collect()
        }
        assert got == want


def test_incremental_merges_conversations_spanning_batches(spark, tmp_path):
    """A conversation whose turns span micro-batches must have its partial
    entity rows MERGED (set union of mentions), not arbitrarily collapsed
    by dropDuplicates — and its old block keys re-probed so pairs are
    (re)scored under the merged mention set."""
    from osm_wikidata_spark.streaming.incremental import read_state

    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    state = os.path.join(str(tmp_path), "span_state")
    os.makedirs(state, exist_ok=True)

    batch1 = spark.createDataFrame(
        [
            ("A", 0, "user", 'we visited "Alpha Tower" yesterday', None, None),
            ("B", 0, "user", 'they renamed "Beta Hall" recently', None, None),
        ],
        schema,
    )
    # batch 2: A continues, now mentioning B's name exactly
    batch2 = spark.createDataFrame(
        [("A", 1, "user", 'it is also called "Beta Hall"', None, None)],
        schema,
    )
    incremental_edges_batch(spark, batch1, state)
    edges2 = incremental_edges_batch(spark, batch2, state)

    _blocks, entities = read_state(spark, state)
    ents = {r["conv_id"]: r for r in entities.collect()}
    # merged, deterministic — not whichever partial row won a dropDuplicates
    assert ents["A"]["names"] == ["Alpha Tower", "Beta Hall"]
    assert ents["B"]["names"] == ["Beta Hall"]
    # the A–B match is only reachable through the merged mention set
    matched = {
        (r["left_id"], r["right_id"])
        for r in edges2.filter("matched").select("left_id", "right_id").collect()
    }
    assert ("A", "B") in matched


def _neardup_corpus(spark):
    """30 docs: 10 near-dup triplets (tiny per-copy edits) with distinct
    vocab per family, so minhash bands collide within families only."""
    rows = []
    for fam in range(10):
        base = " ".join(f"w{fam}_{i}" for i in range(30))
        rows.append((fam * 3 + 0, base))
        rows.append((fam * 3 + 1, base + " extra"))
        rows.append((fam * 3 + 2, "lead " + base))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_incremental_neardup_equals_full_run(spark, tmp_path, id_type):
    """Uncapped: unioned per-batch pairs == batch minhash_lsh_pairs over
    the whole corpus, and committed assignments == full CC recompute.
    Runs with ``compact_every=2`` so the third commit COMPACTS the delta
    chain mid-test — the fold must not change any answer.  String ids
    ("d07") run the same corpus: the first commit's empty assignments
    must take the ids' type, not bigint."""
    import os

    from osm_wikidata_spark.operators import dedup
    from osm_wikidata_spark.operators.components import connected_components
    from osm_wikidata_spark.streaming.chain import chain, live_path
    from osm_wikidata_spark.streaming.neardup import incremental_neardup_batch

    def with_ids(df):
        if id_type == "bigint":
            return df
        return df.withColumn("doc_id", F.format_string("d%02d", "doc_id"))

    docs = _neardup_corpus(spark)
    state = os.path.join(str(tmp_path), "nd_state")
    folded = set()
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        got = incremental_neardup_batch(
            spark, with_ids(batch), state, max_bucket=None, compact_every=2
        )
        folded |= {(r["left_id"], r["right_id"], r["band"]) for r in got.collect()}
    # batch 3 crossed compact_every=2: the chain is one compacted base
    assert chain(state) == ["gen-000003"]

    full_pairs = dedup.minhash_lsh_pairs(with_ids(docs), max_bucket=None)
    full = {(r["left_id"], r["right_id"], r["band"]) for r in full_pairs.collect()}
    assert folded == full and full

    want = {
        (r["node"], r["component"])
        for r in connected_components(full_pairs).collect()
    }
    state_assign = spark.read.parquet(live_path(state, "assignments"))
    assert {(r["node"], r["component"]) for r in state_assign.collect()} == want


def test_incremental_neardup_progressive_cap(spark, tmp_path):
    """A bucket crossing the global cap stops emitting new pairs in later
    batches (earlier emissions persist — append-only contract)."""
    import os

    from osm_wikidata_spark.streaming.neardup import incremental_neardup_batch

    boiler = " ".join(f"b{i}" for i in range(30))
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, boiler) for i in range(lo, hi)], "doc_id bigint, text string"
    )
    state = os.path.join(str(tmp_path), "cap_state")
    first = incremental_neardup_batch(spark, mk(0, 3), state, max_bucket=5)
    assert first.count() == 3  # 3 identical docs -> 3 pairs, under cap
    # 7 more copies push every shared bucket to 10 > 5: nothing new emits
    second = incremental_neardup_batch(spark, mk(3, 10), state, max_bucket=5)
    assert second.count() == 0


def test_neardup_stream_end_to_end(spark, tmp_path):
    """stream_documents over file-split input reproduces the full-run
    pair set through the Structured Streaming wiring."""
    import os

    from osm_wikidata_spark.operators import dedup
    from osm_wikidata_spark.streaming.neardup import stream_documents

    docs = _neardup_corpus(spark).select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"), F.length("text").alias("n_chars"),
    )
    src = os.path.join(str(tmp_path), "nd_src")
    for lo, hi in ((0, 15), (15, 30)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)
    state = os.path.join(str(tmp_path), "nd2_state")
    ckpt = os.path.join(str(tmp_path), "nd2_ckpt")
    out = os.path.join(str(tmp_path), "nd2_pairs")
    q = stream_documents(spark, src, state, ckpt, out, max_bucket=None)
    q.awaitTermination(120)
    got = {
        (r["left_id"], r["right_id"], r["band"])
        for r in spark.read.parquet(out).collect()
    }
    full = {
        (r["left_id"], r["right_id"], r["band"])
        for r in dedup.minhash_lsh_pairs(docs, max_bucket=None).collect()
    }
    assert got == full and full


def test_sessionize_boundaries(spark):
    """Gap rule: diff == gap merges (session_window parity), diff > gap
    splits; tie-broken ordering; 1-based per-key indices."""
    import datetime as dt

    from osm_wikidata_spark.streaming.windows import sessionize

    base = dt.datetime(2026, 1, 1)
    rows = [
        (1, 10, base),
        (2, 10, base + dt.timedelta(seconds=1800)),   # == gap -> merges
        (3, 10, base + dt.timedelta(seconds=3601)),   # > gap after #2 -> new
        (4, 20, base),                                 # other key
    ]
    df = spark.createDataFrame(rows, "event_id int, user_id int, ts timestamp")
    out = {
        r["event_id"]: (r["session_idx"], r["session_id"])
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert out[1] == (1, "10-1") and out[2] == (1, "10-1")
    assert out[3] == (2, "10-2")
    assert out[4] == (1, "20-1")


def test_session_stats_agrees_with_sessionize(spark):
    """The native session_window aggregate and the gaps-and-islands
    assignment must produce identical sessions on real-ish data."""
    from osm_wikidata_spark.streaming.windows import session_stats, sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    via_native = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in session_stats(events, gap="4 hours").collect()
    }
    via_islands = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in (
            sessionize(events, gap_seconds=14400)
            .groupBy("user_id", "session_idx")
            .agg(
                F.min("ts").alias("session_start"),
                F.count("*").alias("n_events"),
            )
            .collect()
        )
    }
    assert via_native == via_islands and len(via_native) > 50


def test_session_stats_stream_equals_batch(spark, tmp_path):
    """session_window on a stream (availableNow + watermark) must emit
    sessions equal to the batch computation."""
    import os

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "ts"
    )
    src = os.path.join(str(tmp_path), "sess_src")
    events.write.parquet(src)
    from osm_wikidata_spark.streaming.windows import session_stats

    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in session_stats(spark.read.parquet(src), gap="4 hours").collect()
    }
    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
    out_dir = os.path.join(str(tmp_path), "sess_out")
    ckpt = os.path.join(str(tmp_path), "sess_ckpt")
    q = (
        session_stats(stream, gap="4 hours", watermark="8 hours")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # append mode emits only watermark-closed sessions; all emitted rows
    # must match batch exactly
    assert streamed, "no sessions emitted"
    assert all(batch[k] == v for k, v in streamed.items())
