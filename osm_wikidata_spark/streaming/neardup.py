"""Incremental / streaming MinHash near-dup dedup over a document stream.

``streaming/dedup.py`` dedups EXACT duplicates at ingest with watermark-
bounded state; this module is the fuzzy counterpart: as new document
files land, compute banded-MinHash keys for the batch only, probe them
against the accumulated key table, emit the new candidate pairs, and fold
them into the running transitive cluster assignment — the streaming
analogue of ``dedup.minhash_lsh_pairs`` + ``dedup.near_dup_clusters``,
without ever re-keying the accumulated corpus.

Equivalence contract (pinned by tests/test_streaming.py): with the bucket
cap disabled, the UNION of per-batch pair outputs equals a full batch
``minhash_lsh_pairs`` run over the concatenated corpus, and the committed
assignment equals a full ``near_dup_clusters`` recompute — keys are a
pure per-document function, a pair is emitted exactly once (in the batch
where its LATER document arrives, which by then sees every shared
bucket), and ``incremental_components`` preserves min-labels.

With ``max_bucket`` set, the cap is PROGRESSIVE: once a bucket's global
membership exceeds the cap it stops emitting new pairs (``chain.hot_cap``,
the cap the blocks path of incremental.py uses too), but
pairs it emitted while small persist — streaming outputs are append-only,
so the batch run's drop-the-whole-bucket semantics cannot be replayed.
That divergence is inherent to any monotone streaming cap and is the
documented contract, mirrored by `incremental_edges_batch`'s global
re-cap of accumulated blocks.

State — the batch's ``band_keys`` deltas plus the full ``assignments``
map — lives in the delta chain of :mod:`.chain` (layout and crash
safety documented there); replayed-batch duplicates are absorbed by the
hot cap's distinct member count and the final pair ``groupBy``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import minhash_band_keys
from .chain import commit, hot_cap, stream_batches, with_chain

DOCUMENT_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def incremental_neardup_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 50,
    compact_every: int = 8,
) -> DataFrame:
    """Process one micro-batch of documents: return the batch's new
    candidate pairs ``(left_id, right_id, band)`` and commit a delta
    generation (batch band keys + updated full cluster assignment; a
    compacted base every ``compact_every`` commits)."""
    new_keys = minhash_band_keys(
        batch_docs, id_col, text_col, n_hashes, bands, shingle_n
    )

    all_keys = with_chain(spark, state_dir, "band_keys", new_keys)
    # progressive cap against GLOBAL bucket sizes (see module docstring)
    probe, build = hot_cap(
        all_keys, ["band", "bucket"], "doc", max_bucket, new_keys
    )

    # (no corpus-side bucket pre-prune here: same measured negative
    # result as incremental_edges_batch — the probe side broadcasts, so
    # the corpus side never shuffles and a prune only adds a scan)

    pairs = (
        probe.select(F.col("doc").alias("p"), "band", "bucket")
        .join(build.select(F.col("doc").alias("b"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("p") != F.col("b"))
        # drop probe-probe double counting and orient every pair once
        .select(
            F.least("p", "b").alias("left_id"),
            F.greatest("p", "b").alias("right_id"),
            "band",
        )
        .groupBy("left_id", "right_id")
        .agg(F.min("band").alias("band"))
    )
    # a pair emits only in the batch where its LATER doc arrives; pairs
    # between two old docs never rejoin because probe is new_keys only.
    # Within that batch every shared bucket is visible (both docs' keys
    # are in `build`), so min(band) matches the full batch recompute.
    pairs = pairs.localCheckpoint(eager=True)

    commit(
        state_dir,
        {"band_keys": (new_keys, all_keys.dropDuplicates(["doc", "band", "bucket"]))},
        pairs,
        compact_every,
    )
    return pairs


def stream_documents(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    pairs_dir: str,
    max_bucket: int | None = 50,
):
    """Wire the incremental near-dup batch into Structured Streaming."""
    return stream_batches(
        spark, DOCUMENT_SCHEMA, source_dir, checkpoint_dir, pairs_dir,
        lambda batch: incremental_neardup_batch(
            spark, batch, state_dir, max_bucket=max_bucket
        ),
    )
