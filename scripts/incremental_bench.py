"""Measured evidence for the incremental-ingest design claim.

streaming/incremental.py promises: when a new batch of conversations
lands, re-block ONLY the batch and score it against the persisted block
index — per-batch cost proportional to the batch, not the corpus.  The
incremental ≡ batch equivalence is pytest-pinned
(tests/test_streaming.py); this script measures the COST side, which no
test pins:

* ``full_recompute`` — the whole corpus (base + batch) through
  extract → block → pair → score → CC from scratch: what a pipeline
  without state would pay on every arrival.
* ``incremental``    — ``incremental_edges_batch`` folding the same
  batch into a committed state generation (includes reading the state,
  the global re-cap counts, scoring the batch-touched pairs, writing
  the next generation AND the incremental-CC assignment update — the
  full per-batch bill, not just the join).

Input is synthesised deterministically (same generator shape as
scripts/scaling_bench.py: every conversation mentions a unique name, so
scoring is never memoised; ~1% of conversations share each block
token).  min-of-``--reps`` wall-clock per leg, fresh state dir per
incremental rep so generation GC can't amortise across reps.

Run: python scripts/incremental_bench.py [--base 19000] [--batch 1000]
     [--reps 3] [--cpus 32] [--neardup]

``--neardup`` benches the sibling near-dup chain instead
(streaming/neardup.py): full ``minhash_lsh_pairs`` + CC over base+batch
vs ``incremental_neardup_batch`` folding the batch into seeded state —
same protocol, same synthetic docs (unique vocab per near-dup family so
minhash work is never memoised).

Prints one JSON line; recorded in BENCH.md.  The headline ratio
understates the design's advantage at corpus scale: full recompute
grows with base+batch while the incremental bill grows with the batch
(plus one state-table scan for the re-cap counts — the documented
residual corpus-size term, a columnar count over two narrow columns).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
import os


def _transcripts(spark, start: int, n: int):
    from pyspark.sql import functions as F

    return spark.range(start, start + n).select(
        F.format_string("conv-%07d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.lit('About "Block'), (F.col("id") % 100).cast("string"),
            F.lit(" Office Number "), F.col("id").cast("string"), F.lit('" today.'),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )


def _documents(spark, start: int, n: int):
    """Near-dup doc families: doc i sits in family i//3 with a unique
    30-word vocabulary (w<fam>_0..w<fam>_29); variants i%3 add a tiny
    edit, so each family forms one near-dup cluster and minhash work is
    never memoised across families."""
    from pyspark.sql import functions as F

    fam = (F.col("id") / 3).cast("long")
    words = F.concat_ws(
        " ",
        *[
            F.format_string(f"w%d_{i}", fam)
            for i in range(30)
        ],
    )
    return spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 3 == 2, F.lit("lead ")).otherwise(F.lit("")),
            words,
            F.when(F.col("id") % 3 == 1, F.lit(" extra")).otherwise(F.lit("")),
        ).alias("text"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", type=int, default=19000)
    ap.add_argument("--batch", type=int, default=1000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--neardup", action="store_true",
                    help="bench the near-dup band-key chain instead")
    args = ap.parse_args()

    sys.path.insert(0, "/root/repo")
    from pyspark.sql import functions as F
    from osm_wikidata_spark.session import build_session
    from osm_wikidata_spark.operators.blocking import build_blocks, salted_pair_join
    from osm_wikidata_spark.operators.components import connected_components
    from osm_wikidata_spark.plans.pipeline import extract_entities, score_pairs
    from osm_wikidata_spark.streaming.incremental import incremental_edges_batch

    spark = build_session(
        "incremental-bench", master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")

    def _dir_bytes_outer(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    if args.neardup:
        from osm_wikidata_spark.operators.components import connected_components
        from osm_wikidata_spark.operators.dedup import minhash_lsh_pairs
        from osm_wikidata_spark.streaming.chain import chain
        from osm_wikidata_spark.streaming.neardup import incremental_neardup_batch

        base_docs = _documents(spark, 0, args.base).localCheckpoint(eager=True)
        batch_docs = _documents(spark, args.base, args.batch).localCheckpoint(
            eager=True
        )
        # warm Python workers once (minhash is the pandas-UDF stage)
        minhash_lsh_pairs(batch_docs.limit(64), max_bucket=50).count()

        def nd_full() -> float:
            t0 = time.monotonic()
            pairs = minhash_lsh_pairs(
                base_docs.unionByName(batch_docs), max_bucket=50
            )
            connected_components(pairs).write.mode("overwrite").format(
                "noop"
            ).save()
            return time.monotonic() - t0

        nd_volume: dict[str, int] = {}

        def nd_incremental() -> float:
            state = tempfile.mkdtemp(prefix="incr-bench-nd-state-")
            try:
                incremental_neardup_batch(
                    spark, base_docs, state, max_bucket=50
                ).write.mode("overwrite").format("noop").save()
                t0 = time.monotonic()
                incremental_neardup_batch(
                    spark, batch_docs, state, max_bucket=50
                ).write.mode("overwrite").format("noop").save()
                dt = time.monotonic() - t0
                if not nd_volume:
                    gens = chain(state)
                    for label, gen in (
                        ("base_gen", gens[0]),
                        ("delta_gen", gens[-1]),
                    ):
                        d = os.path.join(state, gen)
                        nd_volume[f"{label}_bytes"] = _dir_bytes_outer(
                            os.path.join(d, "band_keys")
                        )
                        nd_volume[f"{label}_assignments_bytes"] = _dir_bytes_outer(
                            os.path.join(d, "assignments")
                        )
                return dt
            finally:
                shutil.rmtree(state, ignore_errors=True)

        legs = {}
        for name, fn in (
            ("full_recompute", nd_full),
            ("incremental", nd_incremental),
        ):
            times = []
            for _ in range(args.reps):
                spark.catalog.clearCache()
                times.append(round(fn(), 3))
            legs[name] = {"seconds": min(times), "all_runs": times}
        legs["incremental"]["write_volume"] = nd_volume
        print(
            json.dumps(
                {
                    "metric": "incremental_neardup_seconds",
                    "unit": "sec",
                    "base_docs": args.base,
                    "batch_docs": args.batch,
                    "cpus": args.cpus,
                    "reps": args.reps,
                    "legs": legs,
                    "speedup_incremental_vs_full": round(
                        legs["full_recompute"]["seconds"]
                        / legs["incremental"]["seconds"],
                        3,
                    ),
                }
            )
        )
        return

    base = _transcripts(spark, 0, args.base).localCheckpoint(eager=True)
    batch = _transcripts(spark, args.base, args.batch).localCheckpoint(eager=True)
    cap = (args.base + args.batch) // 50

    # warm Python workers once (per-JVM cost, not a per-leg cost)
    extract_entities(batch.limit(64)).count()

    def full_recompute() -> float:
        t0 = time.monotonic()
        ents = extract_entities(base.unionByName(batch))
        blocks = build_blocks(ents, "conv_id", "tokens", max_block_size=cap)
        pairs = salted_pair_join(blocks, blocks).filter(
            F.col("left_id") < F.col("right_id")
        )
        edges = score_pairs(pairs, ents)
        connected_components(edges.filter(F.col("matched"))).write.mode(
            "overwrite"
        ).format("noop").save()
        return time.monotonic() - t0

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    # write-volume evidence for the delta-chain claim, captured once:
    # the timed commit's generation (blocks+entities only — assignments
    # is the documented full-table-per-commit exception, reported
    # separately) vs the seeded base generation's
    write_volume: dict[str, int] = {}

    def incremental() -> float:
        state = tempfile.mkdtemp(prefix="incr-bench-state-")
        try:
            # seed the state with the base corpus OUTSIDE the timed region
            # (it models the already-committed generation)
            incremental_edges_batch(
                spark, base, state, max_block_size=cap
            ).write.mode("overwrite").format("noop").save()
            t0 = time.monotonic()
            incremental_edges_batch(
                spark, batch, state, max_block_size=cap
            ).write.mode("overwrite").format("noop").save()
            dt = time.monotonic() - t0
            if not write_volume:
                from osm_wikidata_spark.streaming.chain import chain

                gens = chain(state)
                base_gen, delta_gen = gens[0], gens[-1]
                for label, gen in (("base_gen", base_gen), ("delta_gen", delta_gen)):
                    d = os.path.join(state, gen)
                    write_volume[f"{label}_bytes"] = sum(
                        _dir_bytes(os.path.join(d, t)) for t in ("blocks", "entities")
                    )
                    write_volume[f"{label}_assignments_bytes"] = _dir_bytes(
                        os.path.join(d, "assignments")
                    )
            return dt
        finally:
            shutil.rmtree(state, ignore_errors=True)

    legs = {}
    for name, fn in (("full_recompute", full_recompute), ("incremental", incremental)):
        times = []
        for _ in range(args.reps):
            spark.catalog.clearCache()
            times.append(round(fn(), 3))
        legs[name] = {"seconds": min(times), "all_runs": times}
    legs["incremental"]["write_volume"] = write_volume

    out = {
        "metric": "incremental_ingest_seconds",
        "unit": "sec",
        "base_convs": args.base,
        "batch_convs": args.batch,
        "cpus": args.cpus,
        "reps": args.reps,
        "legs": legs,
        "speedup_incremental_vs_full": round(
            legs["full_recompute"]["seconds"] / legs["incremental"]["seconds"], 3
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
