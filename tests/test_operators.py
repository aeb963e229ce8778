"""Unit tests for dedup / similarity / textstats / resolve / multimodal
operators with planted ground truth."""

from __future__ import annotations

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from osm_wikidata_spark.operators import dedup, resolve, similarity, textstats


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "The quick  brown fox jumps over the lazy dog near the river bank today"),  # exact dup modulo ws/case
        (3, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near dup
        (4, "completely different text about spark query engines and shuffles here"),
        (5, "der hund und die katze sind nicht auf der strasse mit dem auto"),
        (6, "le chat est dans la maison et le chien est pour la porte"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates(spark):
    groups = dedup.exact_duplicates(_docs(spark)).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2]


def test_ngram_jaccard(spark):
    pairs = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_lsh(spark):
    pairs = {
        (r["left_id"], r["right_id"])
        for r in dedup.minhash_lsh_pairs(_docs(spark)).collect()
    }
    assert (1, 2) in pairs  # identical signature -> all bands agree
    assert (4, 5) not in pairs and (4, 6) not in pairs


def test_simhash(spark):
    pairs = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in dedup.simhash_near_dups(_docs(spark), max_hamming=10).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (4, 5) not in pairs


def test_simhash_vote_kernel_matches_naive_and_chunking(spark):
    """r06 numpy-vote-kernel pins: the per-doc bit-count fold must equal
    the naive per-bit +/-1 vote computed from the SAME JVM xxhash64
    shingle hashes, including across the 65,536-shingle chunk boundary
    (a >65k-shingle doc exercises the chunked accumulation path)."""
    from pyspark.sql import functions as F

    from osm_wikidata_spark.operators.dedup import (
        simhash_table, split_words, word_shingles_from,
    )

    big = " ".join(f"w{i % 9973}x{i % 7}" for i in range(70000))
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, big)], "doc_id bigint, text string"
    )
    # words staged in their own projection (split_words contract — the
    # inline form is O(W²)/doc, pathological on the 70k-word doc)
    hashes = {
        r["doc_id"]: r["hs"]
        for r in docs.select("doc_id", split_words("text").alias("_w"))
        .select(
            "doc_id",
            F.transform(
                word_shingles_from(F.col("_w"), 3), lambda s: F.xxhash64(s)
            ).alias("hs"),
        )
        .collect()
    }
    sims = {r["doc"]: r["sim"] for r in simhash_table(docs).collect()}
    for doc_id, hs in hashes.items():
        n = len(hs)
        expect = 0
        for b in range(60):
            ones = sum((h >> b) & 1 for h in hs)
            if 2 * ones > n:
                expect |= 1 << b
        assert sims[doc_id] == expect, doc_id
    assert len(hashes[2]) > 65536  # the chunked path actually ran


def test_ngram_jaccard_exact_threshold_boundary(spark):
    """A pair sitting exactly at the threshold must be found: float noise in
    ceil(t·|S|) once shortened the prefix by one (0.55·20 → 11.0000…02)."""
    # doc A: 20 shingles; doc B: 11 of them → J = 11/20 = 0.55; single-word
    # shingles (n=1) give explicit control over the set sizes
    a_words = [f"tok{i}" for i in range(20)]
    b_words = a_words[:11]
    docs = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))],
        "doc_id bigint, text string",
    )
    got = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, shingle_n=1, threshold=0.55).collect()
    }
    assert got == {(1, 2): 0.55}


def test_simhash_banding_catches_spread_errors(spark):
    """Pigeonhole regression: 6 errors spread 2+2+1+1 across the old 15-bit
    quarters (offsets 0/15/30/45) left no intact quarter, so 4-band blocking
    silently missed the pair.  max_hamming+1 bands must find it."""
    spread = (1 << 0) | (1 << 1) | (1 << 15) | (1 << 16) | (1 << 30) | (1 << 45)
    hashed = spark.createDataFrame(
        [(1, 0), (2, spread), (3, (1 << 60) - 1)], "doc bigint, sim long"
    )
    got = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in dedup.simhash_candidate_pairs(hashed, bits=60, max_hamming=6)[0].collect()
    }
    assert got == {(1, 2): 6}


def test_simhash_degenerate_corpus_bounded(spark):
    """A boilerplate cluster (hundreds of identical docs) must NOT explode
    the band self-join: oversized buckets are dropped (and audited), while
    ordinary near-dup pairs outside the cluster are still found."""
    flood = [
        (100 + i, "standard boilerplate terms of service apply to this web page content")
        for i in range(300)
    ]
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "The quick  brown fox jumps over the lazy dog near the river bank today"),
        ]
        + flood,
        "doc_id bigint, text string",
    )
    hashed = dedup.simhash_table(docs)
    pairs_df, dropped_df = dedup.simhash_candidate_pairs(
        hashed, bits=60, max_hamming=6, max_bucket=200
    )
    pairs = {(r["left_id"], r["right_id"]) for r in pairs_df.collect()}
    assert (1, 2) in pairs
    assert not any(left >= 100 for left, _ in pairs), "flood pairs must be capped"
    dropped = dropped_df.collect()
    assert dropped and all(r["n"] == 300 for r in dropped), "drops must be audited"


def test_embed_lsh_degenerate_corpus_bounded(spark):
    """Embedding-LSH near-dup: a flood of identical vectors is capped out
    (exact dedup's job) while a planted distinct near-dup pair survives."""
    flood = [(100 + i, [0.7, 0.7, 0.1, 0.05]) for i in range(300)]
    vecs = spark.createDataFrame(
        [
            (1, [0.0, 0.1, 0.0, 1.0]),
            (2, [0.0, 0.1, 0.01, 0.99]),  # near-dup of 1
        ]
        + flood,
        "vec_id bigint, embedding array<double>",
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in similarity.cosine_near_dup_pairs_lsh(
            vecs, threshold=0.9, max_bucket=200
        ).collect()
    }
    assert (1, 2) in got
    assert not any(left >= 100 for left, _ in got), "flood pairs must be capped"


def test_ngram_jaccard_prefix_filter_equals_all_pairs(spark):
    """Prefix-filtered candidates + exact verify == brute-force all pairs."""
    import itertools

    docs = _docs(spark)
    rows = docs.collect()

    def shingles(text):
        words = " ".join(text.lower().split()).split(" ")
        return {" ".join(words[i : i + 3]) for i in range(max(len(words) - 2, 1))}

    expect = {}
    for (i, a), (j, b) in itertools.combinations(
        sorted((r["doc_id"], r["text"]) for r in rows), 2
    ):
        sa, sb = shingles(a), shingles(b)
        jac = len(sa & sb) / len(sa | sb)
        if jac >= 0.3:
            expect[(i, j)] = round(jac, 6)

    got = {
        (r["left_id"], r["right_id"]): round(r["jaccard"], 6)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert got == expect


def test_ngram_jaccard_randomized_equals_all_pairs(spark):
    """Randomized corpus stress of the prefix + length + positional
    filters: exact equality with brute force at several thresholds."""
    import itertools
    import random

    rng = random.Random(31337)
    words = [f"w{k}" for k in range(40)]
    rows = [
        (f"d{i:03d}", " ".join(rng.choice(words) for _ in range(rng.randint(4, 30))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def shingles(text):
        ws = " ".join(text.lower().split()).split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(max(len(ws) - 2, 1))}

    for t in (0.2, 0.5, 0.8):
        expect = {}
        for (i, a), (j, b) in itertools.combinations(sorted(rows), 2):
            sa, sb = shingles(a), shingles(b)
            jac = len(sa & sb) / len(sa | sb)
            if jac >= t:
                expect[(i, j)] = round(jac, 6)
        got = {
            (r["left_id"], r["right_id"]): round(r["jaccard"], 6)
            for r in dedup.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        assert got == expect, f"threshold {t}"


def test_brute_force_topk(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "query_id bigint, query_vec array<double>"
    )
    top = similarity.brute_force_top_k(vecs, queries, k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert top[0]["cos"] == 1.0


def test_lsh_topk_finds_identical(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id bigint, embedding array<double>",
    )
    queries = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = similarity.lsh_top_k(vecs, queries, k=1).collect()
    # every query's identical vector shares its bucket and ranks first
    assert all(r["query_id"] == r["vec_id"] for r in got)


def test_lsh_topk_recall_vs_brute_force(spark):
    """Multi-table LSH must reach ≥0.9 recall@5 against the exact baseline
    on the driver's embeddings testdata (VERDICT round-1 done-gate)."""
    import os

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        import pytest

        pytest.skip("driver testdata not present")
    emb = spark.read.parquet(path).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.brute_force_top_k(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in similarity.lsh_top_k(emb, queries, k=5, n_planes=4, n_tables=20).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9"


def test_cosine_near_dup_exact_and_lsh_recall(spark):
    """LSH near-dup candidates must recover ≥0.8 of the exact pairs on the
    driver's (near-random, hardest-case) embeddings; on realistic high-cos
    near-dups (θ small) recall is far higher by construction."""
    import os

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        import pytest

        pytest.skip("driver testdata not present")
    emb = spark.read.parquet(path).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    exact = {
        (r["left_id"], r["right_id"])
        for r in similarity.cosine_near_dup_pairs(emb, threshold=0.4).collect()
    }
    approx = {
        (r["left_id"], r["right_id"])
        for r in similarity.cosine_near_dup_pairs_lsh(
            emb, threshold=0.4, n_planes=3, n_tables=12
        ).collect()
    }
    assert exact, "expected non-empty exact near-dup set"
    assert approx <= exact  # exact verification: no false positives
    recall = len(approx) / len(exact)
    assert recall >= 0.8, f"LSH near-dup recall {recall:.3f} < 0.8"


def test_cosine_near_dup_planted(spark):
    """A planted near-identical pair must be found by both variants."""
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 1
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    exact = {
        (r["left_id"], r["right_id"])
        for r in similarity.cosine_near_dup_pairs(vecs, threshold=0.9).collect()
    }
    lsh = {
        (r["left_id"], r["right_id"])
        for r in similarity.cosine_near_dup_pairs_lsh(vecs, threshold=0.9).collect()
    }
    assert exact == {(1, 2)}
    assert lsh == {(1, 2)}


def test_ivf_assign(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-0.1, 0.9]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    cells = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_assign(vecs, [[1.0, 0.0], [0.0, 1.0]]).collect()
    }
    assert cells == {1: 0, 2: 0, 3: 1, 4: 1}


def test_textstats(spark):
    stats = {
        r["doc_id"]: r for r in textstats.document_stats(_docs(spark)).collect()
    }
    assert stats[1]["n_tokens"] == 14
    assert stats[1]["lang_pred"] == "en"
    assert stats[5]["lang_pred"] == "de"
    assert stats[6]["lang_pred"] == "fr"
    assert stats[1]["fingerprint"] == stats[2]["fingerprint"]
    assert 0.0 <= stats[4]["quality"] <= 1.0


def test_resolve_one_to_one(spark):
    edges = spark.createDataFrame(
        [
            ("e1", "r1", 0.9),
            ("e1", "r2", 0.5),
            ("e2", "r1", 0.8),   # e2's best collides with e1's best -> both vetoed
            ("e3", "r3", 0.7),
        ],
        "left_id string, right_id string, score double",
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in resolve.resolve_one_to_one(edges).collect()
    }
    assert got == {("e3", "r3")}


def test_multi_match_veto(spark):
    edges = spark.createDataFrame(
        [("e1", "r1"), ("e2", "r1"), ("e3", "r2")],
        "left_id string, right_id string",
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in resolve.multi_match_veto(edges).collect()
    }
    assert got == {("e3", "r2")}


def test_multi_match_veto_drops_null_record_ids(spark):
    """A NULL record id cannot claim a 1:1 match — dropped, not pooled
    with other NULLs by the window partition (and two NULLs must not
    veto each other into visibility either)."""
    one_null = spark.createDataFrame(
        [("e1", "r1"), ("e2", None)], "left_id string, right_id string"
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in resolve.multi_match_veto(one_null).collect()
    }
    assert got == {("e1", "r1")}

    two_nulls = spark.createDataFrame(
        [("e1", "r1"), ("e2", None), ("e3", None)],
        "left_id string, right_id string",
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in resolve.multi_match_veto(two_nulls).collect()
    }
    assert got == {("e1", "r1")}


def test_multimodal_resize_and_frames(spark):
    from osm_wikidata_spark.operators.multimodal import (
        resize_images,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, 12)
    resized = resize_images(media, 32, 32)
    rows = {r["media_id"]: r for r in resized.collect()}
    assert len(rows) == 12  # non-images pass through
    for r in rows.values():
        if r["kind"] == "image":
            assert (r["width"], r["height"]) == (32, 32)
            assert len(r["payload"]) == 32  # md5 hex bytes
        else:
            assert (r["width"], r["height"]) == (64, 64)

    frames = sample_frames(media, every_ms=250).collect()
    vids = [r["media_id"] for r in media.filter("kind = 'video'").collect()]
    assert len(frames) == len(vids) * 4  # 1000ms / 250ms
    by_media = {}
    for f in frames:
        by_media.setdefault(f["media_id"], []).append(f)
    for mid, fs in by_media.items():
        assert sorted(x["frame_idx"] for x in fs) == [0, 1, 2, 3]
        assert {x["ts_ms"] for x in fs} == {0, 250, 500, 750}
        assert len({bytes(x["payload"]) for x in fs}) == 4  # distinct frames

    # determinism across runs
    again = sample_frames(synth_media(spark, 12), every_ms=250).collect()
    assert sorted(map(str, frames)) == sorted(map(str, again))


def test_multimodal_features(spark):
    from osm_wikidata_spark.operators.multimodal import extract_features, synth_media

    feats = extract_features(synth_media(spark, 12)).collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(r["n_bytes"] == 32 for r in feats)
    # deterministic across runs
    feats2 = extract_features(synth_media(spark, 12)).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_dropped_buckets_surfaced_via_sink(spark):
    """The max_bucket cap must be observable: dropped_sink receives the
    oversized-bucket audit frame on the convenience entry points."""
    from osm_wikidata_spark.operators import dedup

    # 30 identical docs flood every band bucket past max_bucket=5
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(30)],
        "doc_id bigint, text string",
    )
    seen: list = []
    pairs = dedup.minhash_lsh_pairs(
        docs, max_bucket=5, dropped_sink=seen.append
    )
    assert len(seen) == 1
    dropped = seen[0].collect()
    assert len(dropped) > 0 and all(r["n"] > 5 for r in dropped)
    assert pairs.count() == 0  # every bucket oversized -> no candidates

    seen2: list = []
    dedup.simhash_near_dups(docs, max_bucket=5, dropped_sink=seen2.append)
    assert len(seen2) == 1 and seen2[0].count() > 0


def test_default_n_bands_corpus_aware():
    """Banding auto-select: k+1 when keys are wide or the corpus cannot
    flood them (4x-skew margin under max_bucket), else Manku k+2."""
    from osm_wikidata_spark.operators.dedup import _default_n_bands

    assert _default_n_bands(60, 6) == 8  # unknown corpus -> scale-safe k+2
    assert _default_n_bands(60, 6, corpus_size=5_000, max_bucket=200) == 7
    assert _default_n_bands(60, 6, corpus_size=12_800, max_bucket=200) == 7
    assert _default_n_bands(60, 6, corpus_size=10**6, max_bucket=200) == 8
    assert _default_n_bands(128, 7) == 8  # 16-bit single blocks suffice


def test_duplicate_mapping_scale_shape(spark):
    """duplicate_mapping: per-row canonical mapping with no arrays — the
    drop list is doc_id != canonical_id, singletons are absent."""
    from osm_wikidata_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "Same   TEXT"), (3, "unique"), (4, "same text")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.duplicate_mapping(docs).collect()}
    assert set(rows) == {1, 2, 4}  # singleton 3 absent
    assert all(r["canonical_id"] == 1 and r["group_size"] == 3 for r in rows.values())
    drop = [d for d, r in rows.items() if d != r["canonical_id"]]
    assert sorted(drop) == [2, 4]


def test_ivf_assign_null_and_ragged_vectors(spark):
    """Null or dimension-mismatched embeddings yield a null cell, never a
    task failure (parity with the old column-expression form)."""
    from osm_wikidata_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0, 5.0]), (4, [0.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_assign(vecs, [[1.0, 0.0], [0.0, 1.0]]).collect()
    }
    assert rows[1] == 0 and rows[4] == 1
    assert rows[2] is None and rows[3] is None


def test_dropped_sink_wires_into_audit_table(spark, tmp_path):
    """End-to-end observability: the dropped_sink callback composes with
    plans.audit.append_audit, so cap-induced recall loss lands in the
    run's audit directory like every other stage metric."""
    from pyspark.sql import functions as F

    from osm_wikidata_spark.operators import dedup
    from osm_wikidata_spark.plans.audit import append_audit

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(30)],
        "doc_id bigint, text string",
    )
    run_dir = str(tmp_path)
    dedup.minhash_lsh_pairs(
        docs,
        max_bucket=5,
        dropped_sink=lambda d: append_audit(
            d.select(F.lit("r1").alias("run_id"), "band", "bucket", "n"),
            run_dir,
            "dropped_buckets",
        ),
    ).count()
    audit = spark.read.parquet(f"{run_dir}/audit/dropped_buckets")
    rows = audit.collect()
    assert len(rows) > 0 and all(r["n"] > 5 and r["run_id"] == "r1" for r in rows)


def test_ivf_topk_degenerates_to_brute_force_at_full_probe(spark):
    """nprobe = n_cells probes every cell, so ivf_top_k must equal the
    exact brute-force top-k; at nprobe=1 results come only from the
    query's own best cell."""
    from osm_wikidata_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    queries = vecs.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )
    centroids = [[1.0 if j == c else 0.0 for j in range(8)] for c in range(4)]
    exact = {
        (r["query_id"], r["vec_id"]): r["cos"]
        for r in similarity.brute_force_top_k(vecs, queries, k=5).collect()
    }
    full = {
        (r["query_id"], r["vec_id"]): r["cos"]
        for r in similarity.ivf_top_k(vecs, queries, centroids, k=5, nprobe=4).collect()
    }
    assert full == exact
    partial = similarity.ivf_top_k(vecs, queries, centroids, k=5, nprobe=1).collect()
    assert 0 < len(partial) <= 15  # at most k per query, only one cell probed


def test_lsh_signatures_null_safe(spark):
    """Null embeddings get no buckets (unfindable) instead of failing the
    task; valid rows in the same batch keep their normal signatures."""
    from osm_wikidata_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.5]), (2, None), (3, [0.2, -0.4])],
        "vec_id bigint, embedding array<double>",
    )
    pairs = similarity.cosine_near_dup_pairs_lsh(
        vecs, threshold=-1.0, n_planes=2, n_tables=4
    ).collect()
    ids = {r["left_id"] for r in pairs} | {r["right_id"] for r in pairs}
    assert 2 not in ids  # null vector bucketed nowhere


def test_lsh_signatures_batch_independent(spark):
    """A vector's buckets are a pure function of its own values: a short
    vector sharing an Arrow batch with longer ones gets the same
    signatures it gets alone (each length group is signed with the plane
    matrix for its own length), and the length rides in the key so
    different-length vectors can never bucket-collide."""
    from osm_wikidata_spark.operators import similarity

    def sigs(rows):
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        return {
            r["vec_id"]: r["s"]
            for r in df.coalesce(1)
            .select(
                "vec_id",
                similarity.hyperplane_signatures(
                    F.col("embedding"), n_planes=4, n_tables=2
                ).alias("s"),
            )
            .collect()
        }

    short = (1, [0.3, -0.7])
    longer = (2, [0.1, 0.2, 0.3, 0.4, 0.5])
    mixed = sigs([short, longer])
    alone = sigs([short])
    assert mixed[1] == alone[1] != []          # batch composition irrelevant
    assert mixed[2] != []                       # longer row signed too
    assert not set(mixed[1]) & set(mixed[2])    # dim-in-key: no collisions
    # explicit-dim validation mode: off-dim rows are emptied
    df = spark.createDataFrame([short, longer], "vec_id bigint, embedding array<double>")
    strict = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id",
            similarity.hyperplane_signatures(
                F.col("embedding"), n_planes=4, n_tables=2, dim=2
            ).alias("s"),
        ).collect()
    }
    assert strict[1] == alone[1] and strict[2] == []


def test_duplicate_mapping_ignores_null_text(spark):
    from osm_wikidata_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, "x")],
        "doc_id bigint, text string",
    )
    rows = dedup.duplicate_mapping(docs).collect()
    assert {r["doc_id"] for r in rows} == {3, 4}  # null texts never cluster


def test_near_dup_clusters_transitive(spark):
    """near_dup_clusters closes candidate pairs transitively: A~B and B~C
    cluster A,B,C together even though (A,C) is not a pair; canonical is
    the cluster minimum and singletons never appear."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (50, 40)],
        "left_id bigint, right_id bigint",
    )
    rows = {r["doc_id"]: r for r in dedup.near_dup_clusters(pairs).collect()}
    assert set(rows) == {10, 20, 30, 40, 50}
    assert all(rows[d]["canonical_id"] == 10 and rows[d]["cluster_size"] == 3
               for d in (10, 20, 30))
    assert all(rows[d]["canonical_id"] == 40 and rows[d]["cluster_size"] == 2
               for d in (40, 50))
    drop = sorted(d for d, r in rows.items() if d != r["canonical_id"])
    assert drop == [20, 30, 50]


def test_near_dup_clusters_end_to_end_jaccard(spark):
    """Composition with the exact Jaccard pair generator on the planted
    corpus: docs 1,2,3 form one near-dup cluster (1~2 exact, 2~3 near)."""
    pairs = dedup.ngram_jaccard_pairs(_docs(spark), shingle_n=3, threshold=0.5)
    rows = {r["doc_id"]: r for r in dedup.near_dup_clusters(pairs).collect()}
    assert set(rows) == {1, 2, 3}
    assert all(r["canonical_id"] == 1 and r["cluster_size"] == 3 for r in rows.values())


def test_bpe_pretoken_count_duckdb_parity(spark):
    """The lookahead-free GPT-2 pre-tokenizer pattern counts identically
    through Java regex (Spark) and RE2 (DuckDB) on adversarial strings —
    contractions, multi-space runs, unicode letters/digits, punct runs."""
    import duckdb

    from osm_wikidata_spark.operators.textstats import BPE_PRETOKEN_PATTERN

    texts = [
        "I don't think it's Bob's — he'll've left (won't he?)",
        "a  b   c\t\td\n\ne",
        "Hôpital №5, Кастелець 42nd!!! ...",
        "12345 67,890 3.14159",
        "", "   ", "word",
        "mixed𝟙unicode𝟚digits and ちゃんと日本語",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", textstats.word_token_count().alias("n")
        ).collect()
    }
    pat = BPE_PRETOKEN_PATTERN.replace("'", "''")
    con = duckdb.connect()
    want = {
        i: con.execute(
            "SELECT CAST(len(regexp_extract_all(?, '" + pat + "')) AS INTEGER)",
            [t],
        ).fetchone()[0]
        for i, t in enumerate(texts)
    }
    assert got == want


def test_kmeans_fit_recovers_planted_clusters(spark):
    """Lloyd's k-means recovers three well-separated planted clusters and
    the fitted codebook drives ivf_assign to the planted partition."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    rows = []
    truth = {}
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.1, 4)
        rows.append((i, [float(x) for x in v]))
        truth[i] = c
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    cb = similarity.kmeans_fit(vecs, k=3, n_iter=8, seed=1)
    assert len(cb) == 3 and len(cb[0]) == 4
    # each fitted centroid sits on exactly one planted center
    fitted_to_planted = [int(np.argmax([np.dot(c, p) for p in centers])) for c in cb]
    assert sorted(fitted_to_planted) == [0, 1, 2]

    got = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_assign(vecs, cb).collect()
    }
    # assignment must reproduce the planted partition (modulo label names)
    relabel = {}
    for vid, cell in got.items():
        relabel.setdefault(cell, truth[vid])
        assert relabel[cell] == truth[vid]
    assert len(relabel) == 3


def test_kmeans_fit_persist_matches_default(spark):
    """persist=True (cache the projected vectors across Lloyd iterations
    instead of re-reading the source n_iter+1 times) is a pure execution
    hint: same codebook, and nothing stays cached afterwards."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, 4)]) for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    cb0 = similarity.kmeans_fit(vecs, k=3, n_iter=5, seed=2)
    cb1 = similarity.kmeans_fit(vecs, k=3, n_iter=5, seed=2, persist=True)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert np.allclose(np.asarray(cb0), np.asarray(cb1))
    assert after <= before  # kmeans_fit unpersisted its own cache


def test_kmeans_fit_null_ragged_and_empty_cells(spark):
    """Null / dimension-mismatched vectors are ignored; a k larger than
    the separable structure leaves empty cells that keep their previous
    centroid instead of producing NaNs."""
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.99, 0.0]),
            (4, None), (5, [1.0, 0.0, 0.0])]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = similarity.kmeans_fit(vecs, k=3, n_iter=4, seed=0)
    assert len(cb) == 3
    assert all(all(x == x for x in c) for c in cb)  # no NaN anywhere


def test_kmeans_fit_dim_is_partitioning_invariant(spark):
    """The inferred dim is the MODE of observed vector lengths, not
    whatever row a first() probe happens to deliver — a corrupt short
    vector must never hijack the dim and discard the real corpus, on any
    partitioning."""
    rows = [(0, [9.0])] + [
        (i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(1, 40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    for df in (vecs, vecs.repartition(1), vecs.repartition(13)):
        cb = similarity.kmeans_fit(df, k=2, n_iter=2, seed=0)
        assert all(len(c) == 3 for c in cb)  # majority dim won
    # explicit dim overrides inference entirely
    cb = similarity.kmeans_fit(vecs, k=1, n_iter=1, seed=0, dim=1)
    assert cb == [[9.0]]


def test_hash_sampling_partitioning_invariant(spark):
    """The content-hash sample is a pure function of the data: identical
    row sets at different partitionings (df.sample is not), and the rate
    lands near the target."""
    from osm_wikidata_spark.operators import sampling

    docs = spark.range(0, 20000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in sampling.sample_rows(docs, ["doc_id"], 0.1).collect()}
    b = {
        r["doc_id"]
        for r in sampling.sample_rows(docs.repartition(17), ["doc_id"], 0.1).collect()
    }
    assert a == b
    assert 0.08 * 20000 < len(a) < 0.12 * 20000


def test_hash_key_null_positions_distinct(spark):
    """NULL key columns are encoded, not skipped: ('a', NULL) vs
    (NULL, 'a') and ('a', NULL, 'b') vs ('a', 'b', NULL) hash
    differently, and a fully non-null key's hash is unchanged by the
    encoding (md5 of the plain \\x1f join)."""
    import hashlib

    from osm_wikidata_spark.operators import sampling

    df = spark.createDataFrame(
        [
            (1, "a", None, None),
            (2, None, "a", None),
            (3, "a", None, "b"),
            (4, "a", "b", None),
            (5, "a", "b", "c"),
        ],
        "id bigint, x string, y string, z string",
    )
    rows = {
        r["id"]: r["h"]
        for r in df.select("id", sampling.hash_key(["x", "y", "z"]).alias("h")).collect()
    }
    assert len(set(rows.values())) == 5  # all five keys distinct
    expected = hashlib.md5("a\x1fb\x1fc".encode()).hexdigest()[:8]
    assert rows[5] == expected  # non-null hashes unchanged


def test_hash_sampling_consistent_across_tables(spark):
    """Sampling two tables by the same key keeps their join consistent:
    every key sampled at the lower rate is in the higher-rate sample."""
    from osm_wikidata_spark.operators import sampling

    docs = spark.range(0, 5000).select(F.col("id").alias("k"))
    at_05 = {r["k"] for r in sampling.sample_rows(docs, ["k"], 0.05).collect()}
    at_20 = {r["k"] for r in sampling.sample_rows(docs, ["k"], 0.20).collect()}
    assert at_05 <= at_20


def test_stratified_pair_sampling_rates(spark):
    """Per-stratum rates are respected; unknown strata fall to the default
    and a 0.0 default drops them entirely."""
    from osm_wikidata_spark.operators import sampling

    rows = [(i, i + 1, ["rare", "bulk", "other"][i % 3]) for i in range(30000)]
    edges = spark.createDataFrame(rows, "left_id bigint, right_id bigint, kind string")
    got = sampling.sample_pairs_stratified(
        edges, {"rare": 0.5, "bulk": 0.01}, default_rate=0.0
    ).groupBy("kind").count().collect()
    by_kind = {r["kind"]: r["count"] for r in got}
    assert "other" not in by_kind            # default 0.0 drops the stratum
    assert 0.45 * 10000 < by_kind["rare"] < 0.55 * 10000
    assert 0.005 * 10000 < by_kind["bulk"] < 0.02 * 10000


def test_contamination_flags_exact_ngram_overlap(spark):
    """A training doc sharing an exact 3-gram with an eval doc is flagged
    with the right hit counts; non-overlapping docs are absent."""
    from osm_wikidata_spark.operators import contamination

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated training text here"),
            (3, "quick brown fox appears once more in this doc"),
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(100, "a quick brown fox story"), (101, "the lazy dog sleeps")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["n_eval_docs"])
        for r in contamination.contaminated_docs(train, ev, shingle_n=3).collect()
    }
    # doc 1 shares "quick brown fox" (eval 100) and "the lazy dog" (eval 101)
    assert got[1] == (2, 2)
    # doc 3 shares only "quick brown fox"
    assert got[3] == (1, 1)
    assert 2 not in got


def test_contamination_short_doc_exact_only(spark):
    """Docs shorter than the shingle emit one sub-length shingle and can
    only collide with an identical short eval doc."""
    from osm_wikidata_spark.operators import contamination

    train = spark.createDataFrame(
        [(1, "tiny doc"), (2, "other tiny")], "doc_id bigint, text string"
    )
    ev = spark.createDataFrame([(9, "tiny doc")], "doc_id bigint, text string")
    got = contamination.contaminated_docs(train, ev, shingle_n=8).collect()
    assert [(r["doc_id"], r["n_hits"]) for r in got] == [(1, 1)]


def test_repetition_stats_hand_computed(spark):
    """Pin every signal on a document small enough to verify by hand."""
    from osm_wikidata_spark.operators import quality

    # 3 lines, one duplicated; normalised text = "a b a b a b c d"
    text = "a b\na b\na b c d"
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    row = quality.repetition_stats(
        docs, top_ngram_ns=(2,), dup_ngram_ns=(3,)
    ).collect()[0]
    # lines: "a b" x2 (dup), "a b c d" x1 -> 2/3 lines, 6/13 chars
    assert row["dup_line_frac"] == round(2 / 3, 6)
    assert row["dup_line_char_frac"] == round(6 / 13, 6)
    # 2-grams of [a b a b a b c d]: "a b" x3, "b a" x2, "b c", "c d";
    # top = "a b" -> 3*3=9 chars of 15 normalised chars
    assert row["top_2gram_frac"] == round(9 / 15, 6)
    # 3-grams: "a b a" x2, "b a b" x2, "a b c", "b c d" -> dup chars 4*5=20
    assert row["dup_3gram_frac"] == round(20 / 15, 6)


def test_repetition_stats_no_repetition_and_empty(spark):
    from osm_wikidata_spark.operators import quality

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "")], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in quality.repetition_stats(
            docs, top_ngram_ns=(2,), dup_ngram_ns=(5,)
        ).collect()
    }
    assert got[1]["dup_line_frac"] == 0.0
    assert got[1]["dup_5gram_frac"] == 0.0
    # top 2-gram of unique text still covers chars: "alpha beta" 10/16
    assert got[1]["top_2gram_frac"] == round(10 / 16, 6)
    # empty doc: every signal coalesces to 0.0, row is present
    assert all(v == 0.0 for k, v in got[2].items() if k != "doc_id")


def test_repetition_stats_sublength_null_and_cross_doc_isolation(spark):
    """r06 numpy-kernel pins: (1) a doc shorter than n words contributes
    its single sub-length gram (count 1, glen = all chars) exactly like
    the JVM slice semantics; (2) null text yields an all-zero row;
    (3) identical word runs in DIFFERENT docs of one Arrow batch must
    not merge (the kernel keys runs on (doc, gram), and a window
    crossing a doc boundary is discarded)."""
    from osm_wikidata_spark.operators import quality

    docs = spark.createDataFrame(
        [
            (1, "x y"),          # 2 words < n=3: sub-length gram "x y"
            (2, None),           # null text
            (3, "p q r p q r"),  # dup 3-gram "p q r" x2 within doc
            (4, "p q r s t u"),  # same prefix words, no dup in doc 4
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in quality.repetition_stats(
            docs, top_ngram_ns=(3,), dup_ngram_ns=(3,)
        ).collect()
    }
    # doc 1: one sub-length gram covering all 3 normalised chars
    assert got[1]["top_3gram_frac"] == 1.0
    assert got[1]["dup_3gram_frac"] == 0.0
    # doc 2: all-zero row, present
    assert all(v == 0.0 for k, v in got[2].items() if k != "doc_id")
    # doc 3: "p q r" count 2 (plus boundary-straddling grams once each):
    # top = 2*5=10 chars of 11; dup = 10/11
    assert got[3]["top_3gram_frac"] == round(10 / 11, 6)
    assert got[3]["dup_3gram_frac"] == round(10 / 11, 6)
    # doc 4 shares "p q r" with doc 3 but has no within-doc duplicate:
    # a cross-doc merge would show up here
    assert got[4]["dup_3gram_frac"] == 0.0
    assert got[4]["top_3gram_frac"] == round(5 / 11, 6)


def test_pii_counts_and_redaction(spark):
    from osm_wikidata_spark.operators import pii

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d+x@e.org, ip 10.0.0.1, call 415-555-0199"),
            (2, "see https://x.org/p?u=a@b.co then +4915112345678"),
            (3, "clean text"),
        ],
        "doc_id bigint, text string",
    )
    counts = {r["doc_id"]: r.asDict() for r in pii.pii_counts(docs).collect()}
    assert counts[1]["n_emails"] == 2
    assert counts[1]["n_ipv4"] == 1
    assert counts[1]["n_phones"] == 1
    assert counts[1]["n_pii"] == 4
    assert counts[2]["n_urls"] == 1
    assert counts[3]["n_pii"] == 0 and counts[3]["n_urls"] == 0

    red = {r["doc_id"]: r["text"] for r in pii.redact_pii(docs).collect()}
    assert red[1] == "mail <EMAIL> and <EMAIL>, ip <IP>, call <PHONE>"
    # URL pass runs first: the embedded email is swallowed by <URL>
    assert red[2] == "see <URL> then <PHONE>"
    assert red[3] == "clean text"


def test_sample_rows_by_rate_monotone_and_accurate(spark):
    """Per-row-rate sampling: survivors at a lower rate are a subset of
    survivors at a higher rate (staged re-rating reproducibility), and
    realised rates track requested rates."""
    from osm_wikidata_spark.operators import sampling

    docs = spark.range(0, 20000).select(F.col("id").alias("k"))
    lo = docs.withColumn("rate", F.lit(0.1))
    hi = docs.withColumn("rate", F.lit(0.4))
    kept_lo = {r["k"] for r in sampling.sample_rows_by_rate(lo, ["k"], "rate").collect()}
    kept_hi = {r["k"] for r in sampling.sample_rows_by_rate(hi, ["k"], "rate").collect()}
    assert kept_lo <= kept_hi
    assert 0.08 * 20000 < len(kept_lo) < 0.12 * 20000
    assert 0.37 * 20000 < len(kept_hi) < 0.43 * 20000


def test_sample_rows_by_rate_edge_rates(spark):
    from osm_wikidata_spark.operators import sampling

    docs = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 30, F.lit(1.0))
        .when(F.col("id") < 60, F.lit(0.0))
        .when(F.col("id") < 80, F.lit(None).cast("double"))
        .otherwise(F.lit(2.5))
        .alias("rate"),
    )
    kept = {r["k"] for r in sampling.sample_rows_by_rate(docs, ["k"], "rate").collect()}
    # rate>=1 keeps all, 0/null drop all
    assert kept == set(range(30)) | set(range(80, 100))


def test_pack_sequences_concat_and_chunk(spark):
    """Placement equals a sequential concat-and-chunk replay."""
    from osm_wikidata_spark.operators import packing

    rows = [(i, "g1" if i % 2 == 0 else "g2", (i * 7) % 40 + 1) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, n_tokens int")
    got = {
        r["doc_id"]: (r["start_offset"], r["seq_id"], r["seq_offset"])
        for r in packing.pack_sequences(docs, 64, group_col="source").collect()
    }
    # sequential replay per group in doc_id order
    for grp in ("g1", "g2"):
        offset = 0
        for i, g, n in sorted(rows):
            if g != grp:
                continue
            assert got[i] == (offset, offset // 64, offset % 64)
            offset += n


def test_pack_sequences_global_and_edges(spark):
    import warnings

    from osm_wikidata_spark.operators import packing
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, 100), (2, 0), (3, 30)], "doc_id bigint, n_tokens int"
    )
    # group_col=None packs one global stream via the distributed two-pass
    # prefix sum — no warning (and single_stream_ok stays accepted)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        packed = packing.pack_sequences(docs, 64)
        packing.pack_sequences(docs, 64, single_stream_ok=True)
    got = {
        r["doc_id"]: (r["start_offset"], r["seq_id"], r["seq_offset"])
        for r in packed.collect()
    }
    # doc 1 spans seqs 0-1; zero-token doc 2 occupies no stream space
    assert got[1] == (0, 0, 0)
    assert got[2] == (100, 1, 36)
    assert got[3] == (100, 1, 36)
    with _pytest.raises(ValueError):
        packing.pack_sequences(docs, 0)


def test_pack_sequences_global_is_distributed_and_exact(spark):
    """The global stream path must (a) window the full input PARTITIONED
    by the range-segment id — the scale marker that no unpartitioned
    window sees the corpus (the input reaches the windows through the
    checkpointed range exchange, so the plan shows the _pack_pid window
    over an ExistingRDD scan) — and (b) produce exactly the single-window
    answer (simulated with a constant group column)."""
    import re as _re

    from osm_wikidata_spark.operators import packing

    docs = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 90).alias("n_tokens"),  # includes zeros
    )
    global_packed = packing.pack_sequences(docs, 256)
    plan = global_packed._jdf.queryExecution().executedPlan().toString()
    # the per-row running-sum window is partitioned by the segment id
    # (partition spec "windowspecdefinition(_pack_pid#N, ..." — vs the
    # tiny totals window, which only ORDERS by it: "_pack_pid#N ASC")
    assert _re.search(r"windowspecdefinition\(_pack_pid#\d+,", plan)
    # and the corpus arrives pre-partitioned via the checkpointed range
    # exchange, not an in-plan global sort
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan

    single = packing.pack_sequences(
        docs.withColumn("g", F.lit("all")), 256, group_col="g"
    )
    a = {
        (r["doc_id"], r["start_offset"], r["seq_id"], r["seq_offset"])
        for r in global_packed.collect()
    }
    b = {
        (r["doc_id"], r["start_offset"], r["seq_id"], r["seq_offset"])
        for r in single.collect()
    }
    assert a == b
    # partition-count independence: same values under a different
    # shuffle-partition setting
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        c = {
            (r["doc_id"], r["start_offset"], r["seq_id"], r["seq_offset"])
            for r in packing.pack_sequences(docs, 256).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == c


def test_pack_sequences_partitioning_invariant(spark):
    """Placement is a pure function of the data — identical after an
    arbitrary repartition (the determinism the oracle relies on)."""
    from osm_wikidata_spark.operators import packing

    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("source"),
        ((F.col("id") * 13) % 50 + 1).alias("n_tokens"),
    )
    a = {
        (r["doc_id"], r["seq_id"], r["seq_offset"])
        for r in packing.pack_sequences(docs, 128, group_col="source").collect()
    }
    b = {
        (r["doc_id"], r["seq_id"], r["seq_offset"])
        for r in packing.pack_sequences(
            docs.repartition(17, "n_tokens"), 128, group_col="source"
        ).collect()
    }
    assert a == b


def test_duplicate_spans_planted_cross_doc(spark):
    """Two docs sharing a 10-word span at compatible stride alignment:
    flagged windows merge into exactly the shared span."""
    from osm_wikidata_spark.operators import spans

    common = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    docs = spark.createDataFrame(
        [
            (1, f"u1 u2 u3 u4 {common} v1 v2"),   # common at words 5..14
            (2, f"w1 w2 {common}"),               # common at words 3..12
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in spans.duplicate_spans(docs, window=4, stride=2).collect()
    }
    # doc1 flagged starts 5,7,9,11 (texts equal doc2's 3,5,7,9)
    assert got[1] == (5, 14, 4)
    assert got[2] == (3, 12, 4)


def test_duplicate_spans_within_doc_and_short_doc(spark):
    from osm_wikidata_spark.operators import spans

    common = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    docs = spark.createDataFrame(
        [
            (1, f"{common} {common}"),  # self-repeat, aligned at stride 2
            (2, "too short"),           # < window words: no rows at all
        ],
        "doc_id bigint, text string",
    )
    got = spans.duplicate_spans(docs, window=4, stride=2).collect()
    assert len(got) == 1
    r = got[0]
    # flagged starts 1,3,5,7 and 11,13,15,17; the two runs are adjacent
    # (end 10, start 11) and merge into one maximal span
    assert (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"]) == (
        1, 1, 20, 8,
    )


def test_duplicate_spans_misaligned_copies(spark):
    """Copies whose start positions differ mod stride are still flagged:
    the count side keys every position (stride 1), so the probe windows
    inside each copy find their texts repeated regardless of alignment.
    (Round-4 behaviour counted only lattice positions and missed these.)"""
    from osm_wikidata_spark.operators import spans

    common = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    docs = spark.createDataFrame(
        [
            (1, f"u1 u2 u3 u4 {common} v1 v2"),  # common at words 5..14 (odd start)
            (2, f"w1 w2 w3 {common}"),            # common at words 4..13 (even start)
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in spans.duplicate_spans(docs, window=4, stride=2).collect()
    }
    # doc1 probe lattice (odd) inside the span: 5,7,9,11 -> full extent
    assert got[1] == (5, 14, 4)
    # doc2 probe lattice inside the span: 5,7,9 -> stride-granular extent
    # (4..13 true span, reported 5..12); previously doc2 emitted NOTHING
    assert got[2] == (5, 12, 3)


def test_duplicate_spans_no_duplicates(spark):
    from osm_wikidata_spark.operators import spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "p q r s t u v w")],
        "doc_id bigint, text string",
    )
    assert spans.duplicate_spans(docs, window=4, stride=2).count() == 0


def test_mixture_sample_proportions(spark):
    """Output strata follow the target mixture; binding stratum keeps
    (nearly) everything; off-recipe strata are dropped."""
    from osm_wikidata_spark.operators import sampling

    docs = spark.range(0, 40000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "web")
        .when(F.col("id") % 4 == 1, "books")
        .when(F.col("id") % 4 == 2, "code")
        .otherwise("junk")
        .alias("source"),
    )
    # 10k rows per stratum; weights 2:1:1 -> web binds: cap = 10k/0.5 = 20k
    got = (
        sampling.mixture_sample(docs, {"web": 2.0, "books": 1.0, "code": 1.0})
        .groupBy("source")
        .count()
        .collect()
    )
    by = {r["source"]: r["count"] for r in got}
    assert "junk" not in by
    assert by["web"] == 10000                       # rate 1.0 exactly
    assert 0.45 * 10000 < by["books"] < 0.55 * 10000  # rate 0.5
    assert 0.45 * 10000 < by["code"] < 0.55 * 10000


def test_mixture_sample_edges(spark):
    from osm_wikidata_spark.operators import sampling
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id bigint, source string"
    )
    # a target stratum absent from the data -> capacity 0 -> empty, not skewed
    assert (
        sampling.mixture_sample(docs, {"a": 1.0, "missing": 1.0}).count() == 0
    )
    with _pytest.raises(ValueError):
        sampling.mixture_sample(docs, {"a": 0.0})
    with _pytest.raises(ValueError):
        sampling.mixture_sample(docs, {})


# ------------------------------------------------------- boilerplate ops

def test_line_dedup_planted(spark):
    from osm_wikidata_spark.operators import boilerplate

    df = spark.createDataFrame(
        [
            (1, "alpha beta\nSubscribe Now\nkeep one"),
            (2, "subscribe  now\nunique line two"),
            (3, "subscribe now"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in boilerplate.line_dedup(df, min_docs=3).collect()}
    # case/whitespace-folded 'subscribe now' occurs in 3 distinct docs
    assert out[1]["text"] == "alpha beta\nkeep one"
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines_removed"] == 1
    assert out[2]["text"] == "unique line two"
    # a fully-boilerplate doc survives, emptied — not dropped
    assert out[3]["text"] == "" and out[3]["n_lines_kept"] == 0
    assert out[3]["n_lines_removed"] == 1


def test_line_dedup_intradoc_repeats_dont_count(spark):
    from osm_wikidata_spark.operators import boilerplate

    df = spark.createDataFrame(
        [(1, "x y\nx y\nx y"), (2, "other thing")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: r["n_lines_removed"]
        for r in boilerplate.line_dedup(df, min_docs=2).collect()
    }
    # doc-frequency of 'x y' is 1 (distinct docs), so nothing is removed
    assert out[1] == 0 and out[2] == 0


def test_line_dedup_null_text_keeps_contract_row(spark):
    """One row per INPUT document: split(NULL) explodes to zero rows
    under plain posexplode, which silently dropped null-text docs from
    the output (and from curate() downstream, with no lineage row)."""
    from osm_wikidata_spark.operators import boilerplate

    df = spark.createDataFrame(
        [(1, "real line one\nshared"), (2, "shared"), (3, None)],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in boilerplate.line_dedup(df, min_docs=2).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3]["text"] == ""
    assert out[3]["n_lines_kept"] == 0 and out[3]["n_lines_removed"] == 0


def test_c4_null_text_rejected_not_null(spark):
    from osm_wikidata_spark.operators import boilerplate

    df = spark.createDataFrame([(1, None)], "doc_id bigint, text string")
    out = boilerplate.c4_line_filters(df).collect()[0]
    assert out["keep_doc"] is False  # explicit reject, not NULL


def test_c4_line_filters_planted(spark):
    from osm_wikidata_spark.operators import boilerplate

    df = spark.createDataFrame(
        [
            (1, "one two three four five.\nshort line.\nno terminal punct here at all\nsix seven eight nine ten!"),
            (2, "lorem Ipsum something. a b c d e. f g h i j. k l m n o."),
            (3, "braces { here maybe. one two three four five."),
            (4, "only one sentence here ok."),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in boilerplate.c4_line_filters(df).collect()}
    # line rule: terminal punct AND >= 5 words
    assert out[1]["text"] == "one two three four five.\nsix seven eight nine ten!"
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines_dropped"] == 2
    assert out[1]["n_sentences"] == 3 and out[1]["keep_doc"] is True
    # doc rules fire case-insensitively / on the ORIGINAL text
    assert out[2]["has_lorem_ipsum"] is True and out[2]["keep_doc"] is False
    assert out[3]["has_curly_brace"] is True and out[3]["keep_doc"] is False
    assert out[4]["n_sentences"] == 1 and out[4]["keep_doc"] is False


def test_render_conversations(spark):
    from osm_wikidata_spark.operators import boilerplate

    rows = [
        ("c1", 0, "user", "hello there", None, None),
        ("c1", 1, "assistant", "hi", "search", None),
        ("c1", 2, "user", "bye", None, None),
        ("c2", 0, "user", "a b c d e f g h i j", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = {r["conv_id"]: r for r in boilerplate.render_conversations(df).collect()}
    assert (
        out["c1"]["text"]
        == "<|user|>\nhello there\n<|assistant tool=search|>\nhi\n<|user|>\nbye"
    )
    assert out["c1"]["n_turns"] == 3 == out["c1"]["n_turns_kept"]
    # turn tokens: 3 ('<|user|>' hello there) + 3 + 2
    assert out["c1"]["n_tokens"] == 8
    assert out["c2"]["n_tokens"] == 11

    budget = {
        r["conv_id"]: r
        for r in boilerplate.render_conversations(df, token_budget=6).collect()
    }
    # whole-turn truncation: turns 0+1 fit (6 tokens), turn 2 would be 8
    assert budget["c1"]["n_turns_kept"] == 2 and budget["c1"]["n_tokens"] == 6
    assert budget["c1"]["text"].endswith("hi")
    assert budget["c1"]["n_turns"] == 3
    # first turn alone exceeds the budget -> empty render, row retained
    assert budget["c2"]["n_turns_kept"] == 0 and budget["c2"]["text"] == ""


def test_conversation_qa_planted(spark):
    from osm_wikidata_spark.operators import conversations

    rows = [
        # clean conversation
        ("ok", 0, "user", "hi", None),
        ("ok", 1, "assistant", "hello", "search"),
        ("ok", 2, "user", "thanks", None),
        # every failure mode at once
        ("bad", 0, "assistant", "greetings", None),   # starts with assistant
        ("bad", 1, "assistant", "greetings", None),   # same role + stutter
        ("bad", 3, "user", "   ", "oops"),            # gap, blank, tool on user
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    out = {r["conv_id"]: r for r in conversations.conversation_qa(df).collect()}
    ok = out["ok"]
    assert ok["keep_conv"] is True and ok["n_turns"] == 3
    assert ok["idx_contiguous"] and ok["roles_alternate"] and ok["starts_with_user"]
    bad = out["bad"]
    assert bad["keep_conv"] is False
    assert bad["idx_contiguous"] is False          # 0,1,3
    assert bad["roles_alternate"] is False         # assistant,assistant
    assert bad["starts_with_user"] is False
    assert bad["n_empty_turns"] == 1
    assert bad["n_stutter_turns"] == 1
    assert bad["n_bad_tool_turns"] == 1


def test_conversation_qa_null_role_midstream(spark):
    """starts_with_user keys on the FIRST turn's role by position: a
    mid-stream NULL role makes the next turn's lag('role') NULL too, so
    the old prev_role-nullability test let an assistant-first
    conversation report starts_with_user=true via a post-NULL 'user'
    turn."""
    from osm_wikidata_spark.operators import conversations

    rows = [
        ("c", 0, "assistant", "greetings", None),
        ("c", 1, None, "???", None),       # NULL role mid-stream
        ("c", 2, "user", "hi", None),      # lag(role) is NULL here too
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    out = conversations.conversation_qa(df).collect()[0]
    assert out["starts_with_user"] is False
    assert out["keep_conv"] is False


def test_conversation_qa_null_text_counts_as_empty(spark):
    """A NULL-text turn is contentless: it must count into n_empty_turns
    (trim(NULL)='' is NULL, which count_if would silently skip) so the
    conversation fails keep_conv instead of flowing into rendering."""
    from osm_wikidata_spark.operators import conversations

    rows = [
        ("c", 0, "user", "hi", None),
        ("c", 1, "assistant", None, None),
        ("c", 2, "user", "still there?", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    out = conversations.conversation_qa(df).collect()[0]
    assert out["n_empty_turns"] == 1
    assert out["keep_conv"] is False


def test_canned_turns(spark):
    from osm_wikidata_spark.operators import conversations

    rows = []
    for c in range(6):
        rows.append((f"c{c}", 0, "user", "Hello   how can I help" if c % 2 else "hello how can i help", None))
        rows.append((f"c{c}", 1, "assistant", f"unique reply {c}", None))
    # intra-conversation stutter must not promote a turn
    rows += [("c9", 0, "user", "looped line", None)] + [
        ("c9", i, "user", "looped line", None) for i in (1, 2, 3)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    got = {
        r["norm_text"]: r["n_convs"]
        for r in conversations.canned_turns(df, min_convs=5).collect()
    }
    # two spellings fold to one canned greeting across 6 conversations
    assert got == {"hello how can i help": 6}


def test_assign_splits(spark):
    from osm_wikidata_spark.operators import sampling
    import pytest as _pytest

    df = spark.range(20000).select(F.col("id").alias("doc_id"))
    out = sampling.assign_splits(
        df, ["doc_id"], {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    by = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(by) == {"train", "val", "test"}
    assert 0.88 * 20000 < by["train"] < 0.92 * 20000
    assert 0.035 * 20000 < by["val"] < 0.065 * 20000
    assert 0.035 * 20000 < by["test"] < 0.065 * 20000
    # stability under growth: the first 20k keep their split inside 50k
    bigger = sampling.assign_splits(
        spark.range(50000).select(F.col("id").alias("doc_id")),
        ["doc_id"],
        {"train": 0.9, "val": 0.05, "test": 0.05},
    ).filter(F.col("doc_id") < 20000)
    assert out.exceptAll(bigger).count() == 0
    with _pytest.raises(ValueError):
        sampling.assign_splits(df, ["doc_id"], {"train": 0.9, "val": 0.05})
    with _pytest.raises(ValueError):
        sampling.assign_splits(df, ["doc_id"], {"train": 1.5, "val": -0.5})


# ----------------------------------------------------- LM quality scoring


def test_unigram_model_distribution(spark):
    """Counts and smoothed logprobs on a hand-countable corpus: model
    probabilities plus the OOV class form a proper distribution."""
    import math

    from osm_wikidata_spark.operators import lm_quality

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    # T=5 tokens, V=3 vocab -> denominator 9
    model = {r["token"]: r for r in lm_quality.unigram_model(df).collect()}
    assert {t: r["n"] for t, r in model.items()} == {"a": 3, "b": 1, "c": 1}
    assert model["a"]["logprob"] == round(math.log(4 / 9), 6)
    assert model["b"]["logprob"] == round(math.log(2 / 9), 6)
    # probability mass: 4/9 + 2/9 + 2/9 + OOV 1/9 = 1
    oov = lm_quality.oov_logprob(lm_quality.unigram_model(df)).collect()[0]
    assert oov["oov_logprob"] == round(math.log(1 / 9), 6)


def test_doc_perplexity_oov_and_empty(spark):
    """Scoring against a model from a DIFFERENT corpus: all-OOV docs get
    exactly the OOV perplexity, token-free docs keep a null-score row."""
    import math

    from osm_wikidata_spark.operators import lm_quality

    trusted = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    model = lm_quality.unigram_model(trusted)
    target = spark.createDataFrame(
        [(10, "zz yy"), (11, "a a"), (12, "   ")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in lm_quality.doc_perplexity(target, model).collect()}
    oov_lp = round(math.log(1 / 9), 6)
    assert out[10]["n_tokens"] == 2
    assert out[10]["avg_logprob"] == oov_lp
    assert out[10]["perplexity"] == round(math.exp(-oov_lp), 6)
    # in-vocab doc is less perplexing than the all-OOV doc
    assert out[11]["perplexity"] < out[10]["perplexity"]
    assert out[12]["n_tokens"] == 0
    assert out[12]["avg_logprob"] is None and out[12]["perplexity"] is None
    # persist=True (one cache across the model's two consumers) is
    # value-identical; caller owns the cache entry
    out_p = {
        r["doc_id"]: r
        for r in lm_quality.doc_perplexity(target, model, persist=True).collect()
    }
    assert {k: v.asDict() for k, v in out_p.items()} == {
        k: v.asDict() for k, v in out.items()
    }
    model.unpersist()


def test_vocab_top_k_tiebreak(spark):
    from osm_wikidata_spark.operators import lm_quality

    df = spark.createDataFrame(
        [(1, "b a"), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    rows = lm_quality.vocab_top_k(df, 2).orderBy("rank").collect()
    # a and b tie at n=2; lexicographic tie-break puts a first
    assert [(r["rank"], r["token"], r["n"], r["doc_freq"]) for r in rows] == [
        (1, "a", 2, 2),
        (2, "b", 2, 2),
    ]


# --------------------------------------------------------- output sharding


def test_assign_shards_permutation(spark):
    """Every row gets exactly one (shard, pos); positions are contiguous
    from 0 per shard; the assignment is a pure function of the key —
    identical under a different input partitioning."""
    import pytest as _pytest

    from osm_wikidata_spark.operators import sampling

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    out = sampling.assign_shards(df, ["doc_id"], 7)
    assert out.count() == 5000
    per = out.groupBy("shard").agg(
        F.count("*").alias("n"),
        F.min("shard_pos").alias("lo"),
        F.max("shard_pos").alias("hi"),
        F.count_distinct("shard_pos").alias("d"),
    ).collect()
    assert {r["shard"] for r in per} == set(range(7))
    for r in per:
        assert (r["lo"], r["hi"], r["d"]) == (0, r["n"] - 1, r["n"])
        # hash-uniform: no shard more than 40% off the mean
        assert abs(r["n"] - 5000 / 7) < 0.4 * 5000 / 7
    again = sampling.assign_shards(df.repartition(13), ["doc_id"], 7)
    assert out.exceptAll(again).count() == 0
    with _pytest.raises(ValueError):
        sampling.assign_shards(df, ["doc_id"], 0)


def test_stratified_take_exact_counts(spark):
    """Exactly min(k, stratum size) per stratum; the chosen subset is a
    pure function of content — stable under repartition and under corpus
    growth within each stratum's survivors."""
    import pytest as _pytest

    from osm_wikidata_spark.operators import sampling

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    # stratum s2 made tiny: only 4 rows
    df = df.filter((F.col("source") != "s2") | (F.col("doc_id") < 12))
    out = sampling.stratified_take(df, ["source"], ["doc_id"], 50)
    by = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert by == {"s0": 50, "s1": 50, "s2": 4}
    again = sampling.stratified_take(df.repartition(17), ["source"], ["doc_id"], 50)
    assert out.exceptAll(again).count() == 0
    with _pytest.raises(ValueError):
        sampling.stratified_take(df, ["source"], ["doc_id"], 0)


def test_semdedup_kernel_matches_join_fold_shape(spark):
    """r06 pin: the per-cell numpy pair kernel must reproduce the former
    cell-self-join + zip_with-fold verify EXACTLY — same surviving pairs,
    same rounded cosines — on a randomized corpus that includes a
    zero-norm vector (former try_divide NULL → dropped) and values near
    the threshold.  The reference is the old shape built inline from the
    same column expressions."""
    import random

    from osm_wikidata_spark.functions.arrow import apply_groups
    from osm_wikidata_spark.operators.similarity import (
        _norm_cosine,
        ivf_assign,
        l2_norm,
    )

    rng = random.Random(20260822)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(40)
    ]
    rows.append((40, [0.0] * 8))  # zero-norm: NULL cosine, must never pair
    # planted near-dups so the threshold actually bites
    base = rows[3][1]
    rows.append((41, [x * 1.01 for x in base]))
    rows.append((42, [x * 0.99 for x in base]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0 if j == c else 0.0 for j in range(8)] for c in range(2)]
    threshold = 0.6

    cells = (
        ivf_assign(vecs, cents)
        .filter(F.col("cell").isNotNull())
        .select(F.col("vec_id").alias("doc"), "cell")
    )
    candidates = (
        cells.select(F.col("doc").alias("left_id"), "cell")
        .join(cells.select(F.col("doc").alias("right_id"), "cell"), "cell")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
    )
    lv = vecs.select(
        F.col("vec_id").alias("left_id"),
        F.col("embedding").alias("lv"),
        l2_norm(F.col("embedding")).alias("ln"),
    )
    rv = vecs.select(
        F.col("vec_id").alias("right_id"),
        F.col("embedding").alias("rv"),
        l2_norm(F.col("embedding")).alias("rn"),
    )
    old_pairs = (
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
    kernel_pairs = (
        apply_groups(
            ivf_assign(vecs, cents)
            .filter(F.col("cell").isNotNull())
            .select(F.col("vec_id").alias("doc"), F.col("embedding").alias("_v"), "cell"),
            ["cell"],
            similarity._cell_pair_kernel(threshold),
            "left_id long, right_id long, cos double",
        )
        .select("left_id", "right_id", F.round("cos", 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
    a = sorted(map(tuple, old_pairs.collect()))
    b = sorted(map(tuple, kernel_pairs.collect()))
    assert a == b and len(a) > 0

    # tile-boundary pin: a 3-wide tile must tile-split this cell several
    # times and still emit the identical pair set
    tiled = (
        apply_groups(
            ivf_assign(vecs, cents)
            .filter(F.col("cell").isNotNull())
            .select(F.col("vec_id").alias("doc"), F.col("embedding").alias("_v"), "cell"),
            ["cell"],
            similarity._cell_pair_kernel(threshold, block=3),
            "left_id long, right_id long, cos double",
        )
        .select("left_id", "right_id", F.round("cos", 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
    c = sorted(map(tuple, tiled.collect()))
    assert a == c


def test_semdedup_planted_clusters(spark):
    """Within-cell semantic dups close transitively; cross-cell near-dups
    are invisible by design (the SemDeDup trade); null vectors never pair."""
    import pytest as _pytest

    from osm_wikidata_spark.operators import similarity

    # 2 one-hot cells over dim 4; vecs 1,2,3 land in cell 0 (chain of
    # near-dups), vec 4 in cell 1 alone, vec 5 malformed
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),   # cos(1,2) high
        (3, [0.97, 0.2, 0.0, 0.0]),   # cos(2,3) high — chain joins 1-2-3
        (4, [0.0, 1.0, 0.0, 0.0]),    # alone in cell 1
        (5, None),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = similarity.semdedup(vecs, cents, threshold=0.95)
    got = {(r["doc_id"], r["canonical_id"], r["cluster_size"]) for r in out.collect()}
    assert got == {(1, 1, 3), (2, 1, 3), (3, 1, 3)}

    # cell cap: cap cell 0 (3 members) at 2 -> dropped, observable
    seen = {}
    out2 = similarity.semdedup(
        vecs, cents, threshold=0.95, max_cell=2,
        dropped_sink=lambda d: seen.setdefault("d", d),
    )
    assert out2.count() == 0
    dropped = {(r["cell"], r["n"]) for r in seen["d"].collect()}
    assert dropped == {(0, 3)}


def test_semdedup_id_types_with_empty_cells(spark):
    """Every id type semdedup's signature admits survives the kernel's
    empty-output paths: a singleton cell (n < 2) and a cell whose pair
    misses the threshold.  String ids used to fail there, because the
    empty frame was hard-coded to int64."""
    for id_type, ids in (
        ("bigint", [1, 2, 3, 4, 5, 6]),
        ("int", [1, 2, 3, 4, 5, 6]),
        ("string", ["a", "b", "c", "d", "e", "f"]),
    ):
        vecs = spark.createDataFrame(
            list(
                zip(
                    ids,
                    [
                        [1.0, 0.0, 0.0],
                        [0.99, 0.1, 0.0],
                        [0.97, 0.2, 0.0],  # cell 0: chain 1-2-3
                        [0.0, 1.0, 0.0],  # cell 1: singleton
                        [0.3, 0.0, 1.0],  # cell 2: cos 0.917, no pair
                        [0.0, 0.3, 1.0],
                    ],
                )
            ),
            f"vec_id {id_type}, embedding array<double>",
        )
        cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
        out = similarity.semdedup(vecs, cents, threshold=0.95)
        got = {(r["doc_id"], r["canonical_id"], r["cluster_size"]) for r in out.collect()}
        assert got == {(i, ids[0], 3) for i in ids[:3]}, id_type


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_semdedup_duplicate_id_fails_loudly(spark, id_type):
    """Two rows sharing an id in one cell would lose their pairs to the
    kernel's strict id orientation; the kernel raises, naming the id."""
    ids = [7, 3, 7] if id_type == "bigint" else ["g", "c", "g"]
    vecs = spark.createDataFrame(
        list(zip(ids, [[1.0, 0.0], [0.99, 0.1], [0.98, 0.12]])),
        f"vec_id {id_type}, embedding array<double>",
    )
    dup = "7" if id_type == "bigint" else "'g'"
    with pytest.raises(PythonException, match=f"duplicate id {dup} in cell 0"):
        similarity.semdedup(vecs, [[1.0, 0.0], [0.0, 1.0]], threshold=0.95).collect()


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """A doc sharing the target's vocabulary outscores one that shares
    nothing; weights are partitioning-invariant."""
    from osm_wikidata_spark.operators import importance

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "tgt"),
            (2, "the quick brown dog runs", "tgt"),
            (3, "quick brown fox jumps high", "raw"),  # target-like
            (4, "zyx wvu tsr qpo nml", "raw"),          # alien vocabulary
            (5, None, "raw"),                            # no grams -> no row
        ],
        "doc_id long, text string, source string",
    )
    target = docs.filter("source = 'tgt'")
    w = {r["doc_id"]: r["weight"] for r in
         importance.importance_weights(docs, target).collect()}
    assert set(w) == {1, 2, 3, 4}
    assert w[3] > w[4]
    again = {r["doc_id"]: r["weight"] for r in
             importance.importance_weights(docs.repartition(7), target).collect()}
    assert w == again


def test_dsir_select_gumbel_topk(spark):
    """Selection is exactly k, deterministic, and keys equal
    weight + content-hash Gumbel noise (recomputable row-by-row)."""
    import math

    import pytest as _pytest

    from osm_wikidata_spark.operators import importance

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common text tokens here", "s" + str(i % 2))
         for i in range(40)],
        "doc_id long, text string, source string",
    )
    target = docs.filter("source = 's0'")
    sel = importance.dsir_select(docs, target, k=10)
    rows = sel.collect()
    assert len(rows) == 10
    # key is recomputable from (weight, doc_id) with plain Python
    import hashlib

    for r in rows:
        u = (int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
             + 0.5) / 2**32
        assert abs(r["key"] - round(r["weight"] + -math.log(-math.log(u)), 6)) < 2e-6
    again = importance.dsir_select(docs.repartition(13), target, k=10)
    assert {r["doc_id"] for r in again.collect()} == {r["doc_id"] for r in rows}
    with _pytest.raises(ValueError):
        importance.dsir_select(docs, target, k=0)
    with _pytest.raises(ValueError):
        importance.importance_weights(docs, target, hex_chars=9)


def test_fuzzy_contamination_eval_containment(spark):
    """Containment is eval-sided: a long train doc that swallows a short
    eval doc whole scores 1.0 even though Jaccard is low; unrelated docs
    never flag; threshold is validated."""
    import pytest as _pytest

    from osm_wikidata_spark.operators import contamination

    train = spark.createDataFrame(
        [
            # contains all of eval doc 100's text + lots more
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # shares nothing
            (2, "one two three four five six"),
            # shares exactly one of eval-101's four 2-word... (3-grams): partial
            (3, "beta gamma delta unrelated tail words here"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon"), (101, "beta gamma delta zz yy xx")],
        "doc_id long, text string",
    )
    out = contamination.fuzzy_contaminated_docs(train, ev, threshold=0.5, shingle_n=3)
    got = {r["doc_id"]: (r["max_containment"], r["n_eval_docs"]) for r in out.collect()}
    # eval 100 has 3 distinct 3-grams, all inside train 1 -> containment 1.0
    assert got[1] == (1.0, 1)
    assert 2 not in got
    # train 3's best coverage is 1 of eval 100's 3 shingles = 0.333 < 0.5
    assert 3 not in got
    # at a lower threshold train 3 appears: max(1/3 vs eval 100, 1/4 vs
    # eval 101) = 0.333333, and it hits BOTH eval docs
    low = contamination.fuzzy_contaminated_docs(train, ev, threshold=0.2, shingle_n=3)
    got_low = {r["doc_id"]: (r["max_containment"], r["n_eval_docs"]) for r in low.collect()}
    assert got_low[3] == (0.333333, 2)
    with _pytest.raises(ValueError):
        contamination.fuzzy_contaminated_docs(train, ev, threshold=0.0)


def test_duplicate_spans_exact_keys_equals_hashed(spark):
    """exact_keys=True (literal-text window keys, the zero-false-positive
    mode) must produce exactly the hashed-key output at collision-free
    scale — pins that both key paths walk the same window lattice."""
    from osm_wikidata_spark.operators import spans

    boiler = "lorem ipsum dolor sit amet " * 4  # 20 words
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + boiler + "gamma delta"),
            (2, "unrelated prefix words here then " + boiler),
            (3, "no duplicated content in this document at all " * 2),
        ],
        "doc_id bigint, text string",
    )
    kw = dict(window=10, stride=3, min_count=2)
    hashed = {tuple(r) for r in spans.duplicate_spans(docs, **kw).collect()}
    exact = {
        tuple(r)
        for r in spans.duplicate_spans(docs, exact_keys=True, **kw).collect()
    }
    assert hashed == exact
    assert {r[0] for r in hashed} == {1, 2}  # both boilerplate docs flagged


def test_sample_pairs_stratified_null_stratum(spark):
    """NULL-kind rows sample under the null_stratum name: a rate keyed on
    'no_match' (the default sentinel) applies to them, and a custom
    sentinel routes them to ITS rate — NULL is never silently dropped by
    the map lookup (element_at on a NULL key would return NULL and the
    filter would drop every unmatched row regardless of default_rate)."""
    from osm_wikidata_spark.operators import sampling

    edges = spark.createDataFrame(
        [(i, i + 10_000, None if i % 2 else "good") for i in range(200)],
        "left_id long, right_id long, kind string",
    )
    # keep ALL null-kind rows, drop every 'good' row
    kept = sampling.sample_pairs_stratified(
        edges, {"no_match": 1.0, "good": 0.0}
    ).collect()
    assert len(kept) == 100 and all(r.kind is None for r in kept)
    # custom sentinel: the same rows route to the renamed stratum
    kept2 = sampling.sample_pairs_stratified(
        edges, {"unlabeled": 1.0, "good": 0.0}, null_stratum="unlabeled"
    ).collect()
    assert {(r.left_id, r.right_id) for r in kept2} == {
        (r.left_id, r.right_id) for r in kept
    }
    # default_rate applies when the sentinel has no explicit rate
    kept3 = sampling.sample_pairs_stratified(edges, {"good": 1.0}).collect()
    assert len(kept3) == 100 and all(r.kind == "good" for r in kept3)
