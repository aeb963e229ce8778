"""North-star string-similarity scores (operators/scoring.py).

The kernels are pinned two ways: a DuckDB differential fuzz (DuckDB's
native jaro/levenshtein implementations are an independent oracle —
byte-based, so the fuzz corpus is ASCII) and hand-worked textbook cases.
The Spark columns are then checked against the pure kernels.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from osm_wikidata_spark.operators.scoring import (
    idf_token_overlap,
    jaro,
    jaro_winkler,
    levenshtein_ratio,
    score_name_pairs,
    token_idf_dim,
    token_set_overlap,
)


# ------------------------------------------------------------- pure kernel


def test_jaro_winkler_textbook_cases():
    # Winkler's own canonical examples
    assert jaro("MARTHA", "MARHTA") == pytest.approx(0.944444444444)
    assert jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.961111111111)
    assert jaro_winkler("DWAYNE", "DUANE") == pytest.approx(0.84)
    assert jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.813333333333)


def test_jaro_edge_cases():
    assert jaro("", "") == 0.0  # DuckDB/RapidFuzz convention
    assert jaro("a", "") == 0.0
    assert jaro("a", "a") == 1.0
    # window = max(2)//2 - 1 = 0: no cross-position matches allowed
    assert jaro("ab", "ba") == 0.0
    # identical long strings
    assert jaro_winkler("abcdefgh", "abcdefgh") == 1.0


def test_winkler_boost_only_above_threshold():
    # common prefix but jaro <= 0.7: no boost (DuckDB-verified convention)
    s1, s2 = "abquick", "abzzzzz"
    assert jaro(s1, s2) <= 0.7
    assert jaro_winkler(s1, s2) == jaro(s1, s2)
    # above threshold: boost caps at 4 prefix chars
    j = jaro("prefixes", "prefixed")
    assert j > 0.7
    assert jaro_winkler("prefixes", "prefixed") == pytest.approx(
        j + 4 * 0.1 * (1 - j)
    )


def test_jaro_winkler_codepoint_level():
    # codepoints, not bytes: 'café'/'cafe' differ in ONE position of four
    assert jaro("café", "cafe") == pytest.approx((3 / 4 + 3 / 4 + 1) / 3)


def test_differential_fuzz_vs_duckdb():
    """22k ASCII cases vs DuckDB's independent implementation, exact."""
    con = duckdb.connect()
    rng = random.Random(42)
    alpha = "abcdefgh "
    cases = []
    for _ in range(20000):
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12)))
        if rng.random() < 0.3:
            b = a[: rng.randint(0, len(a))] + b
        cases.append((a, b))
    con.execute("CREATE TABLE c(a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO c VALUES (?, ?)", cases)
    got = con.execute(
        "SELECT jaro_winkler_similarity(a,b), jaro_similarity(a,b) FROM c"
    ).fetchall()
    for (a, b), (jw_d, j_d) in zip(cases, got):
        assert jaro_winkler(a, b) == pytest.approx(jw_d, abs=1e-12), (a, b)
        assert jaro(a, b) == pytest.approx(j_d, abs=1e-12), (a, b)


# ------------------------------------------------------------ Spark columns


def test_spark_scores_match_kernel(spark):
    rows = [
        (1, "goldenrod lavender spring", "goldenrod lavender spring"),
        (2, "martha stewart", "marhta stewart"),
        (3, "red lion inn", "blue boar tavern"),
        (4, "a b c", "c b a"),
        (5, "", "nonempty"),
        (6, "", ""),
        (7, "double  space", "double space"),
    ]
    df = spark.createDataFrame(rows, "pair_id int, left_name string, right_name string")
    out = {
        r["pair_id"]: r
        for r in score_name_pairs(df).collect()
    }
    import math

    for pid, ln, rn in rows:
        got = out[pid]
        assert got["jaro_winkler"] == round(jaro_winkler(ln, rn), 6), (ln, rn)
        # lev ratio reference: python Levenshtein via simple DP
        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(
                        min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                    )
                prev = cur
            return prev[-1]

        expect_lr = (
            1.0
            if not ln and not rn
            else round(1.0 - lev(ln, rn) / max(len(ln), len(rn)), 6)
        )
        assert got["lev_ratio"] == pytest.approx(expect_lr), (ln, rn)
        lt = {t for t in ln.split(" ") if t}
        rt = {t for t in rn.split(" ") if t}
        expect_to = (
            0.0 if not lt or not rt else round(len(lt & rt) / min(len(lt), len(rt)), 6)
        )
        assert got["token_overlap"] == pytest.approx(expect_to), (ln, rn)
        assert math.isfinite(got["jaro_winkler"])


def test_token_overlap_set_semantics(spark):
    # duplicate tokens count once; empty side scores 0
    df = spark.createDataFrame(
        [("x x x y", "x z"), ("a", " ")], "l string, r string"
    )
    got = df.select(token_set_overlap("l", "r").alias("s")).collect()
    assert got[0]["s"] == pytest.approx(0.5)  # {x,y} ∩ {x,z} / min(2,2)
    assert got[1]["s"] == 0.0


def test_idf_weighted_overlap(spark):
    import math

    # corpus: "the" in 3 docs, "red"/"lion"/"boar" rarer
    docs = spark.createDataFrame(
        [("the red lion",), ("the boar",), ("the red house",)], "name string"
    )
    dim = token_idf_dim(docs)
    idf = {r["token"]: r["idf"] for r in dim.collect()}
    assert idf["the"] == pytest.approx(math.log(4 / 4) + 1)  # df=3, N=3
    assert idf["lion"] == pytest.approx(math.log(4 / 2) + 1)
    pairs = spark.createDataFrame(
        [
            (1, "the red lion", "the red house"),  # shares the+red
            (2, "the lion", "the boar"),           # shares only 'the'
            (3, "", ""),                            # empty union → 0
            (4, "zzz", "zzz"),                      # OOV only → default 0
        ],
        "pair_id int, left_name string, right_name string",
    )
    got = {
        r["pair_id"]: r["idf_overlap"]
        for r in idf_token_overlap(pairs, dim).collect()
    }
    t, r_, l, h, b = (idf[k] for k in ("the", "red", "lion", "house", "boar"))
    assert got[1] == pytest.approx(round((t + r_) / (t + r_ + l + h), 6))
    assert got[2] == pytest.approx(round(t / (t + l + b), 6))
    # sharing the stopword scores below sharing the rare token pair
    assert got[2] < got[1]
    assert got[3] == 0.0
    assert got[4] == 0.0
    # max-rarity fallback for OOV tokens is opt-in
    got_oov = {
        r["pair_id"]: r["idf_overlap"]
        for r in idf_token_overlap(
            pairs, dim, default_idf=math.log(4.0) + 1
        ).collect()
    }
    assert got_oov[4] == 1.0


def test_idf_overlap_dedups_input_and_keeps_null_names(spark):
    """r06 intersect-explode internals (same shape as chargram_cosine):
    duplicate input rows collapse to ONE row with the unique-input value
    (the intersect sum runs over the DEDUPLICATED frame now that the
    denominator comes from per-name dims and no longer scales with copy
    count), and NULL names survive the null-safe dim joins scoring 0.0."""
    docs = spark.createDataFrame(
        [("the red lion",), ("the boar",)], "name string"
    )
    dim = token_idf_dim(docs)
    base = [
        (1, "the red lion", "the boar"),
        (2, None, "the boar"),
        (3, "the red lion", None),
    ]
    schema = "pair_id int, left_name string, right_name string"
    uniq = spark.createDataFrame(base, schema)
    dup = spark.createDataFrame(base + base, schema)
    u = {r["pair_id"]: r["idf_overlap"] for r in idf_token_overlap(uniq, dim).collect()}
    d_rows = idf_token_overlap(dup, dim).collect()
    assert len(d_rows) == len(base)
    d = {r["pair_id"]: r["idf_overlap"] for r in d_rows}
    assert d == u
    assert u[2] == 0.0 and u[3] == 0.0
    assert 0.0 < u[1] < 1.0


def test_soundex_differential_fuzz(spark):
    """Spark's JVM soundex vs the independent DuckDB regexp/translate
    re-derivation (__spark_entry__._soundex_sql) — the q_soundex_blocks
    oracle depends on this parity.  Domain: ASCII words with digits and
    punctuation mixed in (non-ASCII-initial strings pass through
    unchanged in both engines by construction)."""
    import __spark_entry__ as entry

    rng = random.Random(99)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    cases = [
        "Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak", "Pfister",
        "Honeyman", "a", "h", "wh", "whbb", "hbb", "bhb", "bwb", "b1b",
        "ab1b", "ab'b", "abhb", "abeb", "zzyzx", "pneumonia", "Hubble",
        "white", "McDonald", "o'brien", "bb", "bpfv", "lloyd", "gauss",
    ]
    for _ in range(3000):
        n = rng.randint(1, 12)
        chars = alpha + ("'1-2 " if rng.random() < 0.4 else "")
        cases.append("".join(rng.choice(chars) for _ in range(n)))
    df = spark.createDataFrame([(c,) for c in cases], "word string")
    spark_out = [
        r["s"] for r in df.select(F.soundex("word").alias("s")).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE words(word VARCHAR)")
    con.executemany("INSERT INTO words VALUES (?)", [(c,) for c in cases])
    duck_out = [
        r[0]
        for r in con.execute(
            f"SELECT {entry._soundex_sql('word')} FROM words"
        ).fetchall()
    ]
    for w, s_spark, s_duck in zip(cases, spark_out, duck_out):
        assert s_spark == s_duck, (w, s_spark, s_duck)


def test_levenshtein_ratio_null_and_empty(spark):
    df = spark.createDataFrame(
        [("", ""), (None, "abc"), ("abc", "abd")], "l string, r string"
    )
    got = df.select(levenshtein_ratio("l", "r").alias("s")).collect()
    assert got[0]["s"] == 1.0  # both empty → identical
    assert got[1]["s"] is None  # null propagates
    assert got[2]["s"] == pytest.approx(1 - 1 / 3)


def _stf(spark, pairs_rows, corpus_names, **kw):
    from osm_wikidata_spark.operators.scoring import soft_tfidf, token_idf_dim

    pairs = spark.createDataFrame(
        pairs_rows, "left_id int, right_id int, left_name string, right_name string"
    )
    corpus = spark.createDataFrame([(n,) for n in corpus_names], "name string")
    out = soft_tfidf(pairs, token_idf_dim(corpus), **kw).collect()
    return {(r["left_id"], r["right_id"]): r["soft_tfidf"] for r in out}


def test_soft_tfidf_identical_names_score_one(spark):
    corpus = ["alpha beta", "gamma delta", "alpha gamma"]
    got = _stf(spark, [(1, 2, "alpha beta", "alpha beta")], corpus)
    assert got[(1, 2)] == pytest.approx(1.0, abs=1e-6)


def test_soft_tfidf_disjoint_names_score_zero(spark):
    corpus = ["alpha beta", "zzzz qqqq"]
    got = _stf(spark, [(1, 2, "alpha beta", "zzzz qqqq")], corpus)
    assert got[(1, 2)] == 0.0


def test_soft_tfidf_typo_token_still_matches(spark):
    # "goldenrod" vs "goldenrd" has JW ~0.98 >= 0.9 -> contributes;
    # exact idf_token_overlap would score this pair 0
    corpus = ["goldenrod lace", "goldenrd lace", "navy wheat"]
    got = _stf(spark, [(1, 2, "goldenrod", "goldenrd")], corpus)
    assert got[(1, 2)] > 0.9


def test_soft_tfidf_theta_gates_weak_matches(spark):
    corpus = ["alpha", "omega"]
    pairs = [(1, 2, "alpha", "omega")]
    loose = _stf(spark, pairs, corpus, theta=0.0)
    strict = _stf(spark, pairs, corpus, theta=0.9)
    assert strict[(1, 2)] == 0.0
    assert loose[(1, 2)] > 0.0


def test_monge_elkan_values(spark):
    from osm_wikidata_spark.operators.scoring import monge_elkan

    pairs = spark.createDataFrame(
        [
            (1, 2, "alpha beta", "alpha beta"),   # identical -> 1.0
            (3, 4, "alpha beta", "alpha"),        # asymmetric: avg(1.0, jw(beta,alpha))
            (5, 6, "", "alpha"),                  # empty left -> 0.0
        ],
        "left_id int, right_id int, left_name string, right_name string",
    )
    got = {
        (r["left_id"], r["right_id"]): r["monge_elkan"]
        for r in monge_elkan(pairs).collect()
    }
    assert got[(1, 2)] == pytest.approx(1.0)
    from osm_wikidata_spark.operators.scoring import jaro_winkler

    expect = (1.0 + round(jaro_winkler("beta", "alpha"), 6)) / 2
    assert got[(3, 4)] == pytest.approx(expect, abs=1e-6)
    assert got[(5, 6)] == 0.0


def test_monge_elkan_asymmetry(spark):
    from osm_wikidata_spark.operators.scoring import monge_elkan

    fwd = spark.createDataFrame(
        [(1, 2, "alpha", "alpha beta gamma")],
        "left_id int, right_id int, left_name string, right_name string",
    )
    rev = spark.createDataFrame(
        [(1, 2, "alpha beta gamma", "alpha")],
        "left_id int, right_id int, left_name string, right_name string",
    )
    f = monge_elkan(fwd).collect()[0]["monge_elkan"]
    r = monge_elkan(rev).collect()[0]["monge_elkan"]
    assert f == pytest.approx(1.0)  # every left token has a perfect match
    assert r < f                    # extra left tokens drag the mean down


_ME_SCHEMA = "left_id int, right_id int, left_name string, right_name string"


def test_monge_elkan_null_names_score_zero(spark):
    from osm_wikidata_spark.operators.scoring import monge_elkan

    pairs = spark.createDataFrame(
        [(1, 2, None, "alpha"), (3, 4, "alpha", None), (5, 6, None, None)],
        _ME_SCHEMA,
    )
    got = {r["left_id"]: r["monge_elkan"] for r in monge_elkan(pairs).collect()}
    assert got == {1: 0.0, 3: 0.0, 5: 0.0}


def test_monge_elkan_null_id_scores_its_names(spark):
    """A null outside the name columns leaves the score to the names (the
    former join back on every column scored such a row 0.0)."""
    from osm_wikidata_spark.operators.scoring import jaro_winkler, monge_elkan

    pairs = spark.createDataFrame(
        [(None, 2, "alpha beta", "alpha beta"), (1, None, "alpha", "alpah")],
        _ME_SCHEMA,
    )
    got = {r["left_name"]: r["monge_elkan"] for r in monge_elkan(pairs).collect()}
    assert got["alpha beta"] == 1.0
    assert got["alpha"] == round(jaro_winkler("alpha", "alpah"), 6) > 0.0


def test_monge_elkan_duplicate_rows_each_kept(spark):
    from osm_wikidata_spark.operators.scoring import monge_elkan

    row = (1, 2, "red lion", "red lion inn")
    pairs = spark.createDataFrame([row, row, row, (3, 4, "zz", "qq")], _ME_SCHEMA)
    out = monge_elkan(pairs).collect()
    assert len(out) == 4
    assert [r["monge_elkan"] for r in out if r["left_id"] == 1] == [1.0] * 3


@pytest.mark.parametrize("id_type", ["int", "bigint", "string"])
def test_monge_elkan_id_types_and_passthrough(spark, id_type):
    """Every non-name column, of any type, comes through unchanged and in
    place; the score is appended last."""
    import datetime

    from osm_wikidata_spark.operators.scoring import monge_elkan

    ids = ["7", "8"] if id_type == "string" else [7, 8]
    ts = datetime.datetime(2024, 5, 6, 7, 8, 9)
    pairs = spark.createDataFrame(
        [(ids[0], "alpha beta", ids[1], "alpha", ["x", None], ts)],
        f"left_id {id_type}, left_name string, right_id {id_type}, "
        "right_name string, tags array<string>, seen timestamp",
    )
    out = monge_elkan(pairs)
    assert out.columns == [*pairs.columns, "monge_elkan"]
    assert out.schema.fields[:-1] == pairs.schema.fields
    (got,) = out.collect()
    assert tuple(got)[:-1] == tuple(pairs.collect()[0])
    assert 0.5 < got["monge_elkan"] < 1.0


def test_monge_elkan_literal_separators_match_jvm_tokens(spark):
    """The Python tokeniser must give the tokens the JVM tokeniser
    (``F.split`` on ``quote_sep(sep)``) gives — regex metacharacters, a
    multi-char separator holding ``\\E``, leading, trailing and repeated
    separators, and the empty separator (characters) — and the score must
    be the mean over those JVM token arrays."""
    from osm_wikidata_spark.operators.scoring import (
        _tokens,
        jaro_winkler,
        monge_elkan,
        split_tokens,
    )

    for sep in ["|", ".", "a\\Eb", "\\E", "||", " ", ""]:
        names = [
            (f"{sep}alpha{sep}{sep}beta{sep}alpha{sep}", f"alpah{sep}{sep}gamma"),
            (f"x.y|z{sep}w*q", f"{sep}{sep}x.y|z{sep}"),
            ("plain", sep * 3),
        ]
        pairs = spark.createDataFrame(
            [(i, i, left, right) for i, (left, right) in enumerate(names)], _ME_SCHEMA
        )
        rows = (
            monge_elkan(pairs, sep=sep)
            .select(
                "left_name",
                "right_name",
                "monge_elkan",
                _tokens("left_name", sep).alias("lt"),
                _tokens("right_name", sep).alias("rt"),
            )
            .collect()
        )
        assert len(rows) == len(names)
        for row in rows:
            lt, rt = list(row["lt"]), list(row["rt"])
            assert split_tokens(row["left_name"], sep) == lt, (sep, row)
            assert split_tokens(row["right_name"], sep) == rt, (sep, row)
            want = (
                sum(max(jaro_winkler(w, v) for v in rt) for w in lt) / len(lt)
                if lt and rt
                else 0.0
            )
            assert row["monge_elkan"] == pytest.approx(want, abs=1e-6), (sep, row)


def test_soft_tfidf_and_monge_elkan_differential(spark):
    """Differential check vs an independent pure-Python replica over a
    randomized corpus (seeded): pins the argmax/norm algebra beyond the
    fixture cases and the sf0.01 oracle corpus."""
    import math
    import random

    from osm_wikidata_spark.operators.scoring import (
        jaro_winkler,
        monge_elkan,
        soft_tfidf,
        token_idf_dim,
    )

    rng = random.Random(427)
    vocab = ["alpha", "alpah", "beta", "betta", "gamma", "gama", "delta",
             "omega", "zz", "q", "longtokenname", "longtokennime"]
    names = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4)))
        for _ in range(60)
    ]
    corpus_rows = [(n,) for n in names]
    pair_rows = [
        (i, i + 1000, rng.choice(names), rng.choice(names)) for i in range(150)
    ]
    corpus = spark.createDataFrame(corpus_rows, "name string")
    pairs = spark.createDataFrame(
        pair_rows, "left_id int, right_id int, left_name string, right_name string"
    )
    idf_dim = token_idf_dim(corpus)

    # pure-Python replica
    docs = [set(n.split()) for n in names]
    n_docs = len(docs)
    df_counts = {}
    for d in docs:
        for t in d:
            df_counts[t] = df_counts.get(t, 0) + 1
    idf = {t: math.log((n_docs + 1.0) / (c + 1.0)) + 1.0 for t, c in df_counts.items()}

    def py_soft(ln, rn, theta=0.9):
        lt = sorted(set(x for x in ln.split() if x))
        rt = sorted(set(x for x in rn.split() if x))
        if not lt or not rt:
            return 0.0
        lnorm = math.sqrt(sum(idf.get(t, 0.0) ** 2 for t in lt))
        rnorm = math.sqrt(sum(idf.get(t, 0.0) ** 2 for t in rt))
        raw = 0.0
        any_close = False
        for a in lt:
            best = max(
                ((round(jaro_winkler(a, b), 6), idf.get(b, 0.0)) for b in rt),
            )
            if best[0] >= theta:
                any_close = True
                raw += idf.get(a, 0.0) * best[1] * best[0]
        if not any_close or lnorm <= 0 or rnorm <= 0:
            return 0.0
        return round(raw / (lnorm * rnorm), 6)

    def py_me(ln, rn):
        lt = sorted(set(x for x in ln.split() if x))
        rt = sorted(set(x for x in rn.split() if x))
        if not lt or not rt:
            return 0.0
        return round(
            sum(max(jaro_winkler(a, b) for b in rt) for a in lt) / len(lt), 6
        )

    got_soft = {
        (r["left_id"], r["right_id"]): r["soft_tfidf"]
        for r in soft_tfidf(pairs, idf_dim).collect()
    }
    got_me = {
        (r["left_id"], r["right_id"]): r["monge_elkan"]
        for r in monge_elkan(pairs).collect()
    }
    for i, j, ln, rn in pair_rows:
        assert got_soft[(i, j)] == pytest.approx(py_soft(ln, rn), abs=2e-6), (ln, rn)
        assert got_me[(i, j)] == pytest.approx(py_me(ln, rn), abs=2e-6), (ln, rn)


def test_damerau_levenshtein_kernel_differential():
    """5k-case differential vs DuckDB's native damerau_levenshtein — an
    independent implementation of the TRUE (unrestricted) DL."""
    import random

    import duckdb

    from osm_wikidata_spark.operators.scoring import damerau_levenshtein

    con = duckdb.connect()
    rng = random.Random(427)
    for _ in range(5000):
        a = "".join(rng.choice("abcde ") for _ in range(rng.randint(0, 9)))
        b = "".join(rng.choice("abcde ") for _ in range(rng.randint(0, 9)))
        want = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        assert damerau_levenshtein(a, b) == want, (a, b)


def test_damerau_is_true_dl_not_osa():
    from osm_wikidata_spark.operators.scoring import damerau_levenshtein

    # the canonical discriminator: OSA gives 3, true DL gives 2
    assert damerau_levenshtein("CA", "ABC") == 2
    assert damerau_levenshtein("ab", "ba") == 1
    assert damerau_levenshtein("", "abc") == 3
    assert damerau_levenshtein("kitten", "sitting") == 3


def test_damerau_ratio_column(spark):
    from osm_wikidata_spark.operators.scoring import damerau_ratio

    df = spark.createDataFrame(
        [("form 1040", "from 1040"), ("", ""), (None, "abc")],
        "l string, r string",
    )
    got = df.select(damerau_ratio("l", "r").alias("s")).collect()
    # one transposition over 9 chars
    assert got[0]["s"] == pytest.approx(1 - 1 / 9)
    assert got[1]["s"] == 1.0      # both empty -> identical
    assert got[2]["s"] is None     # null propagates


def test_chargram_cosine_values(spark):
    from osm_wikidata_spark.operators.scoring import (
        chargram_cosine,
        chargram_idf_dim,
    )

    corpus = spark.createDataFrame(
        [("goldenrod lace",), ("goldenrd lace",), ("navy wheat",)], "name string"
    )
    pairs = spark.createDataFrame(
        [
            (1, 2, "goldenrod", "goldenrd"),   # typo: most grams shared
            (3, 4, "goldenrod", "goldenrod"),  # identical -> 1.0
            (5, 6, "navy", "lace"),            # disjoint grams -> 0.0
            (7, 8, "ab", "xy"),                # too short for 3-grams -> 0.0
        ],
        "left_id int, right_id int, left_name string, right_name string",
    )
    got = {
        (r["left_id"], r["right_id"]): r["gram_cosine"]
        for r in chargram_cosine(pairs, chargram_idf_dim(corpus)).collect()
    }
    assert got[(3, 4)] == pytest.approx(1.0)
    assert 0.5 < got[(1, 2)] < 1.0
    assert got[(5, 6)] == 0.0
    assert got[(7, 8)] == 0.0


def test_chargram_cosine_dedups_input_and_keeps_null_names(spark):
    """r06 intersect-explode internals: (1) duplicate input rows collapse
    to ONE output row whose value equals the unique-input value (the dot
    is summed over the DEDUPLICATED frame, so copies cannot double it);
    (2) a NULL name survives the null-safe norm-dim joins and scores 0.0
    instead of falling out of a null-dropping join key."""
    from osm_wikidata_spark.operators.scoring import (
        chargram_cosine,
        chargram_idf_dim,
    )

    corpus = spark.createDataFrame(
        [("goldenrod lace",), ("goldenrd lace",)], "name string"
    )
    base = [
        (1, 2, "goldenrod", "goldenrd"),
        (3, 4, None, "goldenrd"),      # null left name
        (5, 6, "goldenrod", None),     # null right name
    ]
    schema = "left_id int, right_id int, left_name string, right_name string"
    uniq = spark.createDataFrame(base, schema)
    dup = spark.createDataFrame(base + base, schema)
    dim = chargram_idf_dim(corpus)
    u = {
        (r["left_id"], r["right_id"]): r["gram_cosine"]
        for r in chargram_cosine(uniq, dim).collect()
    }
    d_rows = chargram_cosine(dup, dim).collect()
    assert len(d_rows) == len(base)  # duplicates collapsed
    d = {(r["left_id"], r["right_id"]): r["gram_cosine"] for r in d_rows}
    assert d == u                    # values unaffected by duplication
    assert u[(3, 4)] == 0.0 and u[(5, 6)] == 0.0
    assert 0.5 < u[(1, 2)] < 1.0


def test_chargram_cosine_is_pure_jvm(spark):
    """The family's zero-Python fuzzy scorer: no ArrowEvalPython, no
    BatchEvalPython anywhere in the plan."""
    import io
    from contextlib import redirect_stdout

    from osm_wikidata_spark.operators.scoring import (
        chargram_cosine,
        chargram_idf_dim,
    )

    corpus = spark.createDataFrame([("abcdef",), ("bcdefg",)], "name string")
    pairs = spark.createDataFrame(
        [(1, 2, "abcdef", "bcdefg")],
        "left_id int, right_id int, left_name string, right_name string",
    )
    df = chargram_cosine(pairs, chargram_idf_dim(corpus))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sep_is_a_literal_separator_not_a_regex(spark):
    """sep='.' (or '|') must split on the CHARACTER, not act as a regex
    that splits between every character (F.split takes a Java regex; the
    scorers quote it)."""
    from osm_wikidata_spark.operators.scoring import (
        token_set_overlap,
        token_idf_dim,
    )

    pairs = spark.createDataFrame(
        [(1, "a.b", "b.c"), (2, "x|y", "y|z")],
        "pair_id int, left_name string, right_name string",
    )
    dotted = pairs.select(
        "pair_id",
        token_set_overlap("left_name", "right_name", sep=".").alias("s"),
    )
    got = {r["pair_id"]: r["s"] for r in dotted.collect()}
    # {'a','b'} vs {'b','c'} → 1/2 (a regex '.' would yield empty sets → 0)
    assert got[1] == pytest.approx(0.5)
    piped = pairs.select(
        "pair_id",
        token_set_overlap("left_name", "right_name", sep="|").alias("s"),
    )
    assert {r["pair_id"]: r["s"] for r in piped.collect()}[2] == pytest.approx(0.5)
    # the idf dim tokenises with the same literal semantics
    corpus = spark.createDataFrame([("a.b",), ("b.c",)], "name string")
    toks = {r["token"] for r in token_idf_dim(corpus, sep=".").collect()}
    assert toks == {"a", "b", "c"}


def test_quote_sep_emits_jdk_split_fastpath_forms():
    """Single-char separators must emit the JDK String.split fast-path
    forms (bare char, or 2-char backslash escape for metachars) — the
    \\Q…\\E form is Pattern-compiled per split and measured 4.5x slower
    on the 2M-row tokenize hot path.  Multi-char separators keep the
    Pattern.quote form (they compile through Pattern either way)."""
    from osm_wikidata_spark.operators.scoring import quote_sep

    # fast path: bare char for non-metachars (space and newline are THE
    # hot-path separators: every scorer default and line_delim)
    assert quote_sep(" ") == " "
    assert quote_sep("\n") == "\n"
    assert quote_sep("a") == "a"
    assert quote_sep("\t") == "\t"
    # fast path: 2-char escape for every JDK-fast-path metachar
    for ch in ".$|()[{^?*+\\":
        assert quote_sep(ch) == "\\" + ch
    # slow path (Pattern-compiled either way): multi-char literals
    assert quote_sep("ab") == "\\Qab\\E"
    assert quote_sep("\\E") == "\\Q\\E\\\\E\\Q\\E"
    assert quote_sep("") == "\\Q\\E"


def test_soft_tfidf_duplicate_pair_rows_score_unchanged(spark):
    """Duplicate input rows must not inflate the per-pair L2 norms: each
    duplicate gets the SAME score as the deduplicated pair, and input
    cardinality is preserved."""
    from osm_wikidata_spark.operators.scoring import soft_tfidf, token_idf_dim

    corpus = spark.createDataFrame(
        [("red lion inn",), ("white hart",), ("red house",)], "name string"
    )
    dim = token_idf_dim(corpus)
    single = spark.createDataFrame(
        [(1, 2, "red lion", "red lion inn")],
        "left_id int, right_id int, left_name string, right_name string",
    )
    doubled = single.unionByName(single)
    base = soft_tfidf(single, dim).collect()
    dup = soft_tfidf(doubled, dim).collect()
    assert len(base) == 1 and len(dup) == 2
    assert {r["soft_tfidf"] for r in dup} == {base[0]["soft_tfidf"]}
    assert base[0]["soft_tfidf"] > 0.0


def test_quote_sep_literal_split_differential(spark):
    """Differential pin of the whole quoting contract: for every ASCII
    punctuation char (covering each JDK fast-path metachar's 2-char
    escape branch), whitespace, and escape-hostile multi-char separators,
    Spark's F.split(quote_sep(sep)) must equal Python's literal
    str.split(sep) — including empty leading/trailing/consecutive
    fields (F.split's default limit -1 keeps trailing empties, matching
    Python's sep-split)."""
    import string

    from osm_wikidata_spark.operators.scoring import quote_sep

    seps = [*string.punctuation, " ", "\t", "\n", "||", "\\E", ".*", "\\Q"]
    texts = {}
    for i, sep in enumerate(seps):
        texts[i] = [
            f"a{sep}b{sep}{sep}c{sep}",     # consecutive + trailing
            f"{sep}x.y|z*w\\v{sep}q",       # leading + metachar payload
            "no-sep-here",
        ]
    cols, expect = [], {}
    for i, sep in enumerate(seps):
        for j, text in enumerate(texts[i]):
            name = f"s_{i}_{j}"
            cols.append(F.split(F.lit(text), quote_sep(sep)).alias(name))
            expect[name] = text.split(sep)
    row = spark.range(1).select(*cols).collect()[0]
    for name, want in expect.items():
        assert list(row[name]) == want, (
            f"{name}: sep={seps[int(name.split('_')[1])]!r} "
            f"got {list(row[name])} want {want}"
        )
