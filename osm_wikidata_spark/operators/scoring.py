"""Continuous pairwise string-similarity scores for candidate pairs.

BASELINE.json's north star names the batched pairwise scores explicitly:
"Jaro-Winkler, Levenshtein-ratio and token-set overlap".  The reference's
name comparison is a boolean decision cascade (match.py check_for_match —
implemented exactly in kernel/cascade.py and pinned at F1=1.00); these are
the *continuous* companions that a probabilistic linkage layer
(operators/linkage.py, Fellegi-Sunter) bands into comparison levels, the
Splink-style architecture for record linkage at scale.

Execution split (the repo's standing rule — JVM for everything Spark can
express, Arrow batches for the rest):

* ``levenshtein_ratio`` — pure JVM: Spark's built-in ``levenshtein`` is
  codegen'd; the ratio is arithmetic on top.  Whole-stage codegen keeps it
  inside the pair join's stage, zero Python cost at 10^12 pairs.
* ``token_set_overlap`` — pure JVM array algebra (``split`` /
  ``array_distinct`` / ``array_intersect``); set semantics, so duplicate
  tokens count once.
* ``jaro_winkler`` — no Spark built-in, so a pandas UDF with the batch-wide
  distinct-pair memo (functions/udfs.py pattern): real name data is Zipfian,
  so the per-batch distinct ratio is ~0.1-0.3 and the Python kernel runs
  once per distinct pair.  Codepoint-level (Python str), Winkler parameters
  p=0.1, max prefix 4, boost only when jaro > 0.7 — the classic Winkler'90
  spec, byte-identical to DuckDB/RapidFuzz on ASCII (the oracle pins this
  on the all-ASCII part-name corpus; DuckDB itself is byte-oriented so
  non-ASCII comparisons legitimately diverge — ours is the
  codepoint-correct one).
* ``idf_token_overlap`` / ``soft_tfidf`` join a corpus idf dim per token,
  so their tokens explode JVM-side.  ``monge_elkan`` needs one row's two
  names alone: one scalar pandas UDF scores each row, with no exchange.

Oracle notes: all three scores are rounded to 6 dp with ``F.round``
(HALF_UP, matching DuckDB ``round``); q_pair_scores compares every pair of
the sf corpus against DuckDB's native ``levenshtein`` /
``jaro_winkler_similarity`` / ``list_intersect``.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, IntegerType


def jaro(s1: str, s2: str) -> float:
    """Jaro similarity (Jaro 1989), codepoint-level.

    Match window ``max(|s1|,|s2|)//2 - 1`` (floored at 0), transpositions
    counted as half the out-of-order matched positions — the textbook
    definition DuckDB/RapidFuzz implement.
    """
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        # both-empty scores 0.0 too — DuckDB/RapidFuzz's convention (no
        # matched characters → no evidence), pinned by the 22k-case
        # differential fuzz in tests/test_scoring.py
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    matched1 = [False] * l1
    matched2 = [False] * l2
    m = 0
    for i in range(l1):
        lo = i - window if i > window else 0
        hi = i + window + 1
        if hi > l2:
            hi = l2
        c = s1[i]
        for j in range(lo, hi):
            if not matched2[j] and s2[j] == c:
                matched1[i] = True
                matched2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if matched1[i]:
            while not matched2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def jaro_winkler(
    s1: str,
    s2: str,
    prefix_weight: float = 0.1,
    max_prefix: int = 4,
    boost_threshold: float = 0.7,
) -> float:
    """Jaro-Winkler (Winkler 1990): Jaro boosted by the common prefix,
    applied only above the 0.7 threshold (strictly greater — the RapidFuzz/
    DuckDB convention, verified empirically against DuckDB)."""
    sim = jaro(s1, s2)
    if sim > boost_threshold:
        prefix = 0
        for a, b in zip(s1[:max_prefix], s2[:max_prefix]):
            if a != b:
                break
            prefix += 1
        sim += prefix * prefix_weight * (1.0 - sim)
    return sim


@F.pandas_udf(DoubleType())
def jaro_winkler_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler with the batch-wide distinct-pair memo."""
    memo: dict[tuple[str, str], float | None] = {}
    out = []
    for a, b in zip(left, right):
        key = (a, b)
        if key not in memo:
            memo[key] = None if a is None or b is None else jaro_winkler(a, b)
        out.append(memo[key])
    return pd.Series(out, dtype="float64")


def levenshtein_ratio(left: str | F.Column, right: str | F.Column) -> F.Column:
    """1 - edit_distance / max(len) — pure JVM (whole-stage codegen).

    Both-empty compares as 1.0 (identical), sidestepping the 0/0 division
    (Spark yields NULL, DuckDB errors — neither is the similarity answer).
    """
    lc, rc = F.col(left) if isinstance(left, str) else left, (
        F.col(right) if isinstance(right, str) else right
    )
    longest = F.greatest(F.length(lc), F.length(rc))
    return F.when(longest == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(lc, rc).cast("double") / longest
    )


#: The JDK ``String.split`` fast-path metacharacter set: a 1-char pattern
#: OUTSIDE this set, or a 2-char ``\x`` escape of a non-alphanumeric char,
#: skips ``Pattern`` entirely (an indexOf loop).  Spark's ``StringSplit``
#: delegates to it via ``UTF8String.split``, so staying on this path
#: matters: measured 4.5× on the 2M-row tokenize microbench (13.6 s
#: ``\\Q \\E`` vs 3.0 s bare ``" "``).
_JDK_SPLIT_META = ".$|()[{^?*+\\"


def quote_sep(sep: str) -> str:
    """Escape a LITERAL separator for the JVM-regex split functions.

    Spark's ``F.split`` treats its pattern as a Java regex, so a caller
    passing ``sep='.'`` or ``'|'`` to any scorer here would silently split
    between every character.  Every ``sep`` parameter in this module (and
    the ``line_delim`` parameters in boilerplate/quality) is documented as
    a literal string and routed through this wrapper.

    Single-char separators (the overwhelmingly common case: ``' '``,
    ``'\\n'``) emit the JDK split-fast-path form — the char itself when it
    is not a regex metacharacter, else its 2-char ``\\x`` escape (every
    metachar is non-alphanumeric, so the escape never forms a class like
    ``\\d``) — both Pattern-free per the ``_JDK_SPLIT_META`` note above.
    Longer separators get the ``Pattern.quote`` form (``\\Q…\\E``, embedded
    ``\\E`` handled the way ``java.util.regex.Pattern.quote`` does); those
    compile through ``Pattern`` either way, so quoting is free there.
    """
    if len(sep) == 1:
        return "\\" + sep if sep in _JDK_SPLIT_META else sep
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _tokens(col: str | F.Column, sep: str) -> F.Column:
    """The distinct non-empty tokens of ``col`` split on the LITERAL
    ``sep``, in first-seen order — the JVM tokeniser of every token scorer
    here."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(F.filter(F.split(c, quote_sep(sep)), lambda t: t != ""))


def split_tokens(name: str, sep: str = " ") -> list[str]:
    """The tokens :func:`_tokens` gives, in Python (empty ``sep``: chars)."""
    parts = name.split(sep) if sep else list(name)
    return list(dict.fromkeys(t for t in parts if t))


def token_set_overlap(
    left: str | F.Column, right: str | F.Column, sep: str = " "
) -> F.Column:
    """Overlap coefficient on distinct token sets: |A∩B| / min(|A|,|B|).

    Pure JVM array algebra; ``array_intersect`` already set-dedups, matching
    DuckDB ``list_intersect``.  Either side tokenising to the empty set
    scores 0.0 (no evidence ≠ evidence of match).  ``sep`` is a LITERAL
    separator (regex-quoted internally — ``sep='.'`` splits on dots, not
    on every character).
    """
    lt, rt = _tokens(left, sep), _tokens(right, sep)
    smaller = F.least(F.size(lt), F.size(rt))
    return F.when(smaller == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect(lt, rt)).cast("double") / smaller
    )


def token_idf_dim(
    docs: DataFrame,
    text_col: str = "name",
    sep: str = " ",
) -> DataFrame:
    """(token, idf) dictionary from a corpus: smooth inverse document
    frequency ``idf = ln((N+1)/(df+1)) + 1`` (the sklearn convention —
    strictly positive, stopwords → ~1, hapaxes → ~ln N).

    One explode + one distinct-doc count; N rides in as a 1-row broadcast.
    The dim is vocabulary-sized (data-dependent), so downstream joins on
    it stay UNHINTED — AQE broadcasts real vocabularies (≤ a few hundred
    MB even web-scale) and falls back if a pathological corpus explodes
    the token space.
    """
    tokens = docs.select(F.explode(_tokens(text_col, sep)).alias("token"))
    df_counts = tokens.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return df_counts.crossJoin(F.broadcast(n)).select(
        "token",
        (
            F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            + F.lit(1.0)
        ).alias("idf"),
    )


def idf_token_overlap(
    pairs: DataFrame,
    idf_dim: DataFrame,
    left_col: str = "left_name",
    right_col: str = "right_name",
    sep: str = " ",
    precision: int = 6,
    out_col: str = "idf_overlap",
    default_idf: float = 0.0,
) -> DataFrame:
    """Rarity-weighted token overlap: ``Σ idf(A∩B) / Σ idf(A∪B)``.

    The soft companion of :func:`token_set_overlap` — sharing the token
    "goldenrod" means far more than sharing "the" (the cheap cousin of
    soft-TF-IDF; Cohen, Ravikumar & Fienberg 2003's comparison study is
    the canonical reference for rarity-weighted name scorers).
    Jaccard-style normalisation over the union keeps it in [0, 1].

    Plan: the numerator needs only SHARED tokens, and the union mass
    decomposes as ``Σ idf(A∪B) = Σ idf(A) + Σ idf(B) − Σ idf(A∩B)`` over
    distinct-token sets — so the per-pair explode covers ``A∩B`` (usually
    a small fraction of the union on non-duplicate pairs) and the
    per-side sums come from two distinct-name dims joined back
    null-safely (guide §2.3/§2.4; sf0.1 A/B: 1.79 s → 0.74 s min-of-4
    interleaved).  The decomposition is exact in real arithmetic and was
    verified VALUE-IDENTICAL after 6-dp rounding on every pair of all
    three test scale factors (the fp summation order changes, which can
    move the raw double by ulps; a flip at the rounding boundary needs a
    score within ~1e-15 of a half — not observed on 160k+ pairs, and the
    DuckDB oracle's own independent summation order already demands this
    robustness).  Tokens absent from the dim score ``default_idf`` —
    0.0 by default, i.e. out-of-corpus tokens carry no weight; pass
    ``ln(N+1)+1`` to treat them as maximally rare instead.  Pairs whose
    union is empty, or whose union-idf mass is 0, score 0.0.

    Row contract (unchanged): one output row per DISTINCT input row —
    the input is deduplicated up front, which keeps duplicate rows from
    double-counting the intersect sum now that the denominator no longer
    scales with copy count.  Contrast
    :func:`soft_tfidf` / :func:`monge_elkan` / :func:`score_name_pairs`,
    which preserve input cardinality; pass distinct pairs when chaining
    scorers that will be column-joined.
    """
    cols = list(pairs.columns)
    uniq = pairs.dropDuplicates(cols)
    # explode_outer: a pair with no shared tokens still emits one
    # null-token row, so every distinct input row reaches the output
    exploded = uniq.select(
        *cols,
        F.explode_outer(
            F.array_intersect(_tokens(left_col, sep), _tokens(right_col, sep))
        ).alias("token"),
    )
    joined = exploded.join(idf_dim, "token", "left")
    _i = F.coalesce(F.col("idf"), F.lit(float(default_idf)))
    contrib = F.when(F.col("token").isNotNull(), _i).otherwise(F.lit(0.0))
    nums = joined.groupBy(*cols).agg(F.sum(contrib).alias("_num"))

    def _sum_dim(names: DataFrame, out: str) -> DataFrame:
        g = names.select("_nm", F.explode_outer(_tokens("_nm", sep)).alias("token"))
        j = g.join(idf_dim, "token", "left")
        _ii = F.coalesce(F.col("idf"), F.lit(float(default_idf)))
        s = F.when(F.col("token").isNotNull(), _ii).otherwise(F.lit(0.0))
        return j.groupBy("_nm").agg(F.sum(s).alias(out))

    # null-safe equi-joins: a NULL name keeps its rows and scores 0.0
    ldim = _sum_dim(pairs.select(F.col(left_col).alias("_nm")).distinct(), "_lsum")
    rdim = _sum_dim(pairs.select(F.col(right_col).alias("_nm")).distinct(), "_rsum")
    withn = (
        nums.join(ldim, F.col(left_col).eqNullSafe(ldim["_nm"]), "left")
        .drop(ldim["_nm"])
        .join(rdim, F.col(right_col).eqNullSafe(rdim["_nm"]), "left")
        .drop(rdim["_nm"])
    )
    den = F.col("_lsum") + F.col("_rsum") - F.col("_num")
    score = F.when(den > 0, F.col("_num") / den).otherwise(F.lit(0.0))
    return withn.select(*cols, F.round(score, precision).alias(out_col))


def score_name_pairs(
    pairs: DataFrame,
    left_col: str = "left_name",
    right_col: str = "right_name",
    precision: int = 6,
) -> DataFrame:
    """Append the three north-star scores to a candidate-pair frame.

    One projection — the two JVM scores fuse into the surrounding stage's
    codegen, the Jaro-Winkler UDF is a single ArrowEvalPython over the same
    pass.  Scores are rounded to ``precision`` so downstream banding
    (linkage.comparison_vectors) makes identical decisions in Spark and any
    oracle re-computation.
    """
    return (
        pairs.withColumn(
            "lev_ratio", F.round(levenshtein_ratio(left_col, right_col), precision)
        )
        .withColumn(
            "jaro_winkler",
            F.round(jaro_winkler_udf(F.col(left_col), F.col(right_col)), precision),
        )
        .withColumn(
            "token_overlap", F.round(token_set_overlap(left_col, right_col), precision)
        )
    )


def soft_tfidf(
    pairs: DataFrame,
    idf_dim: DataFrame,
    left_col: str = "left_name",
    right_col: str = "right_name",
    theta: float = 0.9,
    sep: str = " ",
    precision: int = 6,
    out_col: str = "soft_tfidf",
    default_idf: float = 0.0,
) -> DataFrame:
    """SoftTFIDF (Cohen, Ravikumar & Fienberg, IIWeb'03) — the hybrid
    scorer their comparison study found best-in-class for name matching:
    cosine similarity over idf-weighted token vectors, where tokens match
    *softly* — each left token pairs with its best right token by
    Jaro-Winkler, counted only when ``jw >= theta``:

        Σ_{w ∈ CLOSE(θ)} V(w,S) · V(best(w),T) · jw(w, best(w))

    with ``V(w,S) = idf(w) / ||S||₂``.  Generalises
    :func:`idf_token_overlap` (which needs exact token equality) to typo'd
    tokens: "goldenrod"/"goldenrd" still contributes.

    Tie-break: the best right token is max by (jw, idf) — deterministic,
    and identical to the two-step SQL (max jw, then max idf among the
    argmax set).  jw is rounded to ``precision`` BEFORE the argmax so the
    oracle's comparison sees identical doubles.

    Plan shape: token explodes are bounded by name length (single digits);
    the vocabulary joins stay UNHINTED (AQE broadcasts real vocabularies);
    the Jaro-Winkler pandas UDF runs on token×token rows where the
    distinct-pair memo hit rate is highest (token vocabulary ≪ pair
    count).  Per-pair regroups key on ``pairs``' own columns — keep those
    compact (ids + names), not payload-laden, at scale.

    Input cardinality is preserved: the token expansion runs over the
    DISTINCT pair rows (duplicate input rows would otherwise double the
    token rows inside the per-pair norm windows and silently halve the
    score) and the final assembly join fans the per-distinct-row score
    back out to every input row.
    """
    cols = list(pairs.columns)
    uniq = pairs.dropDuplicates(cols)

    def _side(col: str, tok: str, w: str) -> DataFrame:
        side = uniq.select(*cols, F.explode(_tokens(col, sep)).alias(tok))
        return side.join(
            idf_dim.withColumnRenamed("token", tok), tok, "left"
        ).withColumn(w, F.coalesce(F.col("idf"), F.lit(float(default_idf)))).drop(
            "idf"
        )

    from pyspark.sql.window import Window

    lw = _side(left_col, "_lt", "_lidf")
    rw = _side(right_col, "_rt", "_ridf")
    # per-side ||S||₂ rides each token row via a partition window over the
    # pair key — one exchange per side, already keyed exactly as the
    # token-cross join below needs (the former groupBy norms re-joined
    # onto the PAIR frame, re-shuffling it once per side at scale)
    wp = Window.partitionBy(*cols)
    lw = lw.withColumn(
        "_lnorm", F.sqrt(F.sum(F.col("_lidf") * F.col("_lidf")).over(wp))
    )
    rw = rw.withColumn(
        "_rnorm", F.sqrt(F.sum(F.col("_ridf") * F.col("_ridf")).over(wp))
    )
    crossed = lw.join(rw, cols).withColumn(
        "_jw", F.round(jaro_winkler_udf(F.col("_lt"), F.col("_rt")), precision)
    )
    # theta gates AFTER the argmax, not before: max(struct(jw, idf)) is
    # monotone in jw, so "filter >= theta then argmax" and "argmax then
    # keep if best >= theta" pick the identical row — but pre-filtering
    # makes Catalyst inline the UDF expression into both the Filter and
    # the Aggregate, evaluating Jaro-Winkler TWICE per token pair (two
    # ArrowEvalPython nodes; plan-pinned to one in tests/test_plans.py)
    best = (
        crossed.groupBy(*cols, "_lt", "_lidf")
        .agg(
            F.max(F.struct("_jw", "_ridf")).alias("_b"),
            F.first("_lnorm").alias("_lnorm"),  # pair constants
            F.first("_rnorm").alias("_rnorm"),
        )
        .filter(F.col("_b._jw") >= theta)
    )
    raw = best.groupBy(*cols).agg(
        F.sum(F.col("_lidf") * F.col("_b._ridf") * F.col("_b._jw")).alias("_raw"),
        F.first("_lnorm").alias("_lnorm"),
        F.first("_rnorm").alias("_rnorm"),
    )
    score = F.when(
        (F.col("_lnorm") > 0) & (F.col("_rnorm") > 0) & F.col("_raw").isNotNull(),
        F.col("_raw") / (F.col("_lnorm") * F.col("_rnorm")),
    ).otherwise(F.lit(0.0))
    # single assembly join: pairs with an empty/θ-filtered token cross get
    # NULL _raw from the left join and score 0.0, exactly as before
    return pairs.join(raw, cols, "left").select(
        *cols, F.round(score, precision).alias(out_col)
    )


def monge_elkan_score(
    s: str | None, t: str | None, sep: str = " ", jw=jaro_winkler
) -> float:
    """Unrounded ``ME(s, t)``: the mean, in left token order, of each left
    token's best ``jw`` among the right tokens (:func:`split_tokens`).  A
    null name, or a side with no tokens, scores 0.0."""
    if not isinstance(s, str) or not isinstance(t, str):
        return 0.0
    lt, rt = split_tokens(s, sep), split_tokens(t, sep)
    if not lt or not rt:
        return 0.0
    total = 0.0  # summed in order, as Spark's avg sums
    for w in lt:
        total += max(jw(w, v) for v in rt)
    return total / len(lt)


def monge_elkan(
    pairs: DataFrame,
    left_col: str = "left_name",
    right_col: str = "right_name",
    sep: str = " ",
    precision: int = 6,
    out_col: str = "monge_elkan",
) -> DataFrame:
    """Monge-Elkan similarity (Monge & Elkan, KDD'96): the mean, over left
    tokens, of each token's best Jaro-Winkler match among the right
    tokens — the classic unweighted hybrid scorer (SoftTFIDF's ancestor;
    asymmetric by definition, like the original).

    ``ME(S,T) = (1/|S|) Σ_{w∈S} max_{v∈T} jw(w, v)``

    A score depends on its row's two names alone: one scalar pandas UDF
    runs :func:`monge_elkan_score` per row with a token-pair JW memo per
    Arrow batch, so the plan is one ArrowEvalPython and no exchange, and
    only the two name columns cross into Python.  The UDF returns the
    UNROUNDED mean and ``F.round`` (HALF_UP) rounds it JVM-side: means of
    per-token-rounded JW land on exact decimal halves, where Spark and
    DuckDB round differently.

    One output row per input row, columns ``[*pairs.columns, out_col]``.
    A null name, or a side with no tokens, scores 0.0; a null in another
    column does not change the score (the earlier join back on all
    columns scored such a row 0.0).
    """

    @F.pandas_udf(DoubleType())
    def _me(left: pd.Series, right: pd.Series) -> pd.Series:
        jw = functools.lru_cache(maxsize=None)(jaro_winkler)
        out = [monge_elkan_score(a, b, sep, jw) for a, b in zip(left, right)]
        return pd.Series(out, dtype="float64")

    score = F.round(_me(F.col(left_col), F.col(right_col)), precision)
    return pairs.select(*pairs.columns, score.alias(out_col))


def damerau_levenshtein(s1: str, s2: str) -> int:
    """TRUE Damerau-Levenshtein distance (Lowrance & Wagner 1975) —
    unrestricted adjacent transpositions, so "CA"→"ABC" is 2 (transpose
    then insert), not the 3 the restricted OSA variant gives.  Chosen to
    match DuckDB's native ``damerau_levenshtein`` exactly (verified:
    CA/ABC → 2), which makes the SQL oracle a fully independent
    implementation.  Codepoint-level, like the JW kernel.
    """
    l1, l2 = len(s1), len(s2)
    if l1 == 0:
        return l2
    if l2 == 0:
        return l1
    maxdist = l1 + l2
    da: dict[str, int] = {}
    d = [[0] * (l2 + 2) for _ in range(l1 + 2)]
    d[0][0] = maxdist
    for i in range(l1 + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(l2 + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    for i in range(1, l1 + 1):
        db = 0
        for j in range(1, l2 + 1):
            k = da.get(s2[j - 1], 0)
            prev_db = db
            if s1[i - 1] == s2[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,                      # substitute / match
                d[i + 1][j] + 1,                     # insert
                d[i][j + 1] + 1,                     # delete
                d[k][prev_db] + (i - k - 1) + 1 + (j - prev_db - 1),
            )
        da[s1[i - 1]] = i
    return d[l1 + 1][l2 + 1]


@F.pandas_udf(IntegerType())
def damerau_levenshtein_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    """Arrow-batched true-DL distance with the batch-wide distinct-pair
    memo (functions/udfs.py pattern — Zipfian name data repeats pairs)."""
    memo: dict[tuple[str, str], int | None] = {}
    out = []
    for a, b in zip(left, right):
        key = (a, b)
        if key not in memo:
            memo[key] = (
                None if a is None or b is None else damerau_levenshtein(a, b)
            )
        out.append(memo[key])
    return pd.Series(out, dtype="Int32")


def damerau_ratio(
    left: str | F.Column, right: str | F.Column
) -> F.Column:
    """1 − true_DL / max(len) — the transposition-aware companion of
    :func:`levenshtein_ratio` ("form 1040" vs "from 1040" scores 0.889
    here vs 0.778 by plain Levenshtein).  Distance crosses the JVM/Python
    boundary once (Arrow); the ratio arithmetic stays JVM-side so the
    rounding story is identical to levenshtein_ratio's.  Both-empty → 1.0.
    """
    lc = F.col(left) if isinstance(left, str) else left
    rc = F.col(right) if isinstance(right, str) else right
    longest = F.greatest(F.length(lc), F.length(rc))
    return F.when(longest == 0, F.lit(1.0)).otherwise(
        F.lit(1.0)
        - damerau_levenshtein_udf(lc, rc).cast("double") / longest
    )


def chargram_idf_dim(
    docs: DataFrame,
    text_col: str = "name",
    n: int = 3,
) -> DataFrame:
    """(gram, idf) dictionary over character n-grams — the
    :func:`token_idf_dim` analog at sub-word granularity (same sklearn
    smoothing).  Char grams survive typos and concatenations that break
    whole-token matching; the dim is alphabet^n-bounded, far smaller than
    a token vocabulary at web scale, so downstream joins broadcast.
    """
    grams = docs.select(
        F.explode(F.array_distinct(_chargrams(F.col(text_col), n))).alias("gram")
    )
    df_counts = grams.groupBy("gram").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    return df_counts.crossJoin(F.broadcast(total)).select(
        "gram",
        (
            F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            + F.lit(1.0)
        ).alias("idf"),
    )


def _chargrams(col: F.Column, n: int) -> F.Column:
    """All length-``n`` substrings, JVM-side: sequence + transform +
    substring (empty array for strings shorter than ``n``)."""
    return F.when(
        F.length(col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(col) - (n - 1)),
            lambda i: col.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def chargram_cosine(
    pairs: DataFrame,
    idf_dim: DataFrame,
    left_col: str = "left_name",
    right_col: str = "right_name",
    n: int = 3,
    precision: int = 6,
    out_col: str = "gram_cosine",
    default_idf: float = 0.0,
) -> DataFrame:
    """TF-IDF cosine over distinct character n-grams — the string-grouper
    / sparse-vector fuzzy-match pattern: with binary tf, the dot product
    is Σ idf(g)² over SHARED grams and the norms are per-side Σ idf².
    Catches typos ("goldenrod"/"goldenrd" share 6 of 7 grams) with ZERO
    Python in the hot path — grams, idf join, and cosine are all JVM
    expressions inside whole-stage codegen, making this the cheapest
    fuzzy scorer in the family (JW/DL cross Arrow; this doesn't).

    Plan: the dot needs only SHARED grams, and each side's ||·||₂ is a
    function of that side's NAME alone — so the per-pair explode covers
    ``A∩B`` (typically a small fraction of ``A∪B`` on non-duplicate
    pairs), and the norms come from two distinct-name dims (≤ corpus
    names, not pair-side rows) joined back null-safely.  vs the
    union-explode shape this shuffles several-fold fewer gram rows and
    computes each name's norm once instead of once per pair side
    (guide §2.3/§2.4; sf0.1 A/B: 2.01 s → 0.95 s, all 160k pair values
    identical).  Float equivalence: the dot sums the same idf² values in
    the same (first-array) order ``array_intersect`` shares with the old
    union explode's left section, and the per-name norm sums run in gram
    array order — the same per-side order as before — so sums are
    bit-identical; the final combine is the same expression.

    Row contract (unchanged): one output row per DISTINCT input row —
    the input is deduplicated up front, which keeps duplicate rows from
    double-counting the dot (and is exactly the value the old shape's
    ratio-cancellation produced, without its ×2-under-sqrt fp wobble).
    """
    cols = list(pairs.columns)
    uniq = pairs.dropDuplicates(cols)
    lg = F.array_distinct(_chargrams(F.col(left_col), n))
    rg = F.array_distinct(_chargrams(F.col(right_col), n))
    # explode_outer: a pair with NO shared grams still emits one
    # null-gram row, so every distinct input row reaches the output
    exploded = uniq.select(
        *cols, F.explode_outer(F.array_intersect(lg, rg)).alias("gram")
    )
    joined = exploded.join(idf_dim, "gram", "left")
    _i = F.coalesce(F.col("idf"), F.lit(float(default_idf)))
    sq = F.when(F.col("gram").isNotNull(), _i * _i).otherwise(F.lit(0.0))
    dots = joined.groupBy(*cols).agg(F.sum(sq).alias("_dot"))

    def _norm_dim(names: DataFrame, out: str) -> DataFrame:
        g = names.select(
            "_nm",
            F.explode_outer(
                F.array_distinct(_chargrams(F.col("_nm"), n))
            ).alias("gram"),
        )
        j = g.join(idf_dim, "gram", "left")
        _ii = F.coalesce(F.col("idf"), F.lit(float(default_idf)))
        s = F.when(F.col("gram").isNotNull(), _ii * _ii).otherwise(F.lit(0.0))
        return j.groupBy("_nm").agg(F.sum(s).alias(out))

    # null-safe equi-joins: a NULL name must keep its rows (and score 0.0
    # via the empty-gram norm), not fall out of a null-dropping join key
    ldim = _norm_dim(pairs.select(F.col(left_col).alias("_nm")).distinct(), "_l2")
    rdim = _norm_dim(pairs.select(F.col(right_col).alias("_nm")).distinct(), "_r2")
    withn = (
        dots.join(ldim, F.col(left_col).eqNullSafe(ldim["_nm"]), "left")
        .drop(ldim["_nm"])
        .join(rdim, F.col(right_col).eqNullSafe(rdim["_nm"]), "left")
        .drop(rdim["_nm"])
    )
    score = F.when(
        (F.col("_l2") > 0) & (F.col("_r2") > 0),
        F.col("_dot") / (F.sqrt("_l2") * F.sqrt("_r2")),
    ).otherwise(F.lit(0.0))
    return withn.select(
        *cols, F.round(score, precision).alias(out_col)
    )
