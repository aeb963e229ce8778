"""Repetition-based quality signals for pretraining-data filtering.

The statistics follow the Gopher repetition-filter family (Rae et al.
2021, "Scaling Language Models", table A1; the same signals drive the
MassiveText / RedPajama-v2 / Dolma quality pipelines): fraction of
duplicate lines, fraction of characters inside duplicate lines, fraction
of characters covered by the most frequent word n-gram (n = 2..4), and
fraction of characters inside word n-grams that occur more than once
(n = 5..10).  A document failing any thresholded signal is boilerplate-
or loop-heavy and a standard drop candidate.

Two deliberate, documented definition choices keep every value exactly
reproducible in plain SQL (the oracle) at any partitioning:

* the "most frequent n-gram" tie-break is lexicographic on
  ``(count, count*len(gram))`` — of the max-count grams, the one covering
  the most characters wins (both engines compute it as a struct max);
* the duplicated-n-gram character fraction counts ``count * len(gram)``
  over every gram with count ≥ 2 — the RedPajama-style occurrence-sum
  upper bound, NOT the span-union Gopher used (the span union needs
  per-position interval merging, which is neither SQL-expressible nor
  needed: callers threshold the signal, and the bound is monotone in the
  same repetition it measures).  It can exceed 1.0 on degenerate text.

Spark shape (scale notes): ZERO SHUFFLE.  Every statistic here is a pure
function of ONE document, so nothing should ever cross the wire.  The
JVM side owns every string-semantics step (normalise, split, trim,
lengths) and the final fraction/rounding arithmetic; the per-document
run counting — pure INTEGER combinatorics once words are keyed — runs
as one Arrow-batched numpy kernel (``functions.arrow.map_batches``, a
map: no exchange).
History of the shape, both measured at sf0.1:

* round 4 exploded ~n×W gram rows per document through two hash
  aggregations — a corpus-sized shuffle for doc-local facts (2.9×);
* round 5 replaced that with per-row ``array_sort`` + ``aggregate``
  run scans — shuffle-free, but higher-order lambdas are interpreted
  (CodegenFallback), ~50 µs per gram element;
* round 6 moved the counting into numpy: factorize the per-word hashes,
  build window identities by code doubling (exact — no gram-level hash
  at all, strictly FEWER collisions than the xxhash64-of-slice identity
  it replaces), count runs with one sort per n.  2.53 s → 0.53 s
  (min-of-4 interleaved), value-identical on all three test scale
  factors, the 240-doc randomized differential corpus and the
  null/whitespace edge set.

This is the guide-§4 judgement call in the unusual direction: the JVM
alternative here is NOT codegen but interpreted expression trees, so
one Arrow boundary buys ~5× — while everything Unicode-sensitive stays
JVM-side so the Python kernel never touches string semantics.  Skew: a
degenerate giant document costs one task's CPU (O(W log W) sorts), the
same row it always occupied — no hot key, because there are no keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.arrow import map_batches
from .dedup import normalize_text
from .scoring import quote_sep

_PACK = 4294967296  # 2^32: (count, chars) packed into one BIGINT


def _stats_kernel(all_ns: tuple[int, ...]):
    """Batch kernel: exact integer run stats over prepared rows.

    Input rows carry ``(doc_id, total_chars, _wh, _wl, _lines)`` — all
    string semantics (normalise/split/trim/length) already applied
    JVM-side.  Emits per-row line-run counts plus, per n, the Gopher
    packed-tie-break top-gram chars and duplicated-gram chars:

    * gram identity is the EXACT window of factorized per-word hash ids
      (code doubling: a length-n window code is the factorized pair of a
      ⌊n/2⌋ and a ⌈n/2⌉ window code), so two grams compare equal iff
      their word-hash sequences do — strictly fewer collisions than the
      ``xxhash64(slice)`` identity this replaced, identical absent
      collisions (which the sf oracles pin);
    * per (doc, gram) counts come from one sort per n; per-doc top is
      ``max(c·2^32 + c·glen) % 2^32`` and dup is ``Σ c·glen over c>1`` —
      the same packed lexicographic (count, chars) tie-break as before
      (exact while chars < 2^32, documents to ~400 MB);
    * a doc shorter than n words contributes its single sub-length gram:
      count 1, ``glen = Σ word lens + W − 1`` — no identity needed.

    All arithmetic is int64; no floats, no string ops, no randomness.
    """

    def kernel(pdf):
        import numpy as np

        m = len(pdf)
        out = {
            "doc_id": pdf["doc_id"],
            "total_chars": pdf["total_chars"],
        }
        n_lines = np.zeros(m, dtype=np.int64)
        n_line_chars = np.zeros(m, dtype=np.int64)
        dup_lines = np.zeros(m, dtype=np.int64)
        dup_line_chars = np.zeros(m, dtype=np.int64)
        for i, lines in enumerate(pdf["_lines"]):
            if lines is None:
                continue
            counts: dict = {}
            tot = 0
            for ln in lines:
                counts[ln] = counts.get(ln, 0) + 1
                tot += len(ln)
            n_lines[i] = len(lines)
            n_line_chars[i] = tot
            dl = dlc = 0
            for ln, c in counts.items():
                if c > 1:
                    dl += c
                    dlc += c * len(ln)
            dup_lines[i] = dl
            dup_line_chars[i] = dlc
        out.update(
            n_lines=n_lines, n_line_chars=n_line_chars,
            dup_lines=dup_lines, dup_line_chars=dup_line_chars,
        )

        whs = pdf["_wh"].to_numpy()
        wls = pdf["_wl"].to_numpy()
        valid_rows = np.array([w is not None for w in whs], dtype=bool)
        # rows without words stay masked: null top/dup counts
        tops = {n: np.ma.masked_all(m, np.int64) for n in all_ns}
        dups = {n: np.ma.masked_all(m, np.int64) for n in all_ns}
        if valid_rows.any():
            arrs = [np.asarray(whs[i], dtype=np.int64)
                    for i in range(m) if valid_rows[i]]
            lens = [np.asarray(wls[i], dtype=np.int64)
                    for i in range(m) if valid_rows[i]]
            row_ids = np.flatnonzero(valid_rows)
            W = np.array([len(a) for a in arrs], dtype=np.int64)
            flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
            flen = np.concatenate(lens) if lens else np.empty(0, np.int64)
            starts = np.zeros(len(arrs) + 1, dtype=np.int64)
            np.cumsum(W, out=starts[1:])
            doc_of = np.repeat(np.arange(len(arrs)), W)
            cum = np.zeros(len(flat) + 1, dtype=np.int64)
            np.cumsum(flen, out=cum[1:])
            _, ids = np.unique(flat, return_inverse=True)
            ids = ids.astype(np.int64)

            def pack(a, b):
                # operand codes are factorized (< corpus positions
                # < 2^32), so the 32/32 pack is collision-free
                c = (a << np.int64(32)) | b
                _, inv = np.unique(c, return_inverse=True)
                return inv.astype(np.int64)

            codes = {1: ids}

            def code_for(n: int):
                # code of the length-n window at each flat position p
                # (positions whose window crosses a doc boundary get a
                # garbage code; they are filtered before counting)
                if n in codes:
                    return codes[n]
                half = n // 2
                a = code_for(half)
                b = code_for(n - half)
                c = pack(a[: len(flat) - n + 1],
                         b[half: half + len(flat) - n + 1])
                codes[n] = c
                return c

            for n in all_ns:
                top_n = np.zeros(len(arrs), dtype=np.int64)
                dup_n = np.zeros(len(arrs), dtype=np.int64)
                full = W >= n
                if full.any() and len(flat) >= n:
                    c = code_for(n)
                    p = np.arange(len(flat) - n + 1)
                    ok = doc_of[p] == doc_of[p + n - 1]
                    pos = p[ok]
                    if pos.size:
                        gdoc = doc_of[pos]
                        glen = cum[pos + n] - cum[pos] + (n - 1)
                        key = (gdoc << np.int64(32)) | c[pos]
                        order = np.argsort(key, kind="stable")
                        ks = key[order]
                        gl = glen[order]
                        gd = gdoc[order]
                        bound = np.flatnonzero(
                            np.r_[True, ks[1:] != ks[:-1]]
                        )
                        cnt = np.diff(np.r_[bound, len(ks)])
                        rep_len = gl[bound]
                        rep_doc = gd[bound]
                        packed = cnt * _PACK + cnt * rep_len
                        dupv = np.where(cnt > 1, cnt * rep_len, 0)
                        dbound = np.flatnonzero(
                            np.r_[True, rep_doc[1:] != rep_doc[:-1]]
                        )
                        tmax = np.maximum.reduceat(packed, dbound)
                        dsum = np.add.reduceat(dupv, dbound)
                        present = rep_doc[dbound]
                        top_n[present] = tmax % _PACK
                        dup_n[present] = dsum
                sub = ~full
                if sub.any():
                    si = np.flatnonzero(sub)
                    gl = cum[starts[si + 1]] - cum[starts[si]] + W[si] - 1
                    top_n[si] = (1 * _PACK + gl) % _PACK
                    dup_n[si] = 0
                tops[n][row_ids] = top_n
                dups[n][row_ids] = dup_n
        for n in all_ns:
            out[f"top{n}"] = tops[n]
            out[f"dup{n}"] = dups[n]
        return out

    return kernel


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ngram_ns: tuple[int, ...] = (2, 3, 4),
    dup_ngram_ns: tuple[int, ...] = (5, 10),
    line_delim: str = "\n",
) -> DataFrame:
    """Per-document repetition signals.

    Returns one row per input document::

        (doc_id,
         dup_line_frac,       -- lines whose text occurs >1x / all lines
         dup_line_char_frac,  -- chars inside those lines / all line chars
         top_{n}gram_frac...  -- chars covered by the most frequent n-gram
                              --   / chars of the normalised text
         dup_{n}gram_frac...) -- occurrence-sum chars of n-grams with
                              --   count >= 2 / chars of normalised text

    Lines are the raw ``line_delim`` split, trimmed, empties dropped
    (pass ``"\\n\\n"`` for paragraph-level stats); n-grams are word grams
    of the whitespace-collapsed lowercased text, so they are independent
    of line structure.  All fractions are rounded to 6 decimals and
    coalesced to 0.0 for degenerate inputs (empty text → no lines, no
    chars).  Documents shorter than ``n`` words contribute one sub-length
    gram (same convention as the dedup shingles).

    Gram identity is the exact window of factorized per-word xxhash64
    ids (see :func:`_stats_kernel`) and the gram STRING is never built:
    each word is hashed once and measured once.  Two distinct grams of
    one document alias only on a per-WORD xxhash64 collision (strictly
    rarer than the old per-GRAM ``xxhash64(slice)`` aliasing); the
    thresholded statistics are insensitive at that rate and the sf0.01
    oracle pins the collision-free semantics exactly.
    """
    all_ns = tuple(sorted(set(top_ngram_ns) | set(dup_ngram_ns)))
    doc = F.col(id_col).alias("doc_id")
    norm = normalize_text(text_col)
    words = F.split(norm, " ")

    # NB: the lambda is load-bearing — F.trim grew an optional second
    # (trim-characters) parameter in Spark 4, so passing it bare would make
    # transform() call trim(line, index): each line stripped of its INDEX's
    # digit characters instead of spaces (caught by the randomized
    # differential test on edge-space lines; the sf0.01 oracle data never
    # exercised them)
    lines_arr = F.filter(
        F.transform(
            F.split(F.col(text_col), quote_sep(line_delim)),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )

    prepared = docs.select(
        doc,
        F.length(norm).alias("total_chars"),
        F.transform(words, lambda x: F.xxhash64(x)).alias("_wh"),
        F.transform(words, lambda x: F.length(x)).alias("_wl"),
        lines_arr.alias("_lines"),
    )
    id_type = prepared.schema["doc_id"].dataType.simpleString()
    stats_schema = (
        f"doc_id {id_type}, total_chars int, n_lines long, "
        "n_line_chars long, dup_lines long, dup_line_chars long, "
        + ", ".join(
            f"{c} long"
            for n in all_ns
            for c in (f"top{n}", f"dup{n}")
        )
    )
    stats = map_batches(prepared, _stats_kernel(all_ns), stats_schema)

    def frac(num: F.Column, den: F.Column) -> F.Column:
        return F.coalesce(
            F.round(F.when(den > 0, num / den), 6), F.lit(0.0)
        )

    return stats.select(
        "doc_id",
        frac(F.col("dup_lines"), F.col("n_lines")).alias("dup_line_frac"),
        frac(F.col("dup_line_chars"), F.col("n_line_chars")).alias(
            "dup_line_char_frac"
        ),
        *[
            frac(F.col(f"top{n}"), F.col("total_chars")).alias(
                f"top_{n}gram_frac"
            )
            for n in top_ngram_ns
        ],
        *[
            frac(F.col(f"dup{n}"), F.col("total_chars")).alias(
                f"dup_{n}gram_frac"
            )
            for n in dup_ngram_ns
        ],
    )
