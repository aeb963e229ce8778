"""Vectorised (Arrow/pandas) UDFs wrapping the pure kernel.

The input contract (BASELINE.json input_hint) forbids per-row Python UDFs:
everything here is a pandas UDF, so rows cross the JVM/Python boundary in
Arrow record batches.  Inside a batch we apply the kernel once per
*distinct* input (a dict memo, or ``drop_duplicates`` + map), which
collapses the Zipfian repetition of real name data — the same trick the
reference uses with its per-item memo cache (match.py:1029-1048), but
batch-wide.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.cascade import match_names
from ..kernel.records import address_match, check_for_match, identifier_match
from ..text.normalize import tidy_name

DECISION_SCHEMA = StructType(
    [
        StructField("matched", BooleanType()),
        StructField("kind", StringType()),
        StructField("rule", StringType()),
    ]
)

# Stopwords excluded from blocking keys: high-document-frequency tokens that
# would create mega-blocks (the graft analog of the reference's skip_tags,
# /root/reference/matcher/place.py:70-85).
BLOCK_STOPWORDS = frozenset(
    "the a an of and at in de di le la les von old new street road church house".split()
)


def _memoised(series: pd.Series, fn) -> pd.Series:
    """Apply ``fn`` once per distinct value, then broadcast back."""
    uniq = series.drop_duplicates()
    mapped = {v: fn(v) for v in uniq}
    return series.map(mapped)


@F.pandas_udf(DECISION_SCHEMA)
def name_decision_udf(
    left: pd.Series, right: pd.Series, endings: pd.Series, places: pd.Series
) -> pd.DataFrame:
    """Pair decision: (left_name, right_name, endings[], place_names[]) ->
    (matched, kind, rule).  M1 as a vectorised stage (SURVEY.md §2.4)."""
    out_matched, out_kind, out_rule = [], [], []
    memo: dict[tuple, tuple] = {}
    for l, r, e, p in zip(left, right, endings, places):
        e_key = tuple(e) if e is not None else None
        p_key = tuple(p) if p is not None else None
        key = (l, r, e_key, p_key)
        if key in memo:
            res = memo[key]
        else:
            decision = (
                match_names(l, r, endings=e_key, place_names=p_key)
                if l is not None and r is not None
                else None
            )
            res = (
                (True, decision.kind, decision.rule)
                if decision
                else (False, None, None)
            )
            memo[key] = res
        out_matched.append(res[0])
        out_kind.append(res[1])
        out_rule.append(res[2])
    return pd.DataFrame(
        {"matched": out_matched, "kind": out_kind, "rule": out_rule}
    )


def _strip_house(endings: tuple | None, item_is_hamlet: bool) -> tuple | None:
    """The reference's trim_house gate, per ITEM side: hamlets do not get
    the "house" trim ending (matcher.py:1036-1046's
    ``trim_house=not item.is_hamlet()``)."""
    if item_is_hamlet and endings:
        return tuple(e for e in endings if e != "house")
    return endings


@F.pandas_udf(DECISION_SCHEMA)
def pair_decision_udf(
    left_names: pd.Series,
    right_names: pd.Series,
    endings: pd.Series,
    places: pd.Series,
    left_hamlet: pd.Series,
    right_hamlet: pd.Series,
) -> pd.DataFrame:
    """One candidate pair's decision over its whole name cross-product:
    every left name is crossed with every right name, and a null name
    never matches.  ``matched`` is the OR over the crossings; ``kind`` and
    ``rule`` are each the minimum over the matched crossings, taken
    separately, so the two may come from different crossings.

    Each crossing is symmetric: try (l, r), fall back to (r, l).  The
    cascade is asymmetric (record-side-only retries like drop_initials,
    match.py:688-693), so symmetric workloads need both directions, and
    the reverse direction short-circuits when the forward one matched.

    The house-trim gate is PER-DIRECTION, mirroring the reference's
    per-item ``trim_house=not item.is_hamlet()`` (matcher.py:1036-1046):
    direction (l, r) treats ``r`` as the item side, so it drops the
    "house" ending iff ``right_hamlet``; the reverse direction iff
    ``left_hamlet``.  A hamlet paired with a non-hamlet "X House" entity
    can therefore still merge via the direction whose item side is the
    non-hamlet — a pair-level either-side fold would lose that asymmetry.

    Crossings are memoised on ``(l, r, endings, places, lh, rh)`` for one
    Arrow batch, the batch-wide form of the reference's per-item memo
    (match.py:1029-1048).
    """
    out_matched, out_kind, out_rule = [], [], []
    memo: dict[tuple, tuple] = {}
    for ls, rs, e, p, lh, rh in zip(
        left_names, right_names, endings, places, left_hamlet, right_hamlet
    ):
        e_key = tuple(e) if e is not None else None
        p_key = tuple(p) if p is not None else None
        lh, rh = bool(lh), bool(rh)
        matched, kind, rule = False, None, None
        for l in ls:
            for r in rs:
                if l is None or r is None:
                    continue
                key = (l, r, e_key, p_key, lh, rh)
                if key not in memo:
                    memo[key] = match_names(
                        l, r, endings=_strip_house(e_key, rh), place_names=p_key
                    ) or match_names(
                        r, l, endings=_strip_house(e_key, lh), place_names=p_key
                    )
                decision = memo[key]
                if decision:
                    matched = True
                    kind = decision.kind if kind is None else min(kind, decision.kind)
                    rule = decision.rule if rule is None else min(rule, decision.rule)
        out_matched.append(matched)
        out_kind.append(kind)
        out_rule.append(rule)
    return pd.DataFrame(
        {"matched": out_matched, "kind": out_kind, "rule": out_rule}
    )


PAIR_SCORE_SCHEMA = StructType(
    [
        StructField("matched", BooleanType()),
        StructField("best_kind", StringType()),
        StructField("n_keys", IntegerType()),
        StructField("match_json", StringType()),
    ]
)

# kind ranking for best_kind (strongest first)
_KIND_RANK = {
    "good": 0,
    "wikidata_trimmed": 1,
    "both_trimmed": 2,
    "trim": 3,
    "prefix": 4,
    "initials": 5,
    "initials_trim": 6,
    "address": 7,
}


@F.pandas_udf(PAIR_SCORE_SCHEMA)
def pair_score_udf(
    tags_json: pd.Series,
    names_json: pd.Series,
    endings: pd.Series,
    places: pd.Series,
) -> pd.DataFrame:
    """Record-level scoring: full check_for_match over one (record, entity)
    pair (M2).  tags/names arrive JSON-encoded (map-of-map types are cheaper
    as strings across Arrow for sparse dicts)."""
    matched, best, nkeys, blob = [], [], [], []
    memo: dict[tuple, tuple] = {}
    for t, n, e, p in zip(tags_json, names_json, endings, places):
        e_key = tuple(e) if e is not None else None
        p_key = tuple(p) if p is not None else None
        key = (t, n, e_key, p_key)
        if key in memo:
            res = memo[key]
        else:
            tags = json.loads(t) if t else {}
            names = json.loads(n) if n else {}
            result = check_for_match(
                tags, names, endings=e_key, place_names=p_key
            )
            if result:
                kinds = [entry[0] for hits in result.values() for entry in hits]
                top = min(kinds, key=lambda k: _KIND_RANK.get(k, 99))
                res = (
                    True,
                    top,
                    len(result),
                    json.dumps(result, ensure_ascii=False, sort_keys=True),
                )
            else:
                res = (False, None, 0, None)
            memo[key] = res
        matched.append(res[0])
        best.append(res[1])
        nkeys.append(res[2])
        blob.append(res[3])
    return pd.DataFrame(
        {"matched": matched, "best_kind": best, "n_keys": nkeys, "match_json": blob}
    )


@F.pandas_udf(BooleanType())
def identifier_match_udf(tags_json: pd.Series, ids_json: pd.Series) -> pd.Series:
    """M4 as a vectorised stage; inputs JSON-encoded."""
    return pd.Series(
        [
            identifier_match(json.loads(t) if t else {}, json.loads(i) if i else {})
            for t, i in zip(tags_json, ids_json)
        ]
    )


@F.pandas_udf(StringType())
def address_match_udf(tags_json: pd.Series, names: pd.Series) -> pd.Series:
    """M5 tri-state, encoded as 'true'/'false'/null string column."""

    def _encode(v: bool | None) -> str | None:
        return None if v is None else ("true" if v else "false")

    out = []
    for t, n in zip(tags_json, names):
        tags = json.loads(t) if t else {}
        out.append(_encode(address_match(tags, list(n) if n is not None else [])))
    return pd.Series(out)


@F.pandas_udf(StringType())
def tidy_name_udf(names: pd.Series) -> pd.Series:
    """N1 as a column (memoised per distinct value)."""
    return _memoised(names.fillna(""), lambda v: tidy_name(v.lower()))


_SPLIT_NON_ALNUM = re.compile(r"[^0-9a-z]+")


def _block_tokens(value: str) -> list[str]:
    """N10 for one name: its distinct normalised tokens, sorted."""
    if not value:
        return []
    tokens = [
        tok
        for tok in _SPLIT_NON_ALNUM.split(tidy_name(value.lower()))
        if len(tok) >= 2 and tok not in BLOCK_STOPWORDS
    ]
    return sorted(set(tokens))


@F.pandas_udf(ArrayType(StringType()))
def block_tokens_udf(names: pd.Series) -> pd.Series:
    """N10 blocking normaliser: name -> distinct normalised tokens.

    transliterate -> lower -> tidy -> split -> drop stopwords/short tokens.
    The token set is the graft's replacement for the reference's spatial
    blocking predicate (ST_DWithin, matcher.py:297-306).
    """
    return _memoised(names.fillna(""), _block_tokens)


@F.pandas_udf(ArrayType(StringType()))
def block_tokens_array_udf(names: pd.Series) -> pd.Series:
    """:func:`block_tokens_udf` over a names array: the sorted union of
    every name's tokens, each distinct name tokenised once per batch."""
    memo: dict[str, list[str]] = {}

    def _union(row) -> list[str]:
        out: set[str] = set()
        for name in row:
            if name not in memo:
                memo[name] = _block_tokens(name)
            out.update(memo[name])
        return sorted(out)

    return pd.Series([_union(row) for row in names])


NAMES_ENTRY_SCHEMA = ArrayType(
    StructType(
        [
            StructField("name", StringType()),
            StructField("sources", StringType()),
        ]
    )
)


@F.pandas_udf(NAMES_ENTRY_SCHEMA)
def names_from_entity_udf(entity_json: pd.Series) -> pd.Series:
    """F2 as a vectorised stage: entity JSON document -> [(name, sources)]
    where sources is 'source:lang|source:lang|...' (lang empty when None).
    Semantics: kernel.names.names_from_entity (wikidata.py:933-1015)."""
    from ..kernel.names import names_from_entity

    def _one(blob: str):
        entity = json.loads(blob) if blob else None
        names = names_from_entity(entity) if entity else None
        if not names:
            return []
        return [
            {
                "name": name,
                "sources": "|".join(
                    f"{src}:{lang if lang is not None else ''}" for src, lang in hits
                ),
            }
            for name, hits in names.items()
        ]

    return _memoised(entity_json, _one)


@F.pandas_udf(BooleanType())
def address_in_extract_udf(tags_json: pd.Series, extract: pd.Series) -> pd.Series:
    """M6 as a vectorised stage."""
    from ..kernel.records import address_in_extract

    out = []
    for t, e in zip(tags_json, extract):
        out.append(address_in_extract(json.loads(t) if t else {}, e or ""))
    return pd.Series(out)


PROPER_NAME_SCHEMA = StructType(
    [
        StructField("proper", BooleanType()),
        StructField("housename_or_operator", BooleanType()),
    ]
)


@F.pandas_udf(PROPER_NAME_SCHEMA)
def proper_name_flags_udf(match_json: pd.Series) -> pd.DataFrame:
    """G2 predicates from the serialised M2 match map (the match_json
    column of pair_score_udf) — feeds reduce.prefer_proper_name_match."""
    from ..kernel.records import proper_name_match_flags

    proper, fallback = [], []
    for blob in match_json:
        found = json.loads(blob) if blob else {}
        p, f = proper_name_match_flags(found)
        proper.append(p)
        fallback.append(f)
    return pd.DataFrame({"proper": proper, "housename_or_operator": fallback})


@F.pandas_udf(ArrayType(StringType()))
def html_names_udf(article: pd.Series) -> pd.Series:
    """F7 bold-name extraction as a vectorised stage
    (wikipedia.py:126-139 semantics, regex reproduction — see text/html.py)."""
    from ..text.html import html_names

    return article.map(html_names)


GET_ALL_MATCHES_SCHEMA = ArrayType(
    StructType(
        [
            StructField("osm_key", StringType()),
            StructField("osm_name", StringType()),
            StructField("entity_name", StringType()),
            StructField("kind", StringType()),
        ]
    )
)


@F.pandas_udf(GET_ALL_MATCHES_SCHEMA)
def get_all_matches_udf(
    tags_json: pd.Series, names: pd.Series, endings: pd.Series
) -> pd.Series:
    """M3 diagnostic variant (match.py:1080-1107) as a vectorised stage:
    every matching (osm name, entity name) pair, flat."""
    from ..kernel.records import get_all_matches

    out = []
    for t, n, e in zip(tags_json, names, endings):
        tags = json.loads(t) if t else {}
        entity_names = {v: None for v in n} if n is not None else {}
        hits = get_all_matches(tags, entity_names, tuple(e) if e is not None else None)
        out.append(
            [
                {"osm_key": k, "osm_name": o, "entity_name": w, "kind": kind}
                for k, o, w, kind in hits
            ]
        )
    return pd.Series(out)
