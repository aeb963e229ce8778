"""Meta-test: the synthetic transcript generator's ground truth is consistent
with the kernel — every intra-group name pair matches (and shares a blocking
token, so the pipeline will actually score it); no cross-group pair matches.

This is what makes pairwise F1 == 1.0 achievable by construction, per the
BASELINE.json metric definition ("labeled pairs at the same blocking key").
"""

from __future__ import annotations

import re

from osm_wikidata_spark.functions.udfs import BLOCK_STOPWORDS
from osm_wikidata_spark.kernel.cascade import match_names
from osm_wikidata_spark.sources.transcripts import (
    ENDING_RULES,
    GLOBAL_ENDINGS,
    HAMLET_NAMES,
    PLACE_CONTEXT,
    VARIANT_GROUPS,
)
from osm_wikidata_spark.text.normalize import tidy_name

_SPLIT = re.compile(r"[^0-9a-z]+")


def _tokens(name: str) -> set[str]:
    return {
        t
        for t in _SPLIT.split(tidy_name(name.lower()))
        if len(t) >= 2 and t not in BLOCK_STOPWORDS
    }


def _block_keys(name: str) -> set[str]:
    """All three pipeline blocking channels: tokens, full-name, acronym
    (mirrors plans/pipeline.py extract_entities)."""
    keys = set(_tokens(name))
    keys.add("full:" + " ".join(name.lower().split()))
    words = [w for w in _SPLIT.split(name.lower().strip()) if w]
    if len(words) >= 3:
        keys.add("acro:" + "".join(w[0] for w in words))
    elif len(words) == 1 and 3 <= len(words[0]) <= 6 and words[0].isalpha():
        keys.add("acro:" + words[0])
    return keys


def _dir_endings(a: str, b: str) -> set[str]:
    """GLOBAL_ENDINGS plus both sides' derived endings for the direction
    match_names(a, b), where ``b`` is the item side: "house" is discarded
    iff the ITEM is a hamlet (matcher.py:1036-1046's per-item
    ``trim_house=not item.is_hamlet()``) — exactly what the pipeline's
    pair_decision_udf applies per direction of each name crossing."""
    endings = set(GLOBAL_ENDINGS)
    for name in (a, b):
        # raw name words, not blocking tokens: stopwords ("house") still
        # drive ending derivation (mirrors extract_entities)
        for word in _SPLIT.split(name.lower()):
            if word:
                endings.update(ENDING_RULES.get(word, ()))
    if b in HAMLET_NAMES:
        endings.discard("house")
    return endings


def _sym_match(a: str, b: str):
    places = {p for n in (a, b) if (p := PLACE_CONTEXT.get(n))} or None
    return match_names(a, b, _dir_endings(a, b), places) or match_names(
        b, a, _dir_endings(b, a), places
    )


def test_intra_group_pairs_match_and_share_block():
    for group in VARIANT_GROUPS:
        for i, a in enumerate(group):
            for b in group[i + 1:]:
                assert _block_keys(a) & _block_keys(b), (a, b)
                assert _sym_match(a, b), (a, b)


def test_cross_group_pairs_do_not_match():
    for gi, group in enumerate(VARIANT_GROUPS):
        for other in VARIANT_GROUPS[gi + 1:]:
            for a in group:
                for b in other:
                    assert not _sym_match(a, b), (a, b)
