"""The pairwise name-match decision cascade (SURVEY.md §2.4, M1).

A pure, deterministic re-implementation of the reference's rule cascade
(`/root/reference/matcher/match.py:198-762`), pinned by the fixtures in
`/root/reference/tests/test_match.py`.  First rule that fires wins; the
result carries a ``kind`` (the reference's MatchType) and the ``rule`` that
fired (for lineage/audit).

Spark usage: :func:`match_names` is a pure function of
``(left, right, endings, place_names)`` — trivially data-parallel, wrapped
by a vectorised pandas UDF in ``osm_wikidata_spark.functions.udfs``.

Known fixture deviation from reference *code* (intentional):
:func:`match_names` copies the ``endings`` collection per call, so the
"X at Y" rule's ``endings.remove()`` (match.py:451-456) persists across
retries *within one pair* but NOT across pairs.  The reference's
``check_for_match`` (match.py:1028-1059) threads one mutable set through
the whole names cross-product, making a pair's outcome depend on which
pairs ran before it — order-dependence that a distributed engine cannot
reproduce (Spark gives no cross-row evaluation order).  Every fixture
passes under the per-pair-copy semantics; multi-name entities whose match
relied on the shared mutation would diverge, by design.  See
``records.py`` for the sibling strip-operator fix.
"""

from __future__ import annotations

import re
from collections.abc import Collection, Iterable
from typing import NamedTuple

from ..text.normalize import (
    RE_DIGITS,
    RE_ORDINAL_NUMBER,
    RE_STRIP_NON_CHARS,
    RE_STRIP_NON_CHARS_AND_DASH,
    any_upper,
    digits_of,
    drop_article,
    number_words_form,
    ordinal_number_to_word,
    split_on_upper_and_tidy,
    strip_non_char_start,
    strip_non_letter_start,
    strip_words,
    tidy_name,
)

# Decision kinds — the reference's MatchType enum (match.py:29-40).
GOOD = "good"
WIKIDATA_TRIMMED = "wikidata_trimmed"
BOTH_TRIMMED = "both_trimmed"
TRIM = "trim"
ADDRESS = "address"
INITIALS = "initials"
INITIALS_TRIM = "initials_trim"
PREFIX = "prefix"
KINDS = (GOOD, WIKIDATA_TRIMMED, BOTH_TRIMMED, TRIM, ADDRESS, INITIALS, INITIALS_TRIM, PREFIX)

_ROAD_WORDS = ("avenue", "street", "road", "boulevard", "drive", "lane", "square")
_ROAD_ABBRS = ("ave", "st", "rd", "blvd", "dr", "ln", "sq")
RE_ROAD_END = re.compile(
    "^(.+)(" + "|".join(_ROAD_WORDS + _ROAD_ABBRS) + ") *$", re.I
)
_RE_DSC_NOISE = re.compile(r"\bdsc \d+")  # camera-image labels, match.py:426-428
_RE_TWO_SAINTS_SS = re.compile(r"\bss\b")
_RE_TWO_SAINTS_ST = re.compile(r"\bst\b")
_RE_SS_OR_ST = re.compile(r"\bs[st]\b")
_RE_KEEP_COMMAS = re.compile(r"[^@\w, ]", re.U)

_GENERIC_TRIM = ("companybuilding", "building", "complex", "office")
_OLD_PREFIXES = ("old ", "the old ", "former ", "disused ", "alte ")
_MONUMENT_PREFIXES = ("Tomb of ", "Statue of ", "Memorial to ")
_NUMBERED_HOUSE_TERMS = ("cottages", "buildings", "houses")
_INITIALS_FILLER = ("of", "de", "di", "at", "i")
_AND_SEPARATORS = ("&", " and ", " And ")


class Decision(NamedTuple):
    """Outcome of a single name comparison."""

    kind: str
    rule: str


def _chars_only(s: str, keep_dash: bool = True) -> str:
    pattern = RE_STRIP_NON_CHARS if keep_dash else RE_STRIP_NON_CHARS_AND_DASH
    return pattern.sub("", s)


def chars_only_equal(a: str, b: str, drop_dash: bool = False) -> bool:
    """Equality after stripping punctuation, guarded so digit runs must agree
    (match.py:261-272)."""
    a_key = _chars_only(a, keep_dash=not drop_dash)
    b_key = _chars_only(b, keep_dash=not drop_dash)
    return bool(a_key and b_key and a_key == b_key and digits_of(a) == digits_of(b))


def initials_decision(
    short: str, long: str, endings: Iterable[str] | None = None
) -> Decision | None:
    """Does ``short`` read as the initials of ``long``? (match.py:198-230)."""
    short_lc = short.lower()
    terms = [t for t in long.split() if t[0].isalnum()]
    initials = "".join(t[0] for t in terms).upper()
    if len(initials) < 3 or len(short) < 3:
        return None
    if initials == short:
        return Decision(INITIALS, "initials")
    if initials == "".join(c for c in short if c.isalnum()):
        return Decision(INITIALS, "initials dotted")
    for end in endings or []:
        if short_lc.endswith(end.lower()) and initials == short[: -len(end)].strip():
            return Decision(INITIALS_TRIM, "initials after ending trim")
    lc_terms = {t.lower() for t in terms}
    for filler in _INITIALS_FILLER:
        if filler in lc_terms:
            shrunk = " ".join(t for t in terms if t.lower() != filler)
            found = initials_decision(short, shrunk)
            if found:
                return found
    return None


def removed_words_decision(
    left: str, right: str, words: Iterable[str] | None
) -> Decision | None:
    """Match after deleting any single trim word from either side
    (match.py:233-258).  ``good`` when the right side survives intact."""
    words = list(words or [])
    if not words:
        return None
    left_key = _chars_only(left, keep_dash=False)
    right_key = _chars_only(right, keep_dash=False)
    word_keys = [_chars_only(w).lower() for w in words]
    # insertion-ordered de-dup keeps this deterministic (the reference used
    # sets here, which made tie-breaks hash-order dependent)
    left_versions = list(dict.fromkeys([left_key.replace(w, "") for w in word_keys] + [left_key]))
    right_versions = list(dict.fromkeys([right_key.replace(w, "") for w in word_keys] + [right_key]))

    fallback: Decision | None = None
    for lv in left_versions:
        if not lv:
            continue
        for rv in right_versions:
            if not rv or lv != rv:
                continue
            if rv == right_key:
                return Decision(GOOD, "words removed")
            kind = BOTH_TRIMMED if lv != left_key else WIKIDATA_TRIMMED
            fallback = Decision(kind, "words removed")
    return fallback


def name_prefix_remainder(left: str, right: str) -> str | None:
    """If ``right`` is a (punctuation-insensitive) prefix of ``left``, return
    the remainder of ``left`` (match.py:275-287)."""
    left_lc, right_lc = left.lower(), right.lower()
    if left_lc.startswith(right_lc):
        return left[len(right):].strip()
    space = left.find(" ")
    while space != -1:
        if chars_only_equal(left_lc[:space], right_lc):
            return left[space:].strip()
        space = left.find(" ", space + 1)
    return None


def _is_initials_token(token: str, rest: str) -> bool:
    """Token is an all-caps initialism matching ``rest`` (match.py:290-296)."""
    if any(c.islower() for c in token):
        return False
    if sum(1 for c in token if c.isupper()) < 2:
        return False
    return initials_decision(token, rest) is not None


def without_initials(name: str) -> str | None:
    """Drop a leading or trailing initialism block (match.py:309-324)."""
    first_space = name.find(" ")
    if first_space == -1:
        return None
    tail = strip_non_char_start(name[first_space:])
    if _is_initials_token(name[:first_space], tail):
        return tail
    last_space = name.rfind(" ")
    if last_space == first_space:
        return None
    head = strip_non_char_start(name[:last_space])
    if _is_initials_token(name[last_space:], head):
        return head
    return None


def names_align_on_initials(a: str, b: str) -> bool:
    """Aligned token lists where single letters stand for initials
    (match.py:346-382)."""
    if digits_of(a) != digits_of(b):
        return False
    if not any_upper(a) or not any_upper(b):
        return False
    a_parts = split_on_upper_and_tidy(a)
    b_parts = split_on_upper_and_tidy(b)
    if len(a_parts) != len(b_parts) or len(a_parts) < 3:
        for end in (" centre", " center"):
            if a.lower().endswith(end) and names_align_on_initials(a[: -len(end)], b):
                return True
        for end in (" centre", " center"):
            if b.lower().endswith(end) and names_align_on_initials(a, b[: -len(end)]):
                return True
        return False
    for pa, pb in zip(a_parts, b_parts):
        if pa == pb:
            continue
        if pa.isdigit() or pb.isdigit():
            return False
        if len(pa) == 1 and pb[0] == pa:
            continue
        if len(pb) == 1 and pa[0] == pb:
            continue
        return False
    return True


def _lone_plural_inside(single: str, multi: str) -> bool:
    """Single-word plural whose stem hides inside the other name
    (match.py:385-392) — vetoes over-eager trim matches ("Boots" != "The
    Boot Inn")."""
    return (
        " " not in single
        and " " in multi
        and single.endswith("s")
        and single not in multi
        and single[:-1] in multi
    )


def _both_two_saints(a: str, b: str) -> bool:
    """Both names are two-saint dedications, one side abbreviating Ss
    (match.py:395-403)."""
    if not all(" and " in n or " & " in n for n in (a, b)):
        return False
    return bool(
        (_RE_TWO_SAINTS_SS.search(a) and _RE_TWO_SAINTS_ST.search(b))
        or (_RE_TWO_SAINTS_ST.search(a) and _RE_TWO_SAINTS_SS.search(b))
    )


def match_names_main(
    left: str,
    right: str,
    endings: set[str] | None = None,
) -> Decision | None:
    """The ordered rule cascade (match.py:406-572 semantics).

    ``left`` is the record-side (OSM) name, ``right`` the entity-side
    (Wikidata) name.  ``endings`` may be mutated (the "X at Y" rule removes
    the prefix from the trim set — reference behaviour the fixtures rely on,
    e.g. "Stable At Nazeing Park").
    """
    if not right or not left:
        return None
    right, left = right.strip(), left.strip()

    if right == left:
        return Decision(GOOD, "identical")

    if RE_ORDINAL_NUMBER.search(left):
        left = ordinal_number_to_word(left)
    if RE_ORDINAL_NUMBER.search(right):
        right = ordinal_number_to_word(right)

    left_lc, right_lc = left.lower(), right.lower()

    if "dsc" in right_lc:
        right_lc = _RE_DSC_NOISE.sub("", right_lc)

    if _both_two_saints(left_lc, right_lc):
        left_lc = _RE_SS_OR_ST.sub("", left_lc)
        right_lc = _RE_SS_OR_ST.sub("", right_lc)

    historic_suffix = " (historic)"
    if left_lc.endswith(historic_suffix):
        left = left[: -len(historic_suffix)]
        left_lc = left_lc[: -len(historic_suffix)]

    if right_lc == left_lc:
        return Decision(GOOD, "identical except case")

    if set(left_lc.split()) == set(right_lc.split()):
        return Decision(GOOD, "matching term sets")

    if chars_only_equal(left_lc, right_lc, drop_dash=True):
        return Decision(GOOD, "strip non chars and dash")

    if names_align_on_initials(left, right):
        return Decision(GOOD, "name containing initials")

    if endings:
        at_pos = right_lc.find(" at ")
        if at_pos != -1 and right_lc[:at_pos] in endings:
            # "Stable At Nazeing Park" must not be trimmed down to the park
            endings.remove(right_lc[:at_pos])

    found = initials_decision(left, right, endings) or initials_decision(
        right, left, endings
    )
    if found:
        return found

    if chars_only_equal(left_lc, right_lc):
        return Decision(GOOD, "strip non chars")

    right_t1 = tidy_name(right_lc)
    left_t1 = tidy_name(left_lc)
    if not right_t1 or not left_t1:
        return None
    if right_t1 == left_t1:
        return Decision(GOOD, "tidy")

    def _digits_as_words_equal(a: str, b: str) -> bool:
        if not any(c.isdigit() for c in a):
            return False
        return number_words_form(a).replace("-", " ") == b.replace("-", " ")

    if _digits_as_words_equal(right_t1, left_t1) or _digits_as_words_equal(
        left_t1, right_t1
    ):
        return Decision(GOOD, "number to words")

    right_t2 = strip_words(right_t1)
    left_t2 = strip_words(left_t1)
    if right_t2 == left_t2:
        return Decision(GOOD, "strip words")

    if endings:
        if set(left_t2.split()) - set(endings) == set(right_t2.split()) - set(endings):
            return Decision(GOOD, "matching term sets minus endings")

    right_t3 = drop_article(right_t2)
    left_t3 = drop_article(left_t2)
    right_forms = {right_t3, right_t1, right_t2}
    left_forms = {left_t3, left_t1, left_t2}

    if right_t3 == left_t3:
        return Decision(GOOD, "drop article")

    found = removed_words_decision(left_lc, right_lc, endings)
    if found:
        if "church" in left_lc and "church" in right_lc:
            return Decision(GOOD, "words removed church")
        return found

    plural_inside = _lone_plural_inside(left_lc, right_lc) or _lone_plural_inside(
        right_lc, left_lc
    )

    if endings:
        tidy_endings = [tidy_name(e) for e in endings]
        found = removed_words_decision(left_t3, right_t3, tidy_endings)
        if found and not plural_inside:
            return found

    for lf in left_forms:
        for rf in right_forms:
            if chars_only_equal(lf, rf, drop_dash=True):
                return Decision(GOOD, "strip non chars and dash after tidy")

    if "washington, d" in right_t3:  # Washington, D.C.
        right_t3 = right_t3.replace("washington, d", "washington d")

    for rf in right_forms:
        comma = rf.rfind(", ")
        for lf in left_forms:
            if comma != -1 and not _chars_only(lf).isdigit():
                head = rf[:comma]
                if head == lf or chars_only_equal(lf, head):
                    return Decision(GOOD, "comma strip")

    if right_t3.split() == list(reversed(left_t3.split())):
        return Decision(GOOD, "terms reversed")

    right_t3 = _RE_KEEP_COMMAS.sub("", right_t3)
    left_t3 = _RE_KEEP_COMMAS.sub("", left_t3)
    comma = right_t3.rfind(", ")
    if comma != -1 and not left_t3.isdigit() and right_t3[:comma] == left_t3:
        return Decision(GOOD, "comma strip tidied")

    right_key = RE_STRIP_NON_CHARS.sub("", right_t3)
    left_key = RE_STRIP_NON_CHARS.sub("", left_t3)

    if plural_inside:
        return None

    for end in _GENERIC_TRIM + tuple(endings or []):
        if right_key.endswith(end) and right_key[: -len(end)] == left_key:
            return Decision(TRIM, "generic suffix")
        if right_key.startswith(end) and right_key[len(end):] == left_key:
            return Decision(TRIM, "generic prefix")
        if left_key.endswith(end) and left_key[: -len(end)] == right_key:
            return Decision(TRIM, "generic suffix")
        if left_key.startswith(end) and left_key[len(end):] == right_key:
            return Decision(TRIM, "generic prefix")
    return None


def _strip_place_name(name: str, place: str) -> str:
    """Remove a contextual place name (match.py:575-584)."""
    for joiner in _INITIALS_FILLER:
        search = f" {joiner} {place}"
        if search in name:
            return name.replace(search, "")
    if place + "s " in name:
        return name.replace(place + "s ", "")
    return name.replace(place, "")


def place_name_variants(place_names: Collection[str]) -> set[str]:
    """Add "X" for "X City"/"X County" (match.py:587-594)."""
    variants = set(place_names)
    for name in set(variants):
        for suffix in ("city", "county"):
            if name.lower().endswith(" " + suffix) and len(name) > len(suffix) + 1:
                variants.add(name[: -(len(suffix) + 1)])
    return variants


def _match_street_pair(
    left: str, right: str, endings: set[str] | None
) -> Decision | None:
    """Both names are "A & B" street intersections; match both parts with
    per-part road-suffix trim sets (match.py:597-630)."""
    endings = set(endings or [])
    left_seps = [s for s in _AND_SEPARATORS if s in left]
    if len(left_seps) != 1:
        return None
    right_seps = [s for s in _AND_SEPARATORS if s in right]
    if len(right_seps) != 1:
        return None

    l1, _, l2 = (p.strip() for p in left.partition(left_seps[0]))
    r1, _, r2 = (p.strip() for p in right.partition(right_seps[0]))

    def _part_endings(a: str, b: str) -> set[str]:
        extra = set(endings)
        for n in (a, b):
            m = RE_ROAD_END.match(n)
            if m:
                extra.add(m.group(2).lower())
        return extra

    first = match_names_main(l1, r1, _part_endings(l1, r1))
    if not first:
        return None
    second = match_names_main(l2, r2, _part_endings(l2, r2))
    return first if second else None


def _match_road_ends(left: str, right: str, endings: set[str] | None) -> Decision | None:
    """Number-led road names with the road word stripped (match.py:633-646)."""
    left, right = left.strip(), right.strip()
    if not (left and left[0].isdigit() and right and right[0].isdigit()):
        return None
    m_left = RE_ROAD_END.match(left)
    m_right = RE_ROAD_END.match(right)
    if not m_left and not m_right:
        return None
    return match_names_main(
        m_left.group(1) if m_left else left,
        m_right.group(1) if m_right else right,
        endings,
    )


def match_names(
    left: str,
    right: str,
    endings: Collection[str] | None = None,
    place_names: Collection[str] | None = None,
) -> Decision | None:
    """Full name match: main cascade plus retry wrappers
    (match.py:649-730 semantics).

    The trim set is shared across retries, including mutations made by the
    main cascade — reference behaviour the fixtures pin down.
    """
    trim = set(endings) if endings else None

    found = match_names_main(left, right, trim)
    if found:
        return found

    for prefix in _OLD_PREFIXES:
        if left.lower().startswith(prefix):
            found = match_names_main(left[len(prefix):], right, trim)
            if found:
                return found

    found = _match_street_pair(left, right, trim)
    if found:
        return found

    found = _match_road_ends(left, right, trim)
    if found:
        return found

    # record side may carry a house number the entity side lacks
    if left and left[0].isdigit() and any(t in right.lower() for t in _NUMBERED_HOUSE_TERMS):
        found = match_names_main(strip_non_letter_start(left), right, trim)
        if found:
            return Decision(found.kind, found.rule + " + strip house number")

    left_no_initials = without_initials(left)
    if left_no_initials:
        found = match_names_main(left_no_initials, right, trim)
        if found:
            return Decision(found.kind, found.rule + " + drop initials")

    for prefix in _MONUMENT_PREFIXES:
        if right.startswith(prefix) and match_names_main(left, right[len(prefix):], trim):
            return Decision(TRIM, prefix.lower().strip())

    site_of = "site of"
    if left.lower().startswith(site_of) and match_names_main(
        left[len(site_of):], right, trim
    ):
        return Decision(TRIM, "site of")

    railings = " and attached railings"
    if right.lower().endswith(railings) and match_names_main(
        left, right[: -len(railings)], trim
    ):
        return Decision(TRIM, "and attached railings")

    if place_names:
        for place in sorted(place_name_variants(place_names)):
            if place not in left and place not in right:
                continue
            found = match_names_main(
                _strip_place_name(left, place),
                _strip_place_name(right, place),
                trim,
            )
            if found:
                return found

    if ";" in left:
        for part in left.split(";"):
            found = match_names(part.strip(), right, endings=trim, place_names=place_names)
            if found:
                return found

    return None
