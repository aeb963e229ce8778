"""Seeded long-tail name generator for the ``er_sparse`` workload.

Every entity gets one rare pseudo-word (its own, 7 letters) and one
mid-frequency pseudo-word (5 letters) shared by about ``entities_per_mid``
entities.  Its 2-3 conversations each mention one spelling variant of
``"<Rare> <Mid>"``:

    Fuzakan Begol    Fuzakan-Begol    FUZAKAN BEGOL

The variants match one another early in the cascade (identical except
case / punctuation), so intra-entity pairs are cheap.  Cross-entity
candidates share only the mid word: they reach the kernel as distinct
name pairs that run the whole cascade and fail.  Blocks stay far below
the pipeline's ``max_block_size`` (the mid block holds about
``2.5 * entities_per_mid`` conversations), and no name has three words
or one 3-6-letter word, so the acronym channel stays empty.

Pure Python apart from :func:`to_spark`, so the generator's self-check
runs without a Spark session.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

_ONSETS = "bdfgklmnprtvz"
_VOWELS = "aeiou"
_CODAS = "klmnrt"  # never "s": the cascade strips plural endings

_TEMPLATES = [
    'I was reading about "{}" yesterday, can you find details?',
    'Here is what I found regarding "{}": several records disagree.',
    'Let me search for "{}" in the registry.',
    'The entry for "{}" was updated last month.',
]
_ROLES = ["user", "assistant", "tool", "assistant"]

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string,"
    " ts timestamp"
)
TRUTH_SCHEMA = "conv_id string, group_id int"


@dataclass(frozen=True)
class SparseCorpus:
    """Generated conversations: ``names[i]`` is the one name conversation
    ``conv_ids[i]`` mentions and ``entity[i]`` its ground-truth entity."""

    conv_ids: list[str]
    names: list[str]
    entity: list[int]

    def by_entity(self) -> dict[int, list[str]]:
        out: dict[int, list[str]] = {}
        for name, ent in zip(self.names, self.entity):
            out.setdefault(ent, []).append(name)
        return out


def pseudo_word(rng: random.Random, syllables: int) -> str:
    parts = [rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(syllables)]
    return "".join(parts) + rng.choice(_CODAS)


def _distinct_words(rng: random.Random, n: int, syllables: int) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = pseudo_word(rng, syllables)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def variants(rare: str, mid: str) -> list[str]:
    """The three spellings of one entity's name, in mention order."""
    r, m = rare.capitalize(), mid.capitalize()
    return [f"{r} {m}", f"{r}-{m}", f"{r.upper()} {m.upper()}"]


def generate(seed: int, n_entities: int, entities_per_mid: int = 24) -> SparseCorpus:
    """Deterministic for ``(seed, n_entities, entities_per_mid)``."""
    rng = random.Random(seed)
    rares = _distinct_words(rng, n_entities, 3)
    mids = _distinct_words(rng, max(1, n_entities // entities_per_mid), 2)
    conv_ids, names, entity = [], [], []
    for e, rare in enumerate(rares):
        mid = mids[rng.randrange(len(mids))]
        for name in variants(rare, mid)[: rng.choice((2, 3))]:
            conv_ids.append(f"sp-{len(conv_ids):07d}")
            names.append(name)
            entity.append(e)
    return SparseCorpus(conv_ids, names, entity)


def to_spark(spark, corpus: SparseCorpus, seed: int, turns_per_conv: int = 6):
    """``(transcripts, truth)`` frames in the shape of
    ``sources.transcripts.synth_transcripts``."""
    import datetime as dt

    rng = random.Random(seed ^ 0x5EED)
    base = dt.datetime(2023, 11, 14, 22, 13, 20)
    rows = []
    for n, (conv_id, name) in enumerate(zip(corpus.conv_ids, corpus.names)):
        for turn in range(turns_per_conv):
            role = _ROLES[turn % len(_ROLES)]
            rows.append(
                (
                    conv_id,
                    turn,
                    role,
                    rng.choice(_TEMPLATES).format(name),
                    "registry_search" if role == "tool" else None,
                    base + dt.timedelta(seconds=n * 3600 + turn * 60),
                )
            )
    transcripts = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    truth = spark.createDataFrame(
        list(zip(corpus.conv_ids, corpus.entity)), TRUTH_SCHEMA
    )
    return transcripts, truth
