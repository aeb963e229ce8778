"""Seeded inputs for the ``curation_ops`` workload.

* ``docs(doc_id, text, source)``: multi-line word-bag documents over a
  stopword + pseudo-word vocabulary.  About one in five carries a shared
  header or footer line (boilerplate for ``line_dedup``), and one in ten is
  a planted duplicate of an earlier document that differs only in case and
  whitespace, so the near-duplicate operators must find it.
* ``vectors(vec_id, embedding)``: 64-d points around ``N_CENTRES`` random
  unit centres, with planted near-copies (cosine > 0.999).
* ``name_pairs(left_id, right_id, left_name, right_name)``: ``er_sparse``
  style names paired inside their shared-token blocks.

Truth for the planted duplicates comes back with the frames, as sets of
``(low_id, high_id)`` pairs.
"""

from __future__ import annotations

import itertools
import math
import random
from dataclasses import dataclass

import sparse_names

N_DOCS = 2000
N_VECTORS = 1200
N_CENTRES = 8
DIM = 64
NAME_ENTITIES = 150

_STOPWORDS = ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"]
_HEADER = "subscribe to our newsletter today"
_FOOTER = "all rights reserved worldwide"


@dataclass
class CurationInputs:
    docs: object
    vectors: object
    name_pairs: object
    centres: list[list[float]]
    doc_dups: set[tuple[int, int]]
    vec_dups: set[tuple[int, int]]


def _doc_text(rng: random.Random, vocab: list[str]) -> str:
    lines = []
    for _ in range(rng.randint(3, 6)):
        words = [
            rng.choice(_STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(rng.randint(8, 18))
        ]
        lines.append(" ".join(words))
    if rng.random() < 0.2:
        lines.insert(0, _HEADER)
    if rng.random() < 0.2:
        lines.append(_FOOTER)
    return "\n".join(lines)


def _restyle(rng: random.Random, text: str) -> str:
    """Same normalised text (lower case, collapsed spaces), other bytes."""
    out = []
    for line in text.split("\n"):
        words = [w.upper() if rng.random() < 0.3 else w for w in line.split(" ")]
        out.append("  ".join(words) if rng.random() < 0.5 else " ".join(words))
    return "\n".join(out)


def make_docs(seed: int) -> tuple[list[tuple], set[tuple[int, int]]]:
    rng = random.Random(seed)
    vocab = [sparse_names.pseudo_word(rng, 2) for _ in range(400)]
    rows, dups = [], set()
    for doc_id in range(N_DOCS):
        if doc_id > 10 and rng.random() < 0.1:
            src = rng.randrange(doc_id)
            # copy the ORIGINAL's text: chains of copies stay one group
            orig = rows[src][3] if rows[src][3] is not None else src
            text = _restyle(rng, rows[orig][1])
            dups.update((min(o, doc_id), max(o, doc_id)) for o in _members(rows, orig))
            rows.append((doc_id, text, f"src{doc_id % 5}", orig))
        else:
            rows.append((doc_id, _doc_text(rng, vocab), f"src{doc_id % 5}", None))
    return [r[:3] for r in rows], dups


def _members(rows: list[tuple], orig: int) -> list[int]:
    return [orig] + [r[0] for r in rows if r[3] == orig]


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def make_vectors(seed: int) -> tuple[list[tuple], list[list[float]], set[tuple[int, int]]]:
    rng = random.Random(seed + 1)
    centres = [_unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(N_CENTRES)]
    rows, dups = [], set()
    for vec_id in range(N_VECTORS):
        if vec_id > 10 and rng.random() < 0.05:
            src = rng.randrange(vec_id)
            base = rows[src][1]
            rows.append((vec_id, [x + rng.gauss(0, 1e-4) for x in base]))
            dups.add((src, vec_id))
        else:
            c = centres[rng.randrange(N_CENTRES)]
            rows.append((vec_id, [x + rng.gauss(0, 0.3) for x in c]))
    return rows, centres, pair_closure(dups)


def pair_closure(pairs: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """All pairs inside the connected groups of ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    groups: dict[int, list[int]] = {}
    for x in list(parent):
        groups.setdefault(find(x), []).append(x)
    return {
        (min(a, b), max(a, b))
        for g in groups.values()
        for a, b in itertools.combinations(g, 2)
    }


def make_name_pairs(seed: int) -> list[tuple]:
    corpus = sparse_names.generate(seed + 2, NAME_ENTITIES)
    blocks: dict[str, list[int]] = {}
    for i, name in enumerate(corpus.names):
        mid = name.replace("-", " ").split(" ")[-1].lower()
        blocks.setdefault(mid, []).append(i)
    return [
        (a, b, corpus.names[a], corpus.names[b])
        for members in blocks.values()
        for a, b in itertools.combinations(members, 2)
    ]


def build(spark, seed: int) -> CurationInputs:
    docs, doc_dups = make_docs(seed)
    vectors, centres, vec_dups = make_vectors(seed)
    return CurationInputs(
        docs=spark.createDataFrame(docs, "doc_id bigint, text string, source string"),
        vectors=spark.createDataFrame(vectors, "vec_id bigint, embedding array<double>"),
        name_pairs=spark.createDataFrame(
            make_name_pairs(seed),
            "left_id bigint, right_id bigint, left_name string, right_name string",
        ),
        centres=centres,
        doc_dups=doc_dups,
        vec_dups=vec_dups,
    )
