"""Self-check of the ``er_sparse`` generator, in the shape of
``tests/test_generator.py``: the generator's truth must agree with the
kernel, and each ER workload must stress the layer it was chosen for.

    python3 -m pytest perfbench/tests -q

The first two tests are pure Python.  The last one starts a local Spark
session and runs the traced decomposition of ``er_sparse`` and
``er_dense`` (a few minutes on 4 cores).
"""

from __future__ import annotations

import itertools
import random
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import sparse_names  # noqa: E402
from osm_wikidata_spark.functions.udfs import BLOCK_STOPWORDS  # noqa: E402
from osm_wikidata_spark.kernel.cascade import match_names  # noqa: E402
from osm_wikidata_spark.sources.transcripts import GLOBAL_ENDINGS  # noqa: E402
from osm_wikidata_spark.text.normalize import tidy_name  # noqa: E402

_SPLIT = re.compile(r"[^0-9a-z]+")
SEEDS = (1, 2, 3)


def _tokens(name: str) -> set[str]:
    return {
        t
        for t in _SPLIT.split(tidy_name(name.lower()))
        if len(t) >= 2 and t not in BLOCK_STOPWORDS
    }


def _acronym_key(name: str) -> str | None:
    words = [w for w in _SPLIT.split(name.lower().strip()) if w]
    if len(words) >= 3:
        return "acro:" + "".join(w[0] for w in words)
    if len(words) == 1 and 3 <= len(words[0]) <= 6 and words[0].isalpha():
        return "acro:" + words[0]
    return None


def _sym_match(a: str, b: str):
    return match_names(a, b, GLOBAL_ENDINGS) or match_names(b, a, GLOBAL_ENDINGS)


@pytest.mark.parametrize("seed", SEEDS)
def test_intra_entity_variants_match_and_share_a_block(seed):
    corpus = sparse_names.generate(seed, 400)
    for names in corpus.by_entity().values():
        assert 2 <= len(names) <= 3
        for a, b in itertools.combinations(names, 2):
            assert _tokens(a) & _tokens(b), (a, b)
            assert _sym_match(a, b), (a, b)


@pytest.mark.parametrize("seed", SEEDS)
def test_cross_entity_candidates_do_not_match(seed):
    corpus = sparse_names.generate(seed, 400, entities_per_mid=48)
    assert not any(_acronym_key(n) for n in corpus.names)
    blocks: dict[str, list[int]] = {}
    for i, name in enumerate(corpus.names):
        for tok in _tokens(name):
            blocks.setdefault(tok, []).append(i)
    # blocks stay far below the pipeline's max_block_size of 1000
    assert max(len(b) for b in blocks.values()) < 500
    cross = sorted(
        {
            (a, b)
            for members in blocks.values()
            for a, b in itertools.combinations(members, 2)
            if corpus.entity[a] != corpus.entity[b]
        }
    )
    assert len(cross) > 10 * len(corpus.names)
    for a, b in random.Random(seed).sample(cross, 2000):
        assert not _sym_match(corpus.names[a], corpus.names[b]), (a, b)


@pytest.fixture(scope="module")
def spark_session(tmp_path_factory):
    import harness

    session = harness.start_session(tmp_path_factory.mktemp("perfbench"))
    yield session
    harness.stop_session(session)


def test_each_er_workload_stresses_its_layer(spark_session, tmp_path):
    """Name-memo ratio: near 1 on ``er_sparse`` (every candidate pair
    crosses Arrow), at most about 0.01 on ``er_dense``."""
    import workloads

    ratios = {}
    for cls in (workloads.ErSparse, workloads.ErDense):
        wl = cls(tmp_path / cls.__name__)
        wl.prepare(spark_session.spark, 1)
        metrics, _ = wl.trace(spark_session.spark)
        assert metrics["trace.f1"] >= 0.99
        ratios[cls.__name__] = metrics["score.memo_ratio"]
    assert ratios["ErSparse"] > 0.9, ratios
    assert ratios["ErDense"] <= 0.015, ratios
