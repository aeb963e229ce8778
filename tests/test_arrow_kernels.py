"""Operators built on ``functions.arrow``: every id type an operator
admits (bigint, int, string) gives the bigint result under the id
mapping, on empty input, on input whose kernel emits nothing, and on a
normal input; the payload and multimodal kernels return typed empty
output on empty input."""

from __future__ import annotations

import pytest

from osm_wikidata_spark.operators import dedup, multimodal, quality, similarity
from osm_wikidata_spark.sources.api_payloads import (
    ENTITY_ROW_SCHEMA,
    parse_wbgetentities,
)

# zero-padded so string ids sort like their integers (semdedup orients
# pairs and picks canonical ids by id order)
_ID = {"bigint": int, "int": int, "string": lambda i: f"d{i:03d}"}

_DOCS = {
    "empty": [],
    # repetition_stats: no words → null kernel counts (one 0.0 row per
    # doc); simhash_table: null text has no sim → no output rows
    "no_output": [(1, None), (2, None), (3, None)],
    "normal": [
        (1, "a b a b a b\na b a b a b"),
        (2, "the cat sat on the mat\nthe cat sat on the mat\nmat"),
        (3, "lorem ipsum dolor sit amet"),
        (4, "word"),
        (5, None),
    ],
}

_VECS = {
    "empty": [],
    # one vector per cell: no cell has a pair
    "no_output": [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])],
    "normal": [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0]),
        (3, [0.97, 0.2, 0.0]),
        (4, [0.0, 1.0, 0.0]),
        (5, [0.3, 0.0, 1.0]),
        (6, [0.0, 0.3, 1.0]),
    ],
}
_CENTROIDS = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]

# operator, input set, input column schema, positions of id columns in
# the output rows
_OPERATORS = {
    "repetition_stats": (quality.repetition_stats, _DOCS, "doc_id {}, text string", [0]),
    "simhash_table": (dedup.simhash_table, _DOCS, "doc_id {}, text string", [0]),
    "semdedup": (
        lambda df: similarity.semdedup(df, _CENTROIDS, threshold=0.95),
        _VECS,
        "vec_id {}, embedding array<double>",
        [0, 1],
    ),
}


def _run(spark, op, case, id_type):
    fn, inputs, ddl, id_cols = _OPERATORS[op]
    rows = [(_ID[id_type](i), v) for i, v in inputs[case]]
    out = fn(spark.createDataFrame(rows, ddl.format(id_type)))
    for c in id_cols:
        assert out.schema[c].dataType.simpleString() == id_type
    return {tuple(r) for r in out.collect()}


@pytest.mark.parametrize("case", ["empty", "no_output", "normal"])
@pytest.mark.parametrize("op", sorted(_OPERATORS))
def test_id_types_match_bigint(spark, op, case):
    want = _run(spark, op, case, "bigint")
    expect_rows = case == "normal" or (op, case) == ("repetition_stats", "no_output")
    assert bool(want) == expect_rows
    id_cols = _OPERATORS[op][3]
    for id_type in ("int", "string"):
        mapped = {
            tuple(_ID[id_type](v) if k in id_cols else v for k, v in enumerate(r))
            for r in want
        }
        assert _run(spark, op, case, id_type) == mapped, id_type


def test_entity_payloads_empty(spark):
    """No payload, or only blank ones: typed output with no rows."""
    for rows in ([], [("",), (None,)]):
        out = parse_wbgetentities(spark.createDataFrame(rows, "payload string"))
        assert out.collect() == []
        assert out.schema == spark.createDataFrame([], ENTITY_ROW_SCHEMA).schema


def test_multimodal_empty(spark):
    """Empty media, and media without videos for the frame sampler."""
    empty = multimodal.synth_media(spark, 0)
    assert multimodal.resize_images(empty, 32, 32).collect() == []
    assert multimodal.sample_frames(empty).collect() == []
    assert multimodal.extract_features(empty).collect() == []
    no_video = multimodal.synth_media(spark, 6).filter("kind != 'video'")
    frames = multimodal.sample_frames(no_video)
    assert frames.collect() == [] and frames.schema == multimodal.FRAME_SCHEMA
