"""API-payload dim sources (SURVEY.md §2.1 S8/S9).

The reference fetches two external dims over HTTP:

* ``wbgetentities`` entity documents (wikidata_api.py:85-123, 165-178) —
  response body ``{"entities": {qid: entity, ...}}``, cached one JSON file
  per entity (wikidata_api.py:231-249);
* Wikipedia intro extracts (wikipedia.py:142-163) — formatversion-2 query
  responses ``{"query": {"pages": [{title, extract}, ...]}}``.

The HTTP/retry/OAuth plumbing is out of scope here (no network); the
engine's obligation is the *load* side: turn a directory of landed payload
files into the relational dims the match pipeline consumes.  At 100 TB the
payloads are dims (bounded by the entity universe, not the record volume),
but the load must still be distributed — files are read by executors, each
payload parsed once, no driver-side loops.

Parsing strategy, per payload family:

* Extract pages are FIXED-schema JSON → pure JVM ``from_json`` with an
  explicit schema (never inference — a schema-inference pass over a big
  landing dir is a second full read).
* Entity documents are POLYMORPHIC JSON: ``claims.*[].mainsnak.datavalue
  .value`` is a string for P373/P18/P1216, a monolingual struct for
  P1448/P1705, an entity-id struct for P31, a coordinate struct for P625.
  ``from_json`` forces one type per path and silently nulls the others, so
  entity splitting runs as an Arrow-batch kernel (``map_batches``: one
  ``json.loads`` per payload, linear, no collect) that emits the raw
  per-entity JSON (for the F2 name-assembly UDF) plus the typed columns
  the match operators key on.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.arrow import map_batches

# ---------------------------------------------------------------- S8

ENTITY_ROW_SCHEMA = (
    "qid string, missing boolean, entity_json string,"
    " label_en string, instanceof array<string>, is_nhle boolean,"
    " street_address string, lat double, lon double"
)


def _claim_values(entity: dict, pid: str) -> list:
    out = []
    for claim in (entity.get("claims") or {}).get(pid, []):
        snak = claim.get("mainsnak") or {}
        if "datavalue" in snak:
            out.append(snak["datavalue"].get("value"))
    return out


def _entity_rows(pdf):
    """Batch kernel: wbgetentities payload strings -> entity rows."""
    import pandas as pd

    rows = []
    for blob in pdf["payload"]:
        if not blob:
            continue
        reply = json.loads(blob)
        # a bare cached entity file (wikidata_api.py:231-238) has no
        # "entities" wrapper: treat the document itself as one entity
        entities = reply.get("entities") or (
            {reply["id"]: reply} if "id" in reply else {}
        )
        for qid, entity in entities.items():
            missing = "missing" in entity
            p31 = [
                v.get("id")
                for v in _claim_values(entity, "P31")
                if isinstance(v, dict)
            ]
            p625 = next(
                (
                    v
                    for v in _claim_values(entity, "P625")
                    if isinstance(v, dict)
                ),
                None,
            )
            p6375 = next(
                (
                    v.get("text")
                    for v in _claim_values(entity, "P6375")
                    if isinstance(v, dict)
                ),
                None,
            )
            labels = entity.get("labels") or {}
            rows.append(
                {
                    "qid": qid,
                    "missing": missing,
                    "entity_json": None if missing else json.dumps(entity),
                    "label_en": (labels.get("en") or {}).get("value"),
                    "instanceof": p31,
                    # P1216 = National Heritage List for England number;
                    # the reference checks bare claim-KEY presence
                    # ('"P1216" in entity["claims"]', model.py:1116-1118)
                    # — a novalue/somevalue snak still counts — and the
                    # flag drives the NHLE distance guard
                    # (matcher.py:824-825)
                    "is_nhle": "P1216" in (entity.get("claims") or {}),
                    "street_address": p6375,
                    "lat": (p625 or {}).get("latitude"),
                    "lon": (p625 or {}).get("longitude"),
                }
            )
    return pd.DataFrame(rows) if rows else None


def parse_wbgetentities(payloads: DataFrame, col: str = "payload") -> DataFrame:
    """wbgetentities payload strings -> one typed row per entity (S8).

    Input: any DataFrame with a string column ``col`` holding one response
    body (or one cached entity document) per row.  Output columns:
    ``ENTITY_ROW_SCHEMA``; ``entity_json`` feeds
    :func:`..functions.udfs.names_from_entity_udf` (F2) unchanged.
    """
    src = payloads.select(F.col(col).alias("payload"))
    return map_batches(src, _entity_rows, ENTITY_ROW_SCHEMA)


def read_wbgetentities_dir(spark: SparkSession, path: str) -> DataFrame:
    """Load a landing directory of wbgetentities responses / cached entity
    files (one JSON document per file, wikidata_api.py:231-249).

    ``spark.read.text(wholetext=True)`` assigns whole files to executor
    tasks — the driver never touches payload bytes."""
    raw = spark.read.text(path, wholetext=True).withColumnRenamed(
        "value", "payload"
    )
    return parse_wbgetentities(raw)


# ---------------------------------------------------------------- S9

# formatversion=2 (wikipedia.py:49-51): pages is an ARRAY, extract present
# only when the page has one
EXTRACTS_SCHEMA = (
    "struct<query: struct<pages: array<struct<"
    "pageid: bigint, ns: int, title: string, extract: string, missing: boolean"
    ">>>>"
)


def parse_extracts(payloads: DataFrame, col: str = "payload") -> DataFrame:
    """Wikipedia extracts responses -> (title, extract) rows (S9).

    ``get_extracts`` semantics (wikipedia.py:153-163): pages without an
    ``extract`` key are skipped; pages whose extract is whitespace-only are
    skipped; the ORIGINAL (unstripped) extract is kept.  Fixed-schema JSON,
    so the whole parse is JVM-side ``from_json`` + ``explode``.
    """
    pages = payloads.select(
        F.explode(
            F.from_json(F.col(col), EXTRACTS_SCHEMA)["query"]["pages"]
        ).alias("page")
    )
    # rlike(\S) == "strip() is non-empty": F.trim only strips 0x20, but the
    # reference strips all whitespace (wikipedia.py:160-162)
    return pages.select(
        F.col("page.title").alias("title"),
        F.col("page.extract").alias("extract"),
    ).filter(F.col("extract").isNotNull() & F.col("extract").rlike(r"\S"))


def extract_bold_names(extracts: DataFrame) -> DataFrame:
    """S9 → F7: per-article bold display names from the intro extract."""
    from ..functions.udfs import html_names_udf

    return extracts.withColumn("names", html_names_udf("extract"))


def read_extracts_dir(spark: SparkSession, path: str) -> DataFrame:
    """Load a landing directory of extracts responses (one per file)."""
    raw = spark.read.text(path, wholetext=True).withColumnRenamed(
        "value", "payload"
    )
    return parse_extracts(raw)
