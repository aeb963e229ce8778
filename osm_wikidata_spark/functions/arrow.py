"""One way to run a numpy kernel over Arrow record batches.

A kernel takes a pandas frame of input rows and returns its output as
plain columns: a mapping from output field name to a numpy array, a
numpy masked array (masked = null), a list holding ``None`` for nulls,
or a pandas frame; ``None`` means no rows.  The runner owns everything
at the JVM↔Python boundary: the batch loop, conversion to the declared
Arrow types (nullable longs, bigint/int/string ids) and empty output,
so no kernel builds typed empty frames or ``Int64`` extension arrays.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

Kernel = Callable[[pd.DataFrame], "Mapping | pd.DataFrame | None"]


def _arrow_schema(schema: StructType | str) -> pa.Schema:
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return to_arrow_schema(schema)


def map_batches(df: DataFrame, kernel: Kernel, schema: StructType | str) -> DataFrame:
    """``kernel`` over every Arrow batch of ``df`` (a map: no exchange)."""
    arrow_schema = _arrow_schema(schema)

    def run(batches):
        for batch in batches:
            cols = kernel(batch.to_pandas())
            if cols is not None:
                yield pa.RecordBatch.from_pydict(cols, schema=arrow_schema)

    return df.mapInArrow(run, schema)


def apply_groups(
    df: DataFrame, keys: list[str], kernel: Kernel, schema: StructType | str
) -> DataFrame:
    """``kernel`` over each group of ``df`` by ``keys``, whole in one call."""
    arrow_schema = _arrow_schema(schema)

    def run(table):
        cols = kernel(table.to_pandas())
        if cols is None:
            return arrow_schema.empty_table()
        return pa.Table.from_pydict(cols, schema=arrow_schema)

    return df.groupBy(*keys).applyInArrow(run, schema)
