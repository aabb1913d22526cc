"""The one batch loop behind every per-row ``mapInPandas`` operator.

The engine is a per-document function; Spark hands it Arrow batches.
``map_rows`` owns the conversion across that boundary — one bulk
``tolist()`` per input column per batch on the way in, one frame per
batch on the way out — so an operator writes only its per-row function,
and a change to the boundary (e.g. ``mapInArrow``) edits this module
alone.  Operators whose batch body is not a per-row loop (numpy over the
whole batch, per-batch aggregation, per-partition file writes) keep
their own ``mapInPandas``; tests/test_batch_contract.py names them.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Union

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

__all__ = ["map_rows"]


def map_rows(
    df: DataFrame,
    schema: Union[StructType, str],
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """Run ``fn(*row)`` on every row of ``df`` in one ``mapInPandas``.

    ``fn`` receives the row's values in ``df.columns`` order and returns
    (or yields) that row's output tuples — zero, one or several — each
    ordered like ``schema``.  Every schema column is present in every
    output frame, also when a batch yields no rows."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # one bulk tolist() per column: a pandas per-cell indexer
            # costs ~µs a call, measurable against a ~100µs per-doc parse
            cols = [s.tolist() for _, s in pdf.items()]
            rows = [out for row in zip(*cols) for out in fn(*row)]
            yield pd.DataFrame(
                dict(zip(names, map(list, zip(*rows))))
                if rows
                else {n: [] for n in names}
            )

    return df.mapInPandas(run, schema)
