"""Selector pre-compilation: parse once on the driver, ship the IR.

The reference parses the CSS selector once per ``find()`` call
(hQuery.php:330).  At corpus scale we parse once on the *driver* and
broadcast the tiny IR with the UDF closure — executors never re-parse.
``find_count_df`` is the corpus-level form of the reference's selector
sweep (tests/hQueryStress.Test.php:102-131): one Arrow pass evaluates
every selector against every document.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..batch import map_rows
from ..core.selector import parse_selector

__all__ = ["CompiledSelector", "compile_selector", "find_count_df"]


class CompiledSelector:
    """Parsed selector IR + the source string (picklable, tiny)."""

    __slots__ = ("source", "ir")

    def __init__(self, source: str) -> None:
        self.source = source
        self.ir = parse_selector(source.strip())

    def __repr__(self) -> str:  # pragma: no cover
        return f"CompiledSelector({self.source!r})"


def compile_selector(sel: str) -> CompiledSelector:
    return CompiledSelector(sel)


def find_count_df(
    df: DataFrame,
    selectors: Sequence[str],
    doc_id_col: str = "doc_id",
    html_col: str = "html",
    encoding: str = "utf-8",
) -> DataFrame:
    """(doc_id, selector, n_matches) for every (document, selector) pair.

    Selectors are validated/compiled driver-side (a bad selector fails
    fast, before any cluster work); each document is indexed ONCE and
    probed with all selectors.
    """
    compiled: List[CompiledSelector] = [compile_selector(s) for s in selectors]
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("selector", StringType()),
            StructField("n_matches", IntegerType()),
        ]
    )
    narrow = df.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.col(html_col).alias("__html"),
    )

    sels = [c.source for c in compiled]

    def row(doc_id, raw):
        from ..core.doc import HDoc

        data = raw if isinstance(raw, (bytes, bytearray)) else str(raw).encode(encoding)
        doc = HDoc(data)
        for s in sels:
            r = doc.find(s)
            yield (doc_id, s, len(r) if r else 0)

    return map_rows(narrow, schema, row)
