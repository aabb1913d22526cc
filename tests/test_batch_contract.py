"""One batch loop behind every per-row ``mapInPandas`` operator.

``hquery_php_spark.batch.map_rows`` owns the Arrow-batch boundary; an
operator writes only its per-row function.  Pinned here: the helper's
frames equal a hand-written loop's (dtypes included), a batch with no
output rows still carries every schema column, and no ``mapInPandas``
call appears outside ``batch.py`` except the named exemptions below."""

import ast
import pathlib

import pandas as pd
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hquery_php_spark.batch import map_rows

ROOT = pathlib.Path(__file__).resolve().parent.parent

# mapInPandas sites whose batch body is NOT a per-row loop, each with
# the reason it stays hand-written.  Growth here needs the same
# scrutiny as a new boundary mechanism.
EXEMPT = {
    "hquery_php_spark/batch.py::map_rows": "the shared helper itself",
    "hquery_php_spark/operators/pq.py::_pq_partials_pandas": (
        "numpy k-means partials over the whole batch matrix; one row per "
        "(subspace, cluster), not per input row"
    ),
    "hquery_php_spark/operators/pq.py::pq_adc_pandas": (
        "numpy argmin + table lookup over the whole batch matrix"
    ),
    "hquery_php_spark/operators/similarity.py::brute_force_topk_pandas": (
        "one numpy matrix-vector product scores the whole batch"
    ),
    "hquery_php_spark/operators/unigram.py::_estep_counts": (
        "per-batch piece-count aggregation (map-side combine)"
    ),
    "hquery_php_spark/sources/warc.py::write_warc_files": (
        "buffers the whole partition into one archive file; one manifest "
        "row per partition"
    ),
}

SCHEMA = StructType(
    [StructField("id", StringType()), StructField("j", LongType())]
)


class _OneBatch:
    """Stands in for a DataFrame: feeds one pandas batch to the
    function ``map_rows`` hands to ``mapInPandas``."""

    def __init__(self, pdf):
        self.pdf = pdf

    def mapInPandas(self, func, schema):
        return list(func(iter([self.pdf])))


def _fan_out(i, n):
    for j in range(n):
        yield (i, j)


def test_map_rows_matches_hand_loop():
    pdf = pd.DataFrame({"id": ["a", "b", "c"], "n": [0, 1, 3]})
    (got,) = map_rows(_OneBatch(pdf), SCHEMA, _fan_out)
    want = {"id": [], "j": []}
    for i, n in zip(pdf["id"].tolist(), pdf["n"].tolist()):
        for j in range(n):
            want["id"].append(i)
            want["j"].append(j)
    pd.testing.assert_frame_equal(got, pd.DataFrame(want))
    assert got["j"].tolist() == [0, 0, 1, 2]


def test_map_rows_empty_batch_keeps_schema_columns():
    for pdf in (
        pd.DataFrame({"id": ["a"], "n": [0]}),  # rows in, none out
        pd.DataFrame({"id": [], "n": []}),  # empty partition batch
    ):
        (got,) = map_rows(_OneBatch(pdf), SCHEMA, _fan_out)
        assert list(got.columns) == ["id", "j"]
        assert len(got) == 0


def _map_in_pandas_sites():
    files = sorted((ROOT / "hquery_php_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    for path in files:
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for top in tree.body:  # keyed by the top-level def holding the call
            name = getattr(top, "name", "<module>")
            for call in ast.walk(top):
                if (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "mapInPandas"
                ):
                    yield f"{rel}::{name}", call.lineno


def test_map_in_pandas_only_behind_map_rows():
    sites = list(_map_in_pandas_sites())
    stray = [f"{s} (line {ln})" for s, ln in sites if s not in EXEMPT]
    assert not stray, (
        "per-row mapInPandas loops go through hquery_php_spark.batch."
        f"map_rows; exempt a whole-batch body in EXEMPT: {stray}"
    )
    stale = set(EXEMPT) - {s for s, _ in sites}
    assert not stale, f"EXEMPT names sites that no longer exist: {stale}"
