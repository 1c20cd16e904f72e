"""``multimodal._map_rows`` — the one row-mapper every codec/feature
entry runs through — checked against a plain-Python reference of the
same row function (the Spark-result-vs-pandas-reference shape of
pyspark's own pandas-UDF tests)."""

from __future__ import annotations

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import types as T

from spark_dynamodb_spark.operators.multimodal import _map_rows

IN_SCHEMA = "doc_id long, payload binary, meta struct<mime: string, content_length: long>"
OUT_SCHEMA = "doc_id long, k long, even_head boolean, tag string, size long"
ROWS = [
    (i, bytes(range(i % 7)), {"mime": f"m/{i % 3}", "content_length": 10 * i})
    for i in range(30)
]


def explode(doc_id, payload, meta):
    """0, 1, 2 or 3 output rows per input row; reads the binary
    payload and both struct fields."""
    for k in range(doc_id % 4):
        yield (
            doc_id,
            k,
            bool(payload) and payload[0] % 2 == 0,
            f"{meta['mime']}:{k}",
            len(payload) + meta["content_length"],
        )


def _input(spark):
    # 30 rows over 64 numbered partitions: most partitions are empty
    return spark.createDataFrame(ROWS, IN_SCHEMA).repartition(64, "doc_id")


def test_map_rows_matches_python_reference(spark):
    got = (
        _map_rows(_input(spark), explode, OUT_SCHEMA)
        .toPandas()
        .sort_values(["doc_id", "k"])
        .reset_index(drop=True)
    )
    want = pd.DataFrame(
        [out for row in ROWS for out in explode(*row)],
        columns=["doc_id", "k", "even_head", "tag", "size"],
    )
    assert len(want) == sum(i % 4 for i in range(30))
    assert {i % 4 for i in range(30)} == {0, 1, 2, 3}
    assert list(got.dtypes.astype(str)) == ["int64", "int64", "bool", "object", "int64"]
    assert_frame_equal(got, want)


def test_map_rows_all_rows_dropped_yields_empty_typed_result(spark):
    df = _map_rows(_input(spark), lambda *row: iter(()), OUT_SCHEMA)
    assert df.schema == T.StructType.fromDDL(OUT_SCHEMA)
    assert df.collect() == []


def test_map_rows_row_fn_exception_fails_the_query(spark):
    def boom(doc_id, payload, meta):
        if doc_id == 7:
            raise ValueError("corrupt payload in doc 7")
        yield from explode(doc_id, payload, meta)

    with pytest.raises(Exception, match="corrupt payload in doc 7"):
        _map_rows(_input(spark), boom, OUT_SCHEMA).collect()
