"""udfs.map_rows: the one payload-to-rows map (a row function over one
mapInArrow pass). Pins the batch builder on its edges: empty batches,
0 and N output rows per input row, and typed NULLs next to values a
float64 pandas column could not carry (the full 64-bit range)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from textractssmlprocessor_spark.operators.udfs import map_rows

OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("n", IntegerType()),
        StructField("big", LongType()),
        StructField("blob", BinaryType()),
    ]
)


class _CaptureMap:
    """Stands in for a DataFrame: keeps the batch function map_rows hands
    to mapInArrow so it can be driven with hand-built Arrow batches."""

    def mapInArrow(self, gen, schema):
        self.gen, self.schema = gen, schema
        return self


def _batch(keys, blobs):
    return pa.RecordBatch.from_arrays(
        [pa.array(keys, pa.string()), pa.array(blobs, pa.binary())],
        names=["key", "blob"],
    )


def _expander():
    # a closure, so Spark workers get it by value (they cannot import this
    # test module): 0 rows for a NULL blob, one row per byte (N rows)
    def expand(key, blob):
        if blob is None:
            return []
        return [(key, i, b - 128, blob[i : i + 1]) for i, b in enumerate(blob)]

    return expand


def test_empty_batch_gives_an_empty_typed_batch():
    cap = map_rows(_CaptureMap(), _expander(), OUT)
    (out,) = list(cap.gen(iter([_batch([], [])])))
    assert out.num_rows == 0
    assert out.schema.names == ["key", "n", "big", "blob"]
    assert out.schema.types == [pa.string(), pa.int32(), pa.int64(), pa.binary()]


def test_zero_and_n_rows_per_input_row():
    cap = map_rows(_CaptureMap(), _expander(), OUT)
    batches = [_batch(["a", "b", "c"], [None, b"\x00\xff", b""]), _batch(["d"], [None])]
    out = list(cap.gen(iter(batches)))
    assert [b.num_rows for b in out] == [2, 0]
    assert out[0].to_pylist() == [
        {"key": "b", "n": 0, "big": -128, "blob": b"\x00"},
        {"key": "b", "n": 1, "big": 127, "blob": b"\xff"},
    ]


def test_extreme_longs_and_nulls_round_trip_through_spark(spark):
    """-(2**63), 2**63-1 and NULL in one LongType column, NULL and
    non-NULL IntegerType and BinaryType fields: every value comes back
    exactly (a float64 pandas column would round the longs)."""
    df = spark.createDataFrame(
        [("lo", bytearray(b"\x01")), ("hi", None), ("nul", bytearray(b""))],
        "key string, blob binary",
    ).repartition(2)

    def row(key, blob):
        big = {"lo": -(2**63), "hi": 2**63 - 1, "nul": None}[key]
        n = None if blob is None else len(blob)
        return [(key, n, big, blob)]

    out = map_rows(df, row, OUT)
    assert out.schema == OUT
    got = {r["key"]: tuple(r) for r in out.collect()}
    assert got == {
        "lo": ("lo", 1, -(2**63), bytearray(b"\x01")),
        "hi": ("hi", None, 2**63 - 1, None),
        "nul": ("nul", 0, None, bytearray(b"")),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_zero_and_n_rows_through_spark(spark):
    df = spark.createDataFrame(
        [("a", None), ("b", bytearray(b"xyz")), ("c", bytearray(b""))],
        "key string, blob binary",
    ).repartition(3)
    got = sorted(tuple(r) for r in map_rows(df, _expander(), OUT).collect())
    assert got == [
        ("b", i, b - 128, bytearray(bytes([b]))) for i, b in enumerate(b"xyz")
    ]
