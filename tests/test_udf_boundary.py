"""The executor-side row boundary (`session.map_rows` / `rows_frame`):
Python values leave a per-row kernel through one dtype rule, so a None
next to 64-bit ints must never round them (pandas' float64 inference
over such a column keeps only 53 bits)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

from webcollector_spark.session import map_rows, rows_frame

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("channel", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("ok", T.BooleanType()),
    ]
)

# per input id: the long and the int every output row of that id carries
LONGS = [None, -(2**63), 2**63 - 1, 2**53 + 1, 7]
INTS = [3, None, -(2**31), 2**31 - 1, None]


def _fan_out():
    """channel_partials' shape: one row per channel, none for id 4. Built
    in a closure so it pickles by value (the Python workers cannot
    import this test module)."""

    def row(r):
        i = int(r["id"])
        if i == 4:
            return
        for ch in "rgb":
            yield {
                "id": i, "channel": ch, "v": LONGS[i], "n": INTS[i],
                "ok": i % 2 == 0,
            }

    return row


def test_rows_frame_types_ints_from_the_schema():
    rows = [{"v": LONGS[i], "n": INTS[i], "id": i} for i in range(4)]
    pdf = rows_frame(rows, SCHEMA)
    assert list(pdf.columns) == [f.name for f in SCHEMA.fields]
    assert str(pdf["id"].dtype) == "Int64" and str(pdf["v"].dtype) == "Int64"
    assert str(pdf["n"].dtype) == "Int32"
    got = [None if pd.isna(x) else int(x) for x in pdf["v"]]
    assert got == LONGS[:4]
    # a key the kernel did not emit is null
    assert pdf["channel"].isna().all() and pdf["ok"].isna().all()
    assert len(rows_frame([], SCHEMA)) == 0


def test_map_rows_round_trips_exactly(spark):
    # partition 0 holds ids 0-4, so None meets the large longs in one
    # batch; partition 1 (ids 5-9) reaches the kernel empty
    ids = spark.range(0, 10, 1, 2).filter("id < 5")
    assert ids.rdd.glom().map(len).collect() == [5, 0]
    out = map_rows(ids, SCHEMA, _fan_out())
    assert out.schema == SCHEMA
    got = sorted(
        (r.id, r.channel, r.v, r.n, r.ok) for r in out.collect()
    )
    want = sorted(
        (i, ch, LONGS[i], INTS[i], i % 2 == 0) for i in range(4) for ch in "rgb"
    )
    assert got == want


def test_map_rows_empty_input(spark):
    out = map_rows(spark.range(0, 0, 1, 2), SCHEMA, _fan_out())
    assert out.collect() == []
