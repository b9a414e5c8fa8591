"""decode_series round trips under non-UTC session timezones and for
value types beyond long/double/boolean."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType, IntegerType

from sprintz_spark.operators.encode import decode_series, encode_series

# hourly UTC instants across both the US (03-10) and the EU (03-31)
# spring-forward days of 2024
_T0_US = int(dt.datetime(2024, 3, 9, tzinfo=dt.timezone.utc).timestamp()) * 10**6
_HOURS = 24 * 24


@pytest.mark.parametrize(
    "tz", ["America/New_York", "Europe/Berlin", "Asia/Kolkata"]
)
def test_decode_roundtrip_non_utc_session(spark, tz):
    micros = _T0_US + np.arange(_HOURS, dtype=np.int64) * 3_600_000_000
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        df = spark.createDataFrame(
            pd.DataFrame({"url": "u", "us": micros, "v": np.arange(_HOURS)})
        ).select("url", F.timestamp_micros("us").alias("bucket"), "v")
        back = decode_series(encode_series(df, value_cols=["v"]), value_cols=["v"])
        got = (
            back.select(F.unix_micros("bucket").alias("us"), "v")
            .toPandas()
            .sort_values("us")
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got.us.tolist() == micros.tolist()
    assert got.v.tolist() == list(range(_HOURS))


@pytest.mark.parametrize(
    "types",
    [{"i": IntegerType(), "f": FloatType()}, {"i": "int", "f": "float"}],
    ids=["datatype", "ddl"],
)
def test_decode_roundtrip_int_and_float_values(spark, types):
    n = 300
    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "url": np.where(np.arange(n) % 2, "a", "b"),
            "bucket": [t0 + dt.timedelta(minutes=i) for i in range(n)],
            "i": (np.arange(n) * 7 - 1000).astype(np.int32),
            "f": (np.arange(n) * 0.25 - 10).astype(np.float32),
        }
    )
    df = spark.createDataFrame(pdf, "url string, bucket timestamp, i int, f float")
    enc = encode_series(df, value_cols=["i", "f"])
    back = decode_series(enc, value_cols=["i", "f"], value_types=types)
    assert [f.dataType for f in back.schema.fields[-2:]] == [IntegerType(), FloatType()]
    got = back.toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
    want = pdf.sort_values(["url", "bucket"]).reset_index(drop=True)
    assert got.i.to_numpy().tolist() == want.i.to_numpy().tolist()
    assert (got.f.to_numpy(np.float32).view(np.uint32) == want.f.to_numpy().view(np.uint32)).all()
