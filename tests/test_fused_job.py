"""The fused single-shuffle job must produce bit-identical tier values to
the modular retention plan, for both codec settings."""

import numpy as np
import pandas as pd
import pytest

from sprintz_spark.codecs import sprintz as sz
from sprintz_spark.operators import rollup as R
from sprintz_spark.plans.jobs import decode_fused_tier, fused_rollup_encode


def test_batch_fire_matches_encode_column():
    rng = np.random.default_rng(3)
    arrays = [
        (np.cumsum(rng.integers(-3, 4, n)) & 0xFFFF).astype(np.uint16)
        for n in [0, 1, 8, 40, 100]
    ]
    lens = np.array([len(a) for a in arrays])
    concat = np.concatenate([a for a in arrays if len(a)]) if any(lens) else np.zeros(0, np.uint16)
    blobs = sz.encode_batch_concat_fire(concat, lens)
    for a, b in zip(arrays, blobs):
        assert b == sz.encode_column(a, "fire")
        np.testing.assert_array_equal(sz.decode_column(b), a)


@pytest.mark.parametrize("codec", ["auto", "fire"])
def test_fused_equals_modular(spark, pages_small, codec):
    enc = fused_rollup_encode(pages_small, codec=codec, n_parts=4).cache()
    tiers = R.rollup_tiers(pages_small)
    for tier in ("1m", "1h", "1d"):
        got = (
            decode_fused_tier(enc, tier)
            .toPandas()
            .sort_values(["url", "bucket"])
            .reset_index(drop=True)
        )
        want = (
            tiers[tier].toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(want[got.columns], got)
    enc.unpersist()


def test_silver_path_matches_bronze(spark, pages_small, tmp_path):
    """ingest_silver + fused on the bucketed silver table must produce
    tier values bit-identical to the bronze (raw-html) path, and the
    silver text_hash must equal xxhash64(text) per row."""
    from pyspark.sql import functions as F

    from sprintz_spark.plans.jobs import ingest_silver, register_silver

    ingest_silver(
        pages_small, str(tmp_path / "silver"), table="silver_test", n_parts=32, n_buckets=8
    )
    silver = register_silver(spark, str(tmp_path / "silver"), "silver_test", n_buckets=8)
    n_bad = (
        silver.select("url", "warc_ts", "text_hash")
        .join(
            pages_small.select(
                "url", "warc_ts", F.xxhash64("text").alias("want_hash")
            ),
            ["url", "warc_ts"],
        )
        .where(F.col("text_hash") != F.col("want_hash"))
        .count()
    )
    assert n_bad == 0
    enc = fused_rollup_encode(silver, codec="fire").cache()
    tiers = R.rollup_tiers(pages_small)
    for tier in ("1m", "1h", "1d"):
        got = (
            decode_fused_tier(enc, tier)
            .toPandas()
            .sort_values(["url", "bucket"])
            .reset_index(drop=True)
        )
        want = (
            tiers[tier].toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(want[got.columns], got)
    enc.unpersist()
    # round-7 (ADVICE): silver input + shuffle_ids must fail loudly up
    # front (the UDF would KeyError on the absent url_id mid-job)
    with pytest.raises(ValueError, match="shuffle_ids"):
        fused_rollup_encode(silver, shuffle_ids=True)
    spark.sql("DROP TABLE IF EXISTS silver_test")


def test_fused_fire_actually_uses_fire(spark, pages_small):
    import json

    enc = fused_rollup_encode(pages_small, codec="fire", n_parts=4)
    metas = [json.loads(r["meta"]) for r in enc.limit(50).collect()]
    fire_cols = sum(
        1 for m in metas for c, v in m.items() if c != "ts" and v.get("mode") == "fire"
    )
    assert fire_cols > 0


@pytest.fixture(scope="module")
def fused_store(spark, pages_small, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fused") / "enc")
    fused_rollup_encode(pages_small, codec="fire", n_parts=4).write.parquet(path)
    return spark.read.parquet(path)


def test_verify_encoded_checks_every_column(fused_store):
    from pyspark.sql import functions as F

    from sprintz_spark.plans.jobs import verify_encoded

    rep = verify_encoded(fused_store).toPandas()
    # ts + four measures, each with a crc, in every chunk
    assert (rep["n_cols_checked"] == 5 * rep["n_chunks"]).all()
    assert rep["n_chunks"].sum() == fused_store.count()
    assert rep["n_rows"].sum() == fused_store.agg(F.sum("n")).first()[0]


def test_verify_encoded_names_the_corrupt_chunk(fused_store):
    """One byte flipped in the middle of the longest byte_size_sum blob
    must fail the job with a ValueError naming the column and the chunk
    (an assert would vanish under python -O)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from sprintz_spark.plans.jobs import verify_encoded

    key = ["tier", "part", "url", "chunk"]
    blob = "blob_byte_size_sum"
    row = fused_store.orderBy(F.length(blob).desc(), *key).select(*key, blob).first()
    b = bytearray(row[blob])
    b[len(b) // 2] ^= 0xFF
    hit = reduce(lambda x, y: x & y, [F.col(c) == F.lit(row[c]) for c in key])
    bad = fused_store.withColumn(
        blob, F.when(hit, F.lit(bytes(b))).otherwise(F.col(blob))
    )
    with pytest.raises(Exception) as err:
        verify_encoded(bad).collect()
    msg = str(err.value)
    assert "ValueError: byte_size_sum:" in msg
    chunk = ", ".join(f"{c}={row[c]}" for c in key)
    assert f"in chunk ({chunk})" in msg
