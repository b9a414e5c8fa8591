"""The fused single-shuffle job must produce bit-identical tier values to
the modular retention plan, for both codec settings."""

import json
import zlib

import numpy as np
import pandas as pd
import pytest

from sprintz_spark.codecs import sprintz as sz
from sprintz_spark.operators import rollup as R
from sprintz_spark.operators.encode import decode_value_columns_batch
from sprintz_spark.plans import jobs
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


# ---- _encode_part without Spark: one silver part's pandas frame ----

TIERS = ("1m", "1h", "1d")
T0 = np.datetime64("2024-03-01T00:00:00", "us").astype(np.int64)


def _part_frame(shuffle_ids=False):
    """One part whose urls give FIRE pieces of every width: small spans
    (u8), spans up to 50k (u16), a +-2^40 span (64-bit), negative
    nbytes, and a url with a single row (a one-row group in every
    tier). Rows are shuffled: the encoder sorts them itself."""
    rng = np.random.default_rng(17)
    series = {  # url: (rows, step in minutes, nbytes)
        "https://a.example/u8": (20, 7, rng.integers(100, 200, 20)),
        "https://b.example/u16": (30, 61, rng.integers(0, 50_000, 30)),
        "https://c.example/wide": (18, 150, rng.integers(-(1 << 40), 1 << 40, 18)),
        "https://d.example/neg": (25, 23, rng.integers(-300, -100, 25)),
        "https://e.example/one": (1, 1, np.array([-5])),
    }
    rows = []
    for url, (n, step, nbytes) in series.items():
        minutes = np.cumsum(rng.integers(1, 2 * step, n))
        for m, b in zip(minutes, nbytes):
            rows.append((url, T0 + int(m) * 60_000_000 + int(rng.integers(0, 60_000_000)), int(b)))
    pdf = pd.DataFrame(rows, columns=["url", "ts", "nbytes"]).sample(frac=1, random_state=3)
    pdf = pd.DataFrame(
        {
            "url": pdf["url"].to_numpy(),
            "warc_ts": pdf["ts"].to_numpy().view("datetime64[us]"),
            "nbytes": pdf["nbytes"].to_numpy(np.int64),
            "part": 5,
        }
    )
    if shuffle_ids:
        pdf.insert(0, "url_id", pd.factorize(pdf["url"])[0].astype(np.int64) * 7919 - 11)
        pdf = pdf.drop(columns="url")
    return pdf.reset_index(drop=True)


def _expected_pieces(pdf, chunk_rows, shuffle_ids):
    """(tier, url, chunk, bucket, measures) per piece in the fused job's
    row order: tier-major, then url (first appearance, or id order for
    url ids), then chunk; each tier's (url, bucket) aggregates from
    pandas."""
    url_col = "url_id" if shuffle_ids else "url"
    urls = pdf[url_col].unique()
    urls = np.sort(urls) if shuffle_ids else urls
    ts = pdf["warc_ts"].to_numpy().view(np.int64)
    out = []
    for tier in TIERS:
        step = jobs.TIER_US[tier]
        g = (
            pd.DataFrame({"url": pdf[url_col], "bucket": ts - ts % step, "nbytes": pdf["nbytes"]})
            .groupby(["url", "bucket"], sort=True)["nbytes"]
            .agg(["size", "sum", "max", "min"])
            .reset_index()
        )
        for url in urls:
            s = g[g["url"] == url]
            for c, lo in enumerate(range(0, len(s), chunk_rows)):
                piece = s.iloc[lo : lo + chunk_rows]
                meas = [piece[k].to_numpy(np.int64) for k in ("size", "sum", "max", "min")]
                out.append((tier, url, c, piece["bucket"].to_numpy(np.int64), meas))
    return out


@pytest.mark.parametrize("shuffle_ids", [False, True])
@pytest.mark.parametrize("codec", ["fire", "auto"])
def test_encode_part_matches_pieces_encoded_alone(codec, shuffle_ids):
    """Stacking every tier and measure into one batch must not change a
    byte: each piece's blobs equal that piece encoded as a batch of one,
    and meta, n, raw/comp bytes and the row order follow the per-piece
    formulas."""
    chunk_rows = 7
    pdf = _part_frame(shuffle_ids)
    got = jobs._encode_part(pdf, TIERS, codec, chunk_rows, True, shuffle_ids)
    url_col = "url_id" if shuffle_ids else "url"
    assert list(got.columns) == (jobs._COLS_ID if shuffle_ids else jobs._COLS)
    want = _expected_pieces(pdf, chunk_rows, shuffle_ids)
    assert len(got) == len(want)
    assert max(len(w[3]) for w in want) == chunk_rows  # series do split
    widths = set()
    for r, (tier, url, chunk, bucket, meas) in zip(got.itertuples(index=False), want):
        r = r._asdict()
        n = len(bucket)
        assert (r["tier"], r["part"], r[url_col], r["chunk"], r["n"]) == (tier, 5, url, chunk, n)
        assert r["start_bucket"] == pd.Timestamp(bucket[0], unit="us")
        assert r["end_bucket"] == pd.Timestamp(bucket[-1], unit="us")
        assert r["ts_blob"] == sz.encode_batch_concat(bucket, [n], "doubledelta", False)[0]
        meta = json.loads(r["meta"])
        assert meta["ts"] == {"codec": "sprintz", "mode": "doubledelta"}
        assert meta["crc"]["ts"] == zlib.crc32(bucket.tobytes())
        comp = len(r["ts_blob"])
        for name, vals in zip(jobs.MEASURES, meas):
            blob = r[f"blob_{name}"]
            alone, alone_meta = jobs._encode_measure(vals, np.array([0]), np.array([n]), codec)
            assert blob == alone[0], (tier, url, chunk, name)
            assert meta[name] == json.loads(alone_meta[0])
            assert meta["crc"][name] == zlib.crc32(vals.tobytes())
            if codec == "fire" and int(vals.max()) - int(vals.min()) <= 0xFFFF:
                w = 8 if int(vals.max()) - int(vals.min()) <= 0xFF else 16
                assert meta[name] == {
                    "codec": "sprintz", "mode": "fire",
                    "np_dtype": f"uint{w}", "offset": int(vals.min()),
                }
            else:
                assert meta[name] == {
                    "codec": "sprintz", "mode": sz.blob_mode(blob), "np_dtype": "int64"
                }
            widths.add(meta[name]["np_dtype"])
            dec = decode_value_columns_batch([blob], [meta[name]])[0]
            np.testing.assert_array_equal(np.asarray(dec).astype(np.int64), vals)
            comp += len(blob)
        assert r["raw_bytes"] == 8 * 5 * n
        assert r["comp_bytes"] == comp
    if codec == "fire":
        assert widths == {"uint8", "uint16", "int64"}


@pytest.mark.parametrize("rows", [0, 1])
def test_encode_part_empty_and_one_row(rows):
    pdf = _part_frame().iloc[:rows]
    got = jobs._encode_part(pdf, TIERS, "fire", 7, True, False)
    assert list(got.columns) == jobs._COLS
    assert list(got["tier"]) == (list(TIERS) if rows else [])
    assert (got["n"] == 1).all()


def test_encode_part_one_kernel_call_per_width(monkeypatch):
    """The whole part takes one doubledelta call for the timestamps and
    at most one FIRE call per narrow width plus one 64-bit call for the
    measures, however many tiers and measures it holds."""
    fire_widths, concat_modes = [], []
    fire, concat = sz.encode_batch_concat_fire, sz.encode_batch_concat

    def counting_fire(values, lengths, deflate=True):
        fire_widths.append(np.asarray(values).dtype.itemsize * 8)
        return fire(values, lengths, deflate)

    def counting_concat(values, lengths, mode=None, deflate=True):
        concat_modes.append(mode)
        return concat(values, lengths, mode, deflate)

    monkeypatch.setattr(sz, "encode_batch_concat_fire", counting_fire)
    monkeypatch.setattr(sz, "encode_batch_concat", counting_concat)
    got = jobs._encode_part(_part_frame(), TIERS, "fire", 7, True, False)
    assert set(got["tier"]) == set(TIERS)
    assert sorted(fire_widths) == [8, 16]
    assert sorted(concat_modes, key=str) == [None, "doubledelta"]
