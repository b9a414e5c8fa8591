"""Fused high-throughput job: derive ALL retention tiers + sprintz-encode
in a single shuffle.

Shape (the 100 TB design):

    pages ──project──> (url, warc_ts, nbytes, part)        # ~40B rows, not pages
          ──shuffle on part=hash(url)──> applyInPandas:
               per partition (every row of its urls is present):
                 sort once by (url, ts)
                 for each tier: bucket-truncate (pure epoch arithmetic,
                 UTC), group boundaries by (url, bucket) change points,
                 aggregate with np.*.reduceat, cut each per-url series
                 into chunk pieces
                 then encode every tier's pieces at once: one batched
                 sprintz kernel call per codec/width for the partition
                 (bucket timestamps; 4 measures x all tiers)
          ──> one output row per (tier, url, chunk) with binary blobs

One wide job, one shuffle, no intermediate materialization. Compared to
the modular plan (plans.retention), this trades per-tier resumability for
~4x less fixed overhead; both produce bit-identical tier values (tested).

``codec='fire'`` offset-quantizes each measure piece to u8/u16 when its
span fits and runs the FIRE forecaster (the reference's max-ratio
setting); otherwise the delta/double-delta cost-based path is used.
"""

from __future__ import annotations

import json
import time
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sprintz_spark.codecs import sprintz as sz

try:  # C JSON parser if present (meta parse is once per chunk row)
    from orjson import loads as _json_loads  # type: ignore
except ImportError:  # pragma: no cover - environment-dependent
    _json_loads = json.loads

US = 1_000_000
TIER_US = {"1m": 60 * US, "1h": 3600 * US, "1d": 86400 * US}
MEASURES = ["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]

_SCHEMA = StructType(
    [
        StructField("tier", StringType()),
        StructField("part", LongType()),
        StructField("url", StringType()),
        StructField("chunk", LongType()),
        StructField("start_bucket", TimestampType()),
        StructField("end_bucket", TimestampType()),
        StructField("n", LongType()),
        StructField("ts_blob", BinaryType()),
        StructField("meta", StringType()),
        StructField("raw_bytes", LongType()),
        StructField("comp_bytes", LongType()),
        StructField("encode_secs", DoubleType()),
    ]
    + [StructField(f"blob_{m}", BinaryType()) for m in MEASURES]
)
_COLS = [f.name for f in _SCHEMA.fields]

# UDF-side schema when shuffling url ids instead of strings: the url
# column is an xxhash64 id inside the shuffle/UDF and the strings are
# joined back onto the ~1000x smaller chunk output afterwards
_SCHEMA_ID = StructType(
    [
        StructField("url_id", LongType()) if f.name == "url" else f
        for f in _SCHEMA.fields
    ]
)
_COLS_ID = [f.name for f in _SCHEMA_ID.fields]


def _encode_measure(vals, piece_starts, piece_lens, codec, deflate=False):
    """Encode measure columns cut into pieces that tile ``vals``; returns
    (blobs, metas), each meta a JSON fragment — hand-assembled (keys are
    fixed identifiers, values ints) because json.dumps on 30k tiny dicts
    per partition was ~10% of UDF wall.

    For codec='fire': per-piece offset quantization to the narrowest of
    u8/u16 via reduceat min/max; pieces whose span exceeds u16 fall back
    to the 64-bit delta path (mixed-width pieces are grouped per width so
    each width is one batched call). The fused job is the reference's
    'fastest setting' (results.tex:168): deflate post-pass off by default;
    the modular retention path is the 'max-ratio setting' (deflate on)."""
    n_pieces = len(piece_starts)
    int64_meta = '{"codec": "sprintz", "mode": "%s", "np_dtype": "int64"}'
    if codec != "fire":
        blobs = sz.encode_batch_concat(vals, piece_lens, None, deflate)
        return blobs, [int64_meta % sz.blob_mode(b) for b in blobs]
    idx = np.minimum(piece_starts, max(len(vals) - 1, 0))
    mins = np.minimum.reduceat(vals, idx) if len(vals) else np.zeros(n_pieces, np.int64)
    maxs = np.maximum.reduceat(vals, idx) if len(vals) else np.zeros(n_pieces, np.int64)
    spans = maxs - mins
    width = np.where(spans <= 0xFF, 8, np.where(spans <= 0xFFFF, 16, 64))
    blobs: list = [None] * n_pieces
    metas: list = [None] * n_pieces
    for w, dt in ((8, np.uint8), (16, np.uint16), (64, None)):
        sel = np.flatnonzero(width == w)
        if not len(sel):
            continue
        lens_w = piece_lens[sel]
        if len(sel) == n_pieces:
            sub = vals  # pieces tile vals exactly; no gather needed
        else:
            # vectorized gather of the selected pieces into one concat
            tot = int(lens_w.sum())
            off0 = np.concatenate([[0], np.cumsum(lens_w)[:-1]])
            gather = (
                np.arange(tot, dtype=np.int64)
                + np.repeat(piece_starts[sel] - off0, lens_w)
            )
            sub = vals[gather]
        if w == 64:
            bl = sz.encode_batch_concat(sub, lens_w, None, deflate)
            for j, i in enumerate(sel):
                blobs[i] = bl[j]
                metas[i] = int64_meta % sz.blob_mode(bl[j])
        else:
            offs = np.repeat(mins[sel], lens_w)
            q = (sub - offs).astype(dt)
            bl = sz.encode_batch_concat_fire(q, lens_w, deflate)
            fire_meta = (
                '{"codec": "sprintz", "mode": "fire", "np_dtype": "uint%d", "offset": %%d}'
                % w
            )
            for j, i in enumerate(sel):
                blobs[i] = bl[j]
                metas[i] = fire_meta % mins[i]
    return blobs, metas


def _segment(url_arr, bucket_arr):
    """Group boundaries where (url, bucket) changes; arrays must be sorted."""
    n = len(url_arr)
    change = np.zeros(n, dtype=bool)
    change[0] = True
    change[1:] = (url_arr[1:] != url_arr[:-1]) | (bucket_arr[1:] != bucket_arr[:-1])
    starts = np.flatnonzero(change)
    return starts


def _encode_part(pdf, tiers, codec, chunk_rows, with_crc, shuffle_ids):
    """The fused job's per-part body: every row of a part's urls in, one
    row per (tier, url, chunk) out, tier-major.

    Every tier's groups and pieces are computed first and stacked, so the
    whole part takes one doubledelta call for the bucket timestamps and
    one ``_encode_measure`` call for the 4 measures x all tiers (one
    kernel call per codec width). The kernels' per-call fixed cost, not
    their per-value work, dominates at a part's size, and a piece's blob
    does not depend on what else is in its batch."""
    t0 = time.perf_counter()
    url_col = "url_id" if shuffle_ids else "url"
    out_cols = _COLS_ID if shuffle_ids else _COLS
    if not len(pdf):
        return pd.DataFrame(columns=out_cols)
    # group by url via integer codes + lexsort instead of a string
    # mergesort: ~3x less CPU and far less memory traffic per row in
    # the bandwidth-critical leg. Grouping order becomes
    # first-appearance (arbitrary), which is fine — chunk CONTENT is
    # per-url ts-sorted either way and all bucket aggregates are
    # order-independent integer ops.
    if shuffle_ids:
        url_codes = pdf["url_id"].to_numpy()
    else:
        url_codes = pd.factorize(pdf["url"].to_numpy(), sort=False)[0]
    ts_us = pdf["warc_ts"].astype("datetime64[us]").to_numpy().view(np.int64)
    order = np.lexsort((ts_us, url_codes))
    url_codes = url_codes[order]
    ts_us = ts_us[order]
    url_arr = url_codes if shuffle_ids else pdf["url"].to_numpy()[order]
    nbytes = pdf["nbytes"].to_numpy()[order]
    ones = np.ones(len(pdf), dtype=np.int64)
    # per tier: (url, bucket) groups and their pieces (per-url series cut
    # into chunks of chunk_rows), piece starts offset into the stacked
    # group arrays
    buckets, aggs, urls, starts, lens, ords, n_tier = [], [], [], [], [], [], []
    g_off = 0
    for tier in tiers:
        step = TIER_US[tier]
        bucket = ts_us - ts_us % step
        g_starts = _segment(url_codes, bucket)
        aggs.append(
            (
                np.add.reduceat(ones, g_starts),
                np.add.reduceat(nbytes, g_starts),
                np.maximum.reduceat(nbytes, g_starts),
                np.minimum.reduceat(nbytes, g_starts),
            )
        )
        g_codes = url_codes[g_starts]
        s_change = np.zeros(len(g_starts), dtype=bool)
        s_change[0] = True
        s_change[1:] = g_codes[1:] != g_codes[:-1]
        s_starts = np.flatnonzero(s_change)
        s_lens = np.diff(np.append(s_starts, len(g_starts)))
        reps = (s_lens + chunk_rows - 1) // chunk_rows
        p_series = np.repeat(np.arange(len(s_starts)), reps)
        p_ord = np.arange(int(reps.sum()), dtype=np.int64) - np.repeat(
            np.concatenate([[0], np.cumsum(reps)[:-1]]), reps
        )
        p_starts = s_starts[p_series] + p_ord * chunk_rows
        buckets.append(bucket[g_starts])
        urls.append(url_arr[g_starts][p_starts])
        starts.append(g_off + p_starts)
        lens.append(np.minimum(chunk_rows, s_lens[p_series] - p_ord * chunk_rows))
        ords.append(p_ord)
        n_tier.append(len(p_starts))
        g_off += len(g_starts)
    g_bucket = np.concatenate(buckets)
    p_starts = np.concatenate(starts)
    p_lens = np.concatenate(lens)
    n_pieces = len(p_starts)
    # measure-major stack: measure m of every tier, then measure m+1
    meas = [np.concatenate([a[m] for a in aggs]) for m in range(len(MEASURES))]
    ts_blobs = sz.encode_batch_concat(g_bucket, p_lens, "doubledelta", False)
    blobs, frags = _encode_measure(
        np.concatenate(meas),
        np.concatenate([p_starts + m * g_off for m in range(len(MEASURES))]),
        np.tile(p_lens, len(MEASURES)),
        codec,
    )
    comps = np.fromiter(map(len, ts_blobs), np.int64, n_pieces) + np.fromiter(
        map(len, blobs), np.int64, len(blobs)
    ).reshape(len(MEASURES), n_pieces).sum(axis=0)
    ends = p_starts + p_lens
    crc_frags = [""] * n_pieces
    if with_crc:
        cnt, bsum, bmax, bmin = meas
        for i in range(n_pieces):
            sl = slice(p_starts[i], ends[i])
            crc_frags[i] = (
                ', "crc": {"ts": %d, "crawl_count": %d, "byte_size_sum": %d,'
                ' "byte_size_max": %d, "byte_size_min": %d}'
                % (
                    zlib.crc32(g_bucket[sl].tobytes()),
                    zlib.crc32(cnt[sl].tobytes()),
                    zlib.crc32(bsum[sl].tobytes()),
                    zlib.crc32(bmax[sl].tobytes()),
                    zlib.crc32(bmin[sl].tobytes()),
                )
            )
    cols = {
        "tier": np.repeat(np.array(tiers, dtype=object), n_tier),
        "part": int(pdf["part"].iloc[0]),
        url_col: np.concatenate(urls),
        "chunk": np.concatenate(ords),
        "start_bucket": g_bucket[p_starts].view("datetime64[us]"),
        "end_bucket": g_bucket[ends - 1].view("datetime64[us]"),
        "n": p_lens,
        "ts_blob": ts_blobs,
        "meta": [
            '{"ts": {"codec": "sprintz", "mode": "doubledelta"}%s,'
            ' "crawl_count": %s, "byte_size_sum": %s, "byte_size_max": %s,'
            ' "byte_size_min": %s}'
            % (
                crc_frags[i], frags[i], frags[i + n_pieces],
                frags[i + 2 * n_pieces], frags[i + 3 * n_pieces],
            )
            for i in range(n_pieces)
        ],
        "raw_bytes": p_lens * 8 * (1 + len(MEASURES)),
        "comp_bytes": comps,
    }
    for m, name in enumerate(MEASURES):
        cols[f"blob_{name}"] = blobs[m * n_pieces : (m + 1) * n_pieces]
    cols["encode_secs"] = (time.perf_counter() - t0) / n_pieces
    return pd.DataFrame(cols, columns=out_cols)


SILVER_COLUMNS = "url string, warc_ts timestamp, nbytes bigint, text_hash bigint, part bigint"


def ingest_silver(
    pages: DataFrame,
    path: str,
    table: str = "silver_pages",
    n_parts: int = 1024,
    n_buckets: int = 64,
) -> str:
    """Bronze→silver ingest projection: the ONE scan of the raw ``html``
    blobs, run once per snapshot at ingest time.

    Persists the narrow columns every recurring rollup needs —
    ``(url, warc_ts, nbytes, text_hash, part)`` — as a parquet table
    bucketed by ``part = pmod(xxhash64(url), n_parts)``. Recurring
    derive+encode jobs (``fused_rollup_encode``) then read ~40 B/row
    instead of ~2 KB/row of html, and because the table is bucketed on
    the same key the fused job groups by, Catalyst drops the row-scale
    Exchange entirely: the recurring job is scan→sort→UDF, zero shuffle
    (asserted in tests/test_plans.py). ``text_hash = xxhash64(text)``
    carries the byte-identity lineage for extraction verification
    without re-reading html.

    ``n_parts`` is deliberately ~16x ``n_buckets``: bucket assignment is
    murmur3(part) % n_buckets, so a high-cardinality part key spreads
    evenly over buckets (64 distinct parts into 64 buckets would leave
    ~1/e of buckets empty and others doubled — task skew).

    At 100 TB this is the bronze→silver hop of a medallion layout: the
    html scan happens exactly once per ingested snapshot, amortized over
    every downstream rollup, gap-fill, and retention job.
    """
    spark = pages.sparkSession
    silver = pages.select(
        "url",
        "warc_ts",
        F.length("html").cast("long").alias("nbytes"),
        F.xxhash64("text").alias("text_hash"),
        F.pmod(F.xxhash64("url"), F.lit(n_parts)).alias("part"),
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        silver.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "part")
        .sortBy("part")
        .option("path", path)
        .saveAsTable(table)
    )
    return table


def register_silver(
    spark, path: str, table: str = "silver_pages", n_buckets: int = 64
) -> DataFrame:
    """Re-attach an existing silver store in a fresh session.

    The sandbox's in-memory catalog does not persist table metadata
    across sessions, so a new session must re-declare the external
    bucketed table over the files ``ingest_silver`` wrote (Spark reads
    each file's bucket id from the bucketed-writer file names). On a
    real deployment the catalog (Hive/Glue/Iceberg) persists this and
    the DDL happens once.
    """
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({SILVER_COLUMNS}) USING parquet "
        f"CLUSTERED BY (part) SORTED BY (part) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(table)


def fused_rollup_encode(
    pages: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    n_parts: int | None = None,
    codec: str = "auto",
    chunk_rows: int = 1 << 16,
    with_crc: bool = True,
    shuffle_ids: bool = False,
) -> DataFrame:
    """Derive ``tiers`` and encode them in one ``applyInPandas`` over
    ``part``; each group runs ``_encode_part``, which computes every
    tier's groups and pieces first and then encodes the whole part with
    one batched kernel call per codec/width.

    ``with_crc`` stores a crc32 of each piece's raw values in the meta
    so verify_encoded can prove decode(encode(x)) == x without the
    original table.

    ``shuffle_ids`` (round 5): the big shuffle carries an 8-byte
    ``xxhash64(url)`` id instead of the url string, and the UDF receives
    int64 ids (no per-row Python string materialization). Strings are
    joined back (shuffle-hash, never broadcast of the blob side) onto
    the chunk-level OUTPUT — one row per url*tier*chunk, ~3 orders of
    magnitude smaller than the input — from a distinct-url dimension.
    At 10^12 rows with long urls this trades ~50 TB of string shuffle
    for a url-column distinct plus a chunk-level join; in-sandbox at
    48M rows the two plans measure within noise of each other
    (interleaved A/B: 40.7-42.2 s vs 38.9-43.0 s at local[8]), so the
    single-shuffle string plan stays the default and the id plan is the
    opt-in for wide-url/row-heavy corpora. Collision note: two urls
    sharing an xxhash64 value (P ~ n^2/2^65, ~1e-8 at 10^6 urls) would
    merge their series; callers needing certainty at 10^10+ urls should
    verify with the modular retention path."""
    if codec not in ("auto", "fire"):
        raise ValueError(f"unknown codec {codec!r}: use 'auto' or 'fire'")
    spark = pages.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism * 2

    def udf(pdf: pd.DataFrame) -> pd.DataFrame:
        return _encode_part(pdf, tiers, codec, chunk_rows, with_crc, shuffle_ids)

    if "nbytes" in pages.columns:
        # silver input (ingest_silver output): nbytes was projected from
        # html once at ingest; if the table also carries a precomputed
        # part key the groupBy below is Exchange-free on a bucketed read
        # (the recurring-rollup fast path — see ingest_silver docstring).
        if shuffle_ids:
            # the id plan exists to shrink the big STRING shuffle; silver
            # is already narrow and (when bucketed) shuffle-free, so the
            # combination buys nothing — and the UDF would KeyError on
            # the absent url_id column. Fail loudly instead.
            raise ValueError(
                "shuffle_ids=True is not supported for silver-table input "
                "(no 'html'/'url_id' column; the silver path is already "
                "narrow and exchange-free — call with shuffle_ids=False)"
            )
        part_col = (
            F.col("part")
            if "part" in pages.columns
            else F.pmod(F.xxhash64("url"), F.lit(n_parts)).alias("part")
        )
        slim = pages.select("url", "warc_ts", "nbytes", part_col)
        return slim.groupBy("part").applyInPandas(udf, _SCHEMA)
    if shuffle_ids:
        slim = pages.select(
            F.xxhash64("url").alias("url_id"),
            "warc_ts",
            F.length("html").cast("long").alias("nbytes"),
            F.pmod(F.xxhash64("url"), F.lit(n_parts)).alias("part"),
        )
        enc = slim.groupBy("part").applyInPandas(udf, _SCHEMA_ID)
        urls = pages.select("url", F.xxhash64("url").alias("url_id")).distinct()
        # shuffle-hash, not broadcast: Catalyst has no stats for the UDF
        # output and would otherwise BROADCAST the blob-carrying side
        # (measured: driver collect of ~2M blob rows). Both join inputs
        # here are chunk/url-dim scale — orders of magnitude below the
        # row-scale input — so a hash join on url_id is the 100 TB shape.
        return enc.join(urls.hint("shuffle_hash"), "url_id").select(*_COLS)
    slim = pages.select(
        "url",
        "warc_ts",
        F.length("html").cast("long").alias("nbytes"),
        F.pmod(F.xxhash64("url"), F.lit(n_parts)).alias("part"),
    )
    return slim.groupBy("part").applyInPandas(udf, _SCHEMA)


def verify_encoded(enc: DataFrame) -> DataFrame:
    """Lossless-round-trip verification stage (the reference's
    encode→decode→verify harness, python/dfsqueeze.py:133-231, as a narrow
    Spark stage): decode every blob of every chunk and check it against
    the crc32 of the raw values captured at encode time. Returns one row
    per (tier, part) with chunk/row counts; raises a ValueError naming the
    column and the chunk (tier, part, url, chunk) inside the task on any
    length or crc mismatch, failing the job loudly.

    No shuffle: mapInPandas straight over the encoded rows.
    """
    import zlib

    from sprintz_spark.codecs import sprintz as szc
    from sprintz_spark.operators.encode import decode_value_columns_batch

    schema = "tier string, part long, n_chunks long, n_rows long, n_cols_checked long"

    # ValueError, not assert: the gate must also hold under python -O
    def mismatch(pdf, i, col, err):
        key = ", ".join(f"{c}={pdf[c].iat[i]}" for c in ("tier", "part", "url", "chunk"))
        return ValueError(f"{col}: {err} in chunk ({key})")

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            metas = [_json_loads(m) for m in pdf["meta"]]
            ns = pdf["n"].to_numpy(np.int64)
            checked = np.zeros(len(pdf), dtype=np.int64)
            ts_arrays = szc.decode_batch(list(pdf["ts_blob"]))
            for i, (arr, meta, n) in enumerate(zip(ts_arrays, metas, ns)):
                if len(arr) != n:
                    raise mismatch(pdf, i, "ts", f"decoded {len(arr)} values, expected {n}")
                crc = meta.get("crc", {}).get("ts")
                if crc is not None:
                    if zlib.crc32(arr.view(np.int64).tobytes()) != crc:
                        raise mismatch(pdf, i, "ts", "crc32 mismatch")
                    checked[i] += 1
            for m in MEASURES:
                vals = decode_value_columns_batch(
                    list(pdf[f"blob_{m}"]), [mt[m] for mt in metas]
                )
                for i, (v, meta, n) in enumerate(zip(vals, metas, ns)):
                    arr = np.asarray(v).astype(np.int64, copy=False)
                    if len(arr) != n:
                        raise mismatch(pdf, i, m, f"decoded {len(arr)} values, expected {n}")
                    crc = meta.get("crc", {}).get(m)
                    if crc is not None:
                        if zlib.crc32(arr.tobytes()) != crc:
                            raise mismatch(pdf, i, m, "crc32 mismatch")
                        checked[i] += 1
            stats = pd.DataFrame(
                {
                    "tier": pdf["tier"].to_numpy(),
                    "part": pdf["part"].to_numpy(),
                    "n": ns,
                    "checked": checked,
                }
            )
            g = stats.groupby(["tier", "part"], sort=False).agg(
                n_chunks=("n", "size"), n_rows=("n", "sum"), n_cols_checked=("checked", "sum")
            ).reset_index()
            yield g[["tier", "part", "n_chunks", "n_rows", "n_cols_checked"]]

    return enc.mapInPandas(gen, schema)


def decode_fused_tier(enc: DataFrame, tier: str) -> DataFrame:
    """Decode one tier of the fused output back to plain series rows.

    Task-granularity note (r10, measured): coalescing the tier scan so
    each decode task carries ~32 MB of blobs made end-to-end decode 5.6x
    SLOWER (1.8M -> 0.32M pts/s at the bench shape) — the wall is
    per-BLOB Python/numpy fixed cost on ~40-row chunks (meta parse,
    per-blob transforms), not task scheduling, so fewer bigger tasks
    just serialize that cost. The fix lives in the decode kernels
    (vectorized meta parse + batched transforms in operators/encode.py,
    codecs/sprintz.py), not in partitioning."""
    from sprintz_spark.operators.encode import decode_series

    return decode_series(
        enc.where(F.col("tier") == tier),
        key_cols=["part", "url"],
        value_cols=MEASURES,
    ).drop("part")
