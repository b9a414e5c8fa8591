"""Per-layer probes for the traced run.

Every traced run, whatever its workload, measures each layer from
outside by timing calls into that layer's public functions on stores
built from the run's own seeded input:

* ``codecs`` (numpy kernels): single-threaded, no Spark, on blobs and
  series read back from the probe's fused store;
* ``operators`` (the Arrow-UDF boundary) and ``spark`` (scan and write):
  Spark jobs with a ``noop`` sink;
* ``plans`` (pipelines) and ``store`` (ratios from the manifest);
* ``queries``: the first run of each query in ``registry.FAMILIES``,
  summed per family; each result is also checked against its oracle.

``PER_LAYER`` is the list ``BENCHMARK.json`` declares; ``probe`` returns
a value for each name.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from registry import FAMILIES, compare_with_oracle
from workloads import MEASURES, RET_BUCKETS, TIERS, disk_bytes, noop

PER_LAYER = {
    "codecs.encode_fire_pts_per_s": "points/s",
    "codecs.encode_dd_pts_per_s": "points/s",
    "codecs.encode_container_pts_per_s": "points/s",
    "codecs.decode_pts_per_s": "points/s",
    "codecs.query_partials_pts_per_s": "points/s",
    "codecs.points_per_blob": "count",
    "operators.feed_floor_s": "s",
    "operators.decode_series_s": "s",
    "operators.query_encoded_s": "s",
    "operators.derive_series_s": "s",
    "operators.encode_series_container_s": "s",
    "operators.decode_rows_skew": "ratio",
    "spark.scan_s": "s",
    "spark.silver_scan_s": "s",
    "spark.write_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "plans.fused_rollup_encode_s": "s",
    "plans.verify_encoded_s": "s",
    **{f"plans.decode_fused_tier_s.{t}": "s" for t in TIERS},
    "plans.run_retention_s": "s",
    "plans.compact_tiers_s": "s",
    "plans.expire_s": "s",
    "plans.query_tier_s": "s",
    "plans.read_tier_range_s": "s",
    **{f"store.ratio.{t}": "ratio" for t in TIERS},
    "store.bytes": "bytes",
    **{f"queries.{f}_s": "s" for f in FAMILIES},
    "session.start_s": "s",
    "decode.residual_share": "ratio",
    "trace.overhead_s": "s",
}

_DTYPES = ("u8", "u16", "i64")
# FIRE takes 8- and 16-bit elements only
_CODECS = {"fire": ("u8", "u16"), "delta": _DTYPES, "doubledelta": _DTYPES,
           "container": _DTYPES}
_FULL_CHUNK = 1 << 16


def _timed_call(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _per_call(fn, first_s: float, min_s: float = 0.03, reps: int = 3) -> float:
    """Seconds per call: ``first_s`` (a call already made, so lazy imports
    are done) when it took ``min_s`` or more, else the median of ``reps``
    timed batches of calls."""
    if first_s >= min_s:
        return first_s
    times = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            el = time.perf_counter() - t0
            if el >= min_s / reps:
                break
        times.append(el / n)
    return statistics.median(times)


class Probe:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.dir = os.path.join(ctx.work, "probe")
        self.m: dict = {}
        self.detail: dict = {}
        self.checks: list = []

    def timed(self, name: str, fn, span: str | None = None):
        """Time one call in a span named like the metric, without ``_s``."""
        with self.tr.span(span or name.removesuffix("_s")):
            t0 = time.perf_counter()
            out = fn()
            self.m[name] = time.perf_counter() - t0
        return out

    def measure(self, name: str, fn, span: str | None = None) -> None:
        """The median of the workload's own spans of this call when its
        set-up or traced loop made any; otherwise one timed call of
        ``fn`` (None where every workload makes the span)."""
        span = span or name.removesuffix("_s")
        done = self.tr.durations(span)
        if done:
            self.m[name] = statistics.median(done)
        else:
            self.timed(name, fn, span)

    def run(self) -> tuple[dict, dict]:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.plans()
        self.operators_and_spark()
        self.codecs()
        self.queries()
        self.m["session.start_s"] = self.ctx.session_start_s
        self.m.update(self.ctx.loop_layer_metrics)
        self.decode_accounting()
        return self.m, self.detail

    # plans + store --------------------------------------------------

    def plans(self):
        from sprintz_spark.plans import retention as RT
        from sprintz_spark.plans.jobs import decode_fused_tier, verify_encoded

        spark, stores = self.spark, self.ctx.stores
        # every workload builds its fused store inside a span
        self.fused = stores["fused"]
        self.measure("plans.fused_rollup_encode_s", None)
        enc = spark.read.parquet(self.fused)
        self.measure("plans.verify_encoded_s", lambda: noop(verify_encoded(enc)))
        for t in TIERS:
            self.measure(
                f"plans.decode_fused_tier_s.{t}",
                lambda t=t: noop(decode_fused_tier(enc, t)),
                span=f"plans.decode_fused_tier.{t}",
            )

        ret, snap = stores.get("ret"), stores.get("ret_snap")
        if ret is None:
            ret, snap = os.path.join(self.dir, "ret"), "p0"
            pages = spark.read.parquet(self.ctx.inputs["pages"])
            self.timed(
                "plans.run_retention_s",
                lambda: RT.run_retention(pages, ret, snapshot_id=snap, n_buckets=RET_BUCKETS),
            )
        else:
            self.measure("plans.run_retention_s", None)
        ratios = RT.tier_ratio_report(spark, ret, snap)
        for t in TIERS:
            self.m[f"store.ratio.{t}"] = ratios[t]["ratio"]
        self.m["store.bytes"] = disk_bytes(os.path.join(ret, f"snap={snap}"))
        self.measure(
            "plans.query_tier_s",
            lambda: RT.query_tier(spark, ret, snap, "1h", "byte_size_sum").collect(),
        )
        lo = dt.datetime(2024, 1, 3)
        self.measure(
            "plans.read_tier_range_s",
            lambda: noop(RT.read_tier_range(spark, ret, snap, "1m", lo, lo + dt.timedelta(days=2))),
        )
        # compaction and expiry rewrite the store: they run after the
        # workload's checks, and last among the probes that read it
        self.timed(
            "plans.compact_tiers_s",
            lambda: RT.compact_tiers(spark, ret, [snap], "compacted", n_buckets=RET_BUCKETS),
        )

        def expire():
            RT.expire_tier(spark, ret, "compacted", "1m", dt.datetime(2024, 1, 8))
            RT.expire_snapshots(spark, ret, keep_ids=["compacted"])

        self.timed("plans.expire_s", expire)

    # operators + spark ----------------------------------------------

    def operators_and_spark(self):
        from sprintz_spark.operators.encode import (
            decode_series,
            encode_series_container,
            query_encoded,
        )
        from sprintz_spark.operators.rollup import derive_series

        spark = self.spark
        enc = spark.read.parquet(self.fused)
        feed_cols = ["part", "url", "n", "meta", "ts_blob"] + [f"blob_{m}" for m in MEASURES]
        feed = enc.select(*feed_cols)
        self.timed("spark.scan_s", lambda: noop(enc))
        self.timed("spark.silver_scan_s", lambda: noop(self.ctx.silver_df()))
        self.timed(
            "spark.write_s",
            lambda: enc.write.mode("overwrite").parquet(os.path.join(self.dir, "rewrite")),
        )
        self.timed(
            "operators.feed_floor_s",
            lambda: noop(feed.mapInArrow(lambda it: it, feed.schema)),
        )
        dec = decode_series(enc, key_cols=["part", "url"], value_cols=MEASURES)
        self.timed("operators.decode_series_s", lambda: noop(dec))
        rows = [
            r["c"]
            for r in dec.select(F.spark_partition_id().alias("p"))
            .groupBy("p").agg(F.count(F.lit(1)).alias("c")).collect()
        ]
        self.m["operators.decode_rows_skew"] = max(rows) / statistics.median(rows)
        self.detail["decode_partitions"] = len(rows)
        self.timed(
            "operators.query_encoded_s",
            lambda: noop(query_encoded(enc, "byte_size_sum", key_cols=["url"])),
        )
        pages = spark.read.parquet(self.ctx.inputs["pages"])
        self.timed("operators.derive_series_s", lambda: noop(derive_series(pages, "1m")))
        series_path = os.path.join(self.dir, "series_1m")
        derive_series(pages, "1m").write.parquet(series_path)
        series = spark.read.parquet(series_path)
        self.timed(
            "operators.encode_series_container_s",
            lambda: noop(encode_series_container(series, key_cols=["url"], value_cols=MEASURES)),
        )

    # codecs ---------------------------------------------------------

    def codecs(self):
        from sprintz_spark.codecs import sprintz as sz
        from sprintz_spark.operators.encode import decode_value_columns_batch

        t = pq.read_table(self.fused, columns=["n", "meta", "ts_blob"] + [f"blob_{m}" for m in MEASURES])
        ns = t.column("n").to_numpy()
        metas = [json.loads(m) for m in t.column("meta").to_pylist()]
        ts_blobs = t.column("ts_blob").to_pylist()
        blobs = {m: t.column(f"blob_{m}").to_pylist() for m in MEASURES}
        pts = int(ns.sum())
        self.m["codecs.points_per_blob"] = pts / len(ns)

        def decode_store():
            sz.decode_batch(ts_blobs)
            for m in MEASURES:
                decode_value_columns_batch(blobs[m], [mt[m] for mt in metas])

        self.kernel_s = _per_call(decode_store, _timed_call(decode_store)[1])
        self.m["codecs.decode_pts_per_s"] = 5 * pts / self.kernel_s
        sums = blobs["byte_size_sum"]

        def partials():
            sz.query_batch_partials(sums)

        self.m["codecs.query_partials_pts_per_s"] = pts / _per_call(
            partials, _timed_call(partials)[1]
        )

        ts = np.concatenate([a.view(np.int64) for a in sz.decode_batch(ts_blobs)])
        counts = np.concatenate(decode_value_columns_batch(
            blobs["crawl_count"], [mt["crawl_count"] for mt in metas])).astype(np.int64)
        maxes = np.concatenate(decode_value_columns_batch(
            blobs["byte_size_max"], [mt["byte_size_max"] for mt in metas])).astype(np.int64)
        series = {
            "u8": np.minimum(counts, 255).astype(np.uint8),
            "u16": np.clip(maxes - maxes.min(), 0, 65535).astype(np.uint16),
            "i64": ts,
        }
        reps = -(-_FULL_CHUNK // len(ts))
        shapes = {
            "short": lambda v: (v, ns),
            "64k": lambda v: (np.tile(v, reps)[:_FULL_CHUNK], np.full(1, _FULL_CHUNK)),
        }
        table = []
        for codec, dtypes in _CODECS.items():
            for dname in dtypes:
                for shape, cut in shapes.items():
                    vals, lens = cut(series[dname])
                    enc_s, dec_s = self._kernel(sz, codec, vals, lens)
                    n = int(np.sum(lens))
                    table.append({"codec": codec, "dtype": dname, "shape": shape,
                                  "points": n, "encode_pts_per_s": n / enc_s,
                                  "decode_pts_per_s": n / dec_s})
        self.detail["kernel_table"] = table
        pick = {(r["codec"], r["dtype"], r["shape"]): r["encode_pts_per_s"] for r in table}
        self.m["codecs.encode_fire_pts_per_s"] = pick[("fire", "u16", "short")]
        self.m["codecs.encode_dd_pts_per_s"] = pick[("doubledelta", "i64", "short")]
        self.m["codecs.encode_container_pts_per_s"] = pick[("container", "i64", "short")]

    @staticmethod
    def _kernel(sz, codec, vals, lens):
        """(encode s, decode s) per call of one codec on one shape; the
        decoded values must equal the input."""
        if codec == "container":
            enc = lambda: sz.encode_container(vals, lens, "auto")  # noqa: E731
            blob, enc_s = _timed_call(enc)
            dec = lambda: sz.decode_container(blob)  # noqa: E731
            (got, _lens), dec_s = _timed_call(dec)
        else:
            enc = lambda: sz.encode_batch_concat(vals, lens, codec, deflate=False)  # noqa: E731
            blob, enc_s = _timed_call(enc)
            dec = lambda: sz.decode_batch(blob)  # noqa: E731
            parts, dec_s = _timed_call(dec)
            got = np.concatenate([np.asarray(a) for a in parts])
        if not np.array_equal(got.astype(vals.dtype, copy=False), vals):
            raise AssertionError(f"kernel round trip differs: {codec} {vals.dtype}")
        return _per_call(enc, enc_s), _per_call(dec, dec_s)

    # queries --------------------------------------------------------

    def queries(self):
        """First run in the session of every query in ``registry.FAMILIES``,
        collected to pandas, timed per family and compared with the
        query's DuckDB oracle."""
        from sprintz_spark.queries import oracles, queries

        reg, orc = queries(), oracles()
        tables = self.ctx.inputs["tables"]
        times: dict = {}
        for fam, qs in FAMILIES.items():
            times[fam] = 0.0
            for name in qs:
                if name not in reg:
                    self.checks.append((f"registry.{name}", False, "missing from the registry"))
                    continue
                with self.tr.span(f"queries.{fam}"):
                    t0 = time.perf_counter()
                    got = reg[name](self.spark, tables).toPandas()
                    times[fam] += time.perf_counter() - t0
                ok, detail = compare_with_oracle(got, orc.get(name), tables)
                self.checks.append((f"oracle.{name}", ok, detail))
        for fam, s in times.items():
            self.m[f"queries.{fam}_s"] = s

    def decode_accounting(self):
        """Decode wall of the whole fused store as scan + (feed floor -
        scan) + kernel time / cores + residual."""
        wall = self.m["operators.decode_series_s"]
        scan = self.m["spark.scan_s"]
        feed = self.m["operators.feed_floor_s"] - scan
        kernel = self.kernel_s / self.ctx.cores
        residual = wall - scan - feed - kernel
        self.m["decode.residual_share"] = residual / wall
        self.detail["decode_accounting"] = {
            "decode_wall_s": wall, "scan_s": scan, "feed_minus_scan_s": feed,
            "kernel_div_cores_s": kernel, "kernel_single_thread_s": self.kernel_s,
            "cores": self.ctx.cores, "residual_s": residual,
            "residual_share": residual / wall,
        }
