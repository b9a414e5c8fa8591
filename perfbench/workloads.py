"""The workloads. Each one has a set-up, a closed-loop pass of
requests, a correctness check run outside the timed region, and the
``compression_ratio`` of what it stored.

A request is one call (or a short chain of calls) into the engine's
public functions; the next request starts only after the previous one
returned. Every call is wrapped in a tracer span, which is free when
tracing is off.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
import shutil
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import functions as F


TIERS = ("1m", "1h", "1d")
MEASURES = ["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]
# raw size of one rolled-up point: int64 timestamp + four int64 measures
RAW_POINT_BYTES = 8 * (1 + len(MEASURES))
RET_BUCKETS = 4


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def disk_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def store_points(path: str) -> dict:
    """Rolled-up points per tier of a fused store, from its ``n`` column."""
    t = pq.read_table(path, columns=["tier", "n"]).to_pandas()
    return {k: int(v) for k, v in t.groupby("tier")["n"].sum().items()}


class Workload:
    name = ""
    # passes after set-up and before the timed loop, until request times
    # stop falling (JIT and heap sizing in the JVM); set per workload from
    # the measured fall
    warmup_passes = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.work, self.name)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def setup(self) -> None:
        """Build what the requests read; timed once, as part of ``setup_s``."""
        raise NotImplementedError

    def warmup(self) -> None:
        """``warmup_passes`` passes after set-up, so the timed passes do
        not pay first-call and warm-up costs (JIT, plan caches, UDF
        imports, heap sizing)."""
        for n in range(1, self.warmup_passes + 1):
            for _label, fn in self.requests(-n):
                fn()

    def requests(self, n_pass: int) -> list:
        """One pass: a list of (label, fn) where fn() returns the rows
        the request handled."""
        raise NotImplementedError

    def check(self) -> list:
        """[(name, ok, detail)] comparing stored results with sources."""
        raise NotImplementedError

    def compression_ratio(self) -> float:
        """Raw bytes of the fused store's points ÷ its bytes on disk."""
        path = self.ctx.stores["fused"]
        return RAW_POINT_BYTES * sum(store_points(path).values()) / disk_bytes(path)

    def corrupt(self) -> str:
        """Point the checks at a copy of the fused store in which one byte
        in the middle of the longest byte_size_sum blob is flipped."""
        path = self.ctx.stores["fused"]
        enc = self.spark.read.parquet(path)
        key = ["tier", "part", "url", "chunk"]
        blob = "blob_byte_size_sum"
        row = enc.orderBy(F.length(blob).desc(), *key).select(*key, blob).first()
        b = bytearray(row[blob])
        b[len(b) // 2] ^= 0xFF
        hit = reduce(lambda x, y: x & y, [F.col(c) == F.lit(row[c]) for c in key])
        out = path + "_corrupt"
        enc.withColumn(blob, F.when(hit, F.lit(bytes(b))).otherwise(F.col(blob))).write.mode(
            "overwrite"
        ).parquet(out)
        self.ctx.stores["fused"] = out
        return (f"copy {out}: {blob} of {row['tier']} {row['url']} chunk {row['chunk']}, "
                f"byte {len(b) // 2} of {len(b)}")

    # shared helpers -------------------------------------------------

    def source_totals(self) -> tuple[int, int]:
        """Σ rows and Σ nbytes of the pages input, by Spark SQL."""
        if not hasattr(self, "_src_totals"):
            r = (
                self.spark.read.parquet(self.ctx.inputs["pages"])
                .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("html")).alias("b"))
                .first()
            )
            self._src_totals = (int(r["n"]), int(r["b"]))
        return self._src_totals

    def check_decoded(self, label: str, decoded: dict, want: dict) -> list:
        """Compare per-tier (Σ crawl_count, Σ byte_size_sum) of decoded
        tiers with the wanted totals, in one Spark job."""
        tiers = reduce(
            lambda a, b: a.unionByName(b),
            [df.select(F.lit(t).alias("t"), "crawl_count", "byte_size_sum")
             for t, df in decoded.items()],
        )
        try:
            rows = tiers.groupBy("t").agg(
                F.sum("crawl_count").alias("c"), F.sum("byte_size_sum").alias("b")
            ).collect()
        except Exception as e:  # a decoder that rejects a blob fails the check
            err = f"{type(e).__name__}: {str(e)[:200]}"
            return [(f"{label}.{t}", False, err) for t in decoded]
        got = {r["t"]: (int(r["c"]), int(r["b"])) for r in rows}
        return [
            (f"{label}.{t}", got.get(t) == want[t], f"got {got.get(t)} want {want[t]}")
            for t in decoded
        ]

    def fused_store(self, path: str) -> None:
        from sprintz_spark.plans.jobs import fused_rollup_encode

        tr = self.ctx.tracer
        with tr.span("plans.fused_rollup_encode"):
            fused_rollup_encode(self.ctx.silver_df(), codec="fire").write.mode(
                "overwrite"
            ).parquet(path)

    def check_fused(self) -> list:
        from sprintz_spark.plans.jobs import decode_fused_tier

        enc = self.spark.read.parquet(self.ctx.stores["fused"])
        want = {t: self.source_totals() for t in TIERS}
        return self.check_decoded("fused", {t: decode_fused_tier(enc, t) for t in TIERS}, want)


class Ingest(Workload):
    """Fused 1m/1h/1d rollup + FIRE encode + parquet write + verify."""

    name = "ingest"
    # request times fall by about a third over the first six requests
    # of a run, then level off
    warmup_passes = 6

    def setup(self):
        self.ctx.silver_df()
        self.n_rows = self.source_totals()[0]
        self.n_requests = 0

    def requests(self, n_pass):
        return [("ingest", self._ingest)]

    def _ingest(self):
        from sprintz_spark.plans.jobs import verify_encoded

        self.n_requests += 1
        out = os.path.join(self.dir, f"enc{self.n_requests % 2}")
        shutil.rmtree(out, ignore_errors=True)
        self.fused_store(out)
        with self.ctx.tracer.span("plans.verify_encoded"):
            noop(verify_encoded(self.spark.read.parquet(out)))
        self.ctx.stores["fused"] = out
        return self.n_rows

    def check(self):
        return self.check_fused()


class Serve(Workload):
    """Read-only request mix over a fused store and a retention store."""

    name = "serve"
    # a pass is seven requests; times still fall by about a tenth over
    # the second pass, and little after it
    warmup_passes = 2

    def setup(self):
        from sprintz_spark.plans.retention import run_retention

        self.fused = os.path.join(self.dir, "fused")
        self.ret = os.path.join(self.dir, "ret")
        self.fused_store(self.fused)
        with self.ctx.tracer.span("plans.run_retention"):
            run_retention(
                self.spark.read.parquet(self.ctx.inputs["pages"]),
                self.ret,
                snapshot_id="serve",
                n_buckets=RET_BUCKETS,
            )
        self.points = store_points(self.fused)
        self.fused_df = self.spark.read.parquet(self.fused)
        self.ctx.stores.update(fused=self.fused, ret=self.ret, ret_snap="serve")

    def requests(self, n_pass):
        """Per pass: every tier decode, and one query on compressed data
        and one two-day range read on each of the 1m and 1h tiers. The
        query's measure and the read's start are drawn from the seed, so
        every pass, whatever the seed, holds the same kinds of work; the
        order is fixed per seed."""
        rng = random.Random(self.ctx.seed * 1000 + n_pass)
        reqs = [(f"decode.{t}", self._decode(t)) for t in TIERS]
        for tier in ("1m", "1h"):
            lo = dt.datetime(2024, 1, 1) + dt.timedelta(hours=rng.randrange(0, 24 * 20))
            reqs.append((f"query_tier.{tier}", self._query(tier, rng.choice(MEASURES))))
            reqs.append((f"read_tier_range.{tier}",
                         self._range(tier, lo, lo + dt.timedelta(days=2))))
        random.Random(self.ctx.seed).shuffle(reqs)
        return reqs

    def _decode(self, tier):
        from sprintz_spark.plans.jobs import decode_fused_tier

        def go():
            with self.ctx.tracer.span(f"plans.decode_fused_tier.{tier}"):
                noop(decode_fused_tier(self.fused_df, tier))
            return self.points.get(tier, 0)

        return go

    def _query(self, tier, measure):
        from sprintz_spark.plans.retention import query_tier

        def go():
            with self.ctx.tracer.span("plans.query_tier"):
                query_tier(self.spark, self.ret, "serve", tier, measure).collect()
            return 0

        return go

    def _range(self, tier, lo, hi):
        from sprintz_spark.plans.retention import read_tier_range

        def go():
            with self.ctx.tracer.span("plans.read_tier_range"):
                noop(read_tier_range(self.spark, self.ret, "serve", tier, lo, hi))
            return 0

        return go

    def check(self):
        from sprintz_spark.plans.retention import read_tier_decoded

        out = self.check_fused()
        want = {t: self.source_totals() for t in TIERS}
        dec = {t: read_tier_decoded(self.spark, self.ret, "serve", t) for t in TIERS}
        return out + self.check_decoded("retention", dec, want)


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
