"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Two input families, both pure functions of the seed, built with numpy and
written with pyarrow:

* ``pages``: a Common-Crawl-style pages table ``(url, warc_ts, html,
  text, lang)`` with the shape of the engine's
  ``sources.pages.generate_pages`` (Zipf-skewed url sizes, hourly crawls
  with jitter and 20% gaps, html lengths on a smooth per-url wave). The
  ingest and serve workloads read it; each run's set-up writes its
  bucketed silver projection with the engine's ``plans.jobs.ingest_silver``.
* query tables: ``events``, ``lineitem``, ``orders``, ``documents`` and
  ``embeddings`` in the column layout the registry queries read. The
  traced runs' registry-query probes read these.

The pages are not made by ``generate_pages`` itself because it runs on
Spark: generated inside the measured process, it warms that process's
JVM, and a run on an empty cache then sets up about a quarter faster
than a run on a full one. ``prepare`` needs no Spark, and ``run.py``
calls it in a child process (``python3 perfbench/inputs.py CACHE SEED``)
before its own session starts, so a run measures the same whether the
cache was full or not. A cache entry is written to a staging directory
and renamed into place, so an interrupted run leaves no half-written
entry behind.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_ROWS = 40_000
PAGES_FILES = 4
EVENTS_ROWS = 4_000
# one bucket per core of a 4-core machine. An ingest request pays a fixed
# cost per silver part (one applyInPandas group each, about 20 ms), so
# the part count sets much of the request's size
SILVER_BUCKETS = 4
SILVER_PARTS = 4 * SILVER_BUCKETS
QUERY_TABLES = ("events", "lineitem", "orders", "documents", "embeddings")

_WORDS = (
    "the a data row column table query scan join merge sort hash key value "
    "window stream batch spark line part order customer filter group agg "
    "index shard token corpus page crawl fast slow big small dup text"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")


def _atomic_dir(final: str, build) -> str:
    """Build a cache directory under a staging name, then rename it."""
    if os.path.isdir(final):
        return final
    staging = final + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    build(staging)
    os.rename(staging, final)
    return final


def locate(cache_dir: str, seed: int) -> dict:
    """Paths of the cached inputs of ``seed``; ``ready`` says whether all
    of them exist."""
    out = {
        "pages": os.path.join(cache_dir, f"pages_s{seed}_r{PAGES_ROWS}"),
        "tables": os.path.join(cache_dir, f"tables_s{seed}_r{EVENTS_ROWS}"),
    }
    out["ready"] = all(os.path.isdir(p) for p in out.values())
    return out


def _pages(rng, rows: int) -> pa.Table:
    n_urls = max(1, rows // 50)
    n_sites = max(5, n_urls // 20)
    u = (np.arange(rows) + 0.5) / rows
    url_id = np.floor(n_urls * u**2).astype(np.int64)
    # a url's rows are one contiguous id range; its crawl slot is the offset
    first = np.ceil(np.sqrt(url_id / n_urls) * rows - 0.5).astype(np.int64)
    slot = np.arange(rows) - first
    h = rng.integers(0, 1 << 62, rows)
    keep = h % 1000 >= 200  # 20% of slots are never crawled
    url_id, slot, h = url_id[keep], slot[keep], h[keep]
    site = np.floor(n_sites * ((url_id + 0.5) / n_urls) ** 1.5).astype(np.int64)
    site_lang = rng.integers(0, len(_LANGS), n_sites + 1)
    ts = (
        np.datetime64("2024-01-01", "us")
        + (slot * 3600 + h % 600 - 300).astype("timedelta64[s]")
    )
    target = 1200 + (url_id * 37) % 800 + (300 * np.sin(slot / 12.0)).astype(np.int64) + h % 32
    urls, htmls, texts, langs = [], [], [], []
    for uid, sl, st, tl, hh in zip(url_id.tolist(), slot.tolist(), site.tolist(),
                                   target.tolist(), h.tolist()):
        text = f"page {uid} crawl {sl} " + " ".join(
            _WORDS[(hh >> (5 * j)) % len(_WORDS)] for j in range(12))
        body = f"<html><body><article>{text}</article></body></html>".encode()
        pad = tl - len(body)
        htmls.append(body + b"<!--" + b"x" * (pad - 7) + b"-->" if pad > 7 else body)
        urls.append(f"https://site{st}.example/p/{uid}")
        texts.append(text)
        langs.append(_LANGS[site_lang[st]])
    return pa.table({
        "url": pa.array(urls),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
    })


def prepare(cache_dir: str, seed: int) -> None:
    """Build whatever of the seed's cached inputs is missing."""
    where = locate(cache_dir, seed)

    def build_pages(staging):
        pages = _pages(np.random.default_rng(seed), PAGES_ROWS)
        step = -(-pages.num_rows // PAGES_FILES)
        for i in range(PAGES_FILES):
            pq.write_table(pages.slice(i * step, step),
                           os.path.join(staging, f"part-{i}.parquet"))

    def build_tables(staging):
        rng = np.random.default_rng(seed)
        orders, lineitem = _orders_lineitem(rng, EVENTS_ROWS // 2)
        tables = {
            "events": _events(rng, EVENTS_ROWS),
            "orders": orders,
            "lineitem": lineitem,
            "documents": _documents(rng, EVENTS_ROWS // 8),
            "embeddings": _embeddings(rng, EVENTS_ROWS // 8),
        }
        for name, table in tables.items():
            pq.write_table(table, os.path.join(staging, f"{name}.parquet"))

    _atomic_dir(where["pages"], build_pages)
    _atomic_dir(where["tables"], build_tables)


def _events(rng, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span, n))
    n_users = max(15, n // 66)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array(
                rng.choice(["view", "click", "purchase", "signup", "error"], n)
            ),
            "value": pa.array(np.round(rng.uniform(0.01, 330.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _orders_lineitem(rng, n_orders: int) -> tuple[pa.Table, pa.Table]:
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_orders,
                )
            ),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, 2000, n)),
            "l_suppkey": pa.array(rng.integers(0, 100, n)),
            "l_linenumber": pa.array(lnum.astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    return orders, lineitem


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        words = rng.choice(_WORDS, int(rng.integers(8, 90)))
        texts.append(" ".join(words))
    # a few exact copies so the duplicate detectors have work to find
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n)),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0, 1, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centers[labels] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def table_rows(table_dir: str) -> dict:
    return {
        t: pq.ParquetFile(os.path.join(table_dir, f"{t}.parquet")).metadata.num_rows
        for t in QUERY_TABLES
    }


if __name__ == "__main__":
    prepare(sys.argv[1], int(sys.argv[2]))
