"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship end-to-end pipeline on sf0.001: synthesize the
                 Common-Crawl-style pages table, derive per-url series,
                 sprintz-encode, decode, and return the verified 1h rollup.
queries()      — operator inventory from SURVEY.md §2 + training-data ops,
                 each (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent SQL per query (omitted only for
                 non-SQL-expressible ops: LSH banding, heuristic scoring).
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages -> 1m series -> encode -> decode -> 1h cascade."""
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship(spark)
    from sprintz_spark.operators import rollup as R
    from sprintz_spark.operators.encode import decode_series, encode_series
    from sprintz_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 3000)
    t1m = R.derive_series_salted(pages, "1m")
    enc = encode_series(
        t1m, key_cols=["url"], value_cols=["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]
    )
    dec = decode_series(
        enc, key_cols=["url"], value_cols=["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]
    )
    return R.cascade(dec, "1h")


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package zip to executors once per session (idempotent) —
    the driver may call queries() with its own session from any cwd."""
    if getattr(spark, "_sprintz_shipped", False):
        return
    _ship(spark)
    spark._sprintz_shipped = True


def _ship(spark: SparkSession) -> None:
    """addPyFile the package zip; a failure (e.g. a session without a
    SparkContext) is logged, and executors must then find the package on
    their own path."""
    try:
        from sprintz_spark.session import package_zip

        spark.sparkContext.addPyFile(package_zip())
    except Exception as e:
        logging.getLogger("sprintz_spark").warning(
            "could not ship the sprintz_spark package to executors: %r", e
        )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from sprintz_spark.queries import queries as q

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_shipped(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in q().items()}


def oracle_sql() -> dict[str, str]:
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from sprintz_spark.queries import oracles

    return oracles()


def release_query_caches() -> int:
    """Optional hook for long-lived sessions that run many queries():
    unpersist the tiny subtrees individual queries cached. Safe to call
    after each query's result is consumed."""
    import sys, os

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from sprintz_spark.queries import release_query_caches as rel

    return rel()
