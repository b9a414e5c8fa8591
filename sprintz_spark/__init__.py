"""sprintz_spark — a PySpark-native time-series rollup, downsample, and
retention engine whose compression core re-implements the Sprintz pipeline
(FIRE online forecasting, delta/zigzag encoding, bit-packed 8-sample block
codes with zero-block RLE — reference: dblalock/sprintz, arXiv:1808.02515)
alongside Gorilla XOR float encoding and delta-of-delta timestamp
compression, all as vectorized numpy kernels driven from Arrow-batched
pandas UDFs over Spark DataFrames.

Design notes (Spark-first, not a port):
  * All relational work (windows, rollups, joins, gap-fill spines, salting,
    partial+final aggregation) is plain DataFrame API so Catalyst handles
    pushdown/pruning/AQE.
  * Codec kernels live in ``sprintz_spark.codecs`` and are Spark-free pure
    numpy, unit-tested against the reference's own test input families
    (see /root/reference/cpp/Compress/test/compress_testing.hpp semantics).
  * Per-series sequential state (delta carry, FIRE coefficients) is confined
    inside ``applyInPandas`` groups, never across Spark rows.
"""

__version__ = "0.1.0"

from sprintz_spark import _zipstat

# every engine UDF imports this package inside its Python worker, so each
# reused worker stops re-reading Spark's zip archives at every task start
_zipstat.install()
