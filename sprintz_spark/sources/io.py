"""Source/sink dispatch — the reference's DfSet family, Spark-first.

Parity map (SURVEY §2.1): ``make_dfset`` factory-by-filetype
(reference: python/dfset.py:624-646) → ``read_table``/``write_table``
format dispatch; ``CsvDfSet`` (python/dfset.py:424-442) → ``spark.read
.csv(header, inferSchema)``; ``copy_from_csvs_dir`` (python/dfset.py:
96-111) → a directory-wide csv read; ``ParquetDfSet`` with
``compression=None`` so codec effects stay measurable
(python/dfset.py:578-597) → ``write_table(..., compression='none')``.
One-file-per-column storage has no Spark analog (Parquet is already
columnar inside row groups), so tables are whole DataFrames.
"""

from __future__ import annotations

import json
import logging
import os
from collections.abc import Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)

# footer key under which Spark's parquet writer stores the exact Catalyst
# schema of the rows (ParquetReadSupport.SPARK_METADATA_KEY)
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_EXT_FMT = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".json": "json",
    ".npy": "npy",
    ".feather": "feather",
}


def _infer_fmt(path: str, fmt: str | None) -> str:
    if fmt:
        return fmt
    ext = os.path.splitext(path)[1].lower()
    if ext in _EXT_FMT:
        return _EXT_FMT[ext]
    return "parquet"


def _first_data_file(path: str) -> str | None:
    """First data file of a local parquet file or directory, in sorted
    order. Components with a ``_``/``.`` prefix (``_temporary`` attempt
    dirs, ``_SUCCESS``, ``.crc`` side files) are not data, as for Spark's
    own file index."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


def footer_schema(paths: Sequence[str]) -> StructType | None:
    """The schema Spark wrote into the footers of the local parquet stores
    ``paths``, read with pyarrow from the first data file of each; None
    (with the reason logged) when Spark has to infer it instead: a path
    is not local or holds no data file, or a footer cannot be read, has
    no Spark schema (a pyarrow- or DuckDB-written file) or differs from
    another path's. Spark's own inference without ``mergeSchema`` reads
    the same key from one file, so both give the same schema (``read_table``
    infers whenever ``spark.sql.parquet.mergeSchema`` is on)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    found = set()
    for p in paths:
        url = urlparse(p)
        if url.scheme not in ("", "file"):
            log.info("%s is not a local path; Spark infers its schema", p)
            return None
        f = _first_data_file(url.path if url.scheme else p)
        if f is None:
            log.info("no local data file under %s; Spark infers its schema", p)
            return None
        try:
            with pq.ParquetFile(f) as pf:
                js = (pf.metadata.metadata or {}).get(SPARK_SCHEMA_KEY)
        except (OSError, pa.ArrowException) as e:
            log.warning("footer read of %s failed (%r); Spark infers its schema", f, e)
            return None
        if js is None:
            log.info("%s has no Spark schema in its footer; Spark infers it", f)
            return None
        found.add(js)
    if len(found) > 1:
        log.info("footer schemas of %s differ; Spark infers the schema", list(paths))
        return None
    return StructType.fromJson(json.loads(found.pop()))


def read_table(
    spark: SparkSession,
    path: str | Sequence[str],
    fmt: str | None = None,
    schema=None,
    base_path: str | None = None,
    footer: bool = True,
) -> DataFrame:
    """Format-dispatched scan of one path or several (``base_path`` is
    Spark's ``basePath`` for partition discovery). Csv reads get
    header+schema inference unless an explicit schema pins the types.

    A parquet read with no schema takes it from the files' footers
    (``footer_schema``): a bare ``spark.read.parquet`` runs a one-task
    Spark job to read a footer on every call. The footer is read on every
    call, so a rewritten store is never read with a stale schema. Spark
    infers the schema, as a bare read does, when ``footer`` is False or
    ``spark.sql.parquet.mergeSchema`` is on (a merged schema can hold
    columns that the first file lacks)."""
    paths = [path] if isinstance(path, str) else list(path)
    fmt = _infer_fmt(paths[0], fmt)
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    if schema is None and fmt == "parquet" and footer:
        if spark.conf.get("spark.sql.parquet.mergeSchema", "false").strip().lower() == "true":
            log.info("spark.sql.parquet.mergeSchema is on; Spark infers the schema of %s", paths)
        else:
            schema = footer_schema(paths)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        return reader.options(
            header=True, **({} if schema is not None else {"inferSchema": True})
        ).csv(paths)
    if fmt == "json":
        return reader.json(paths)
    if fmt == "npy":
        return read_npy(spark, paths[0])
    if fmt == "feather":
        return read_feather(spark, paths[0])
    return reader.parquet(*paths)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str | None = None,
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    """Format-dispatched sink. ``compression='none'`` mirrors the
    reference's uncompressed-parquet baseline so the engine codec's effect
    is measurable in isolation."""
    fmt = _infer_fmt(path, fmt)
    writer = df.write.mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    if fmt == "csv":
        writer.option("header", True).csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "npy":
        write_npy(df, path)
    elif fmt == "feather":
        write_feather(df, path)
    else:
        writer.parquet(path)


def copy_from_csv_dir(
    spark: SparkSession, dirpath: str, schema=None
) -> DataFrame:
    """Ingest a directory of CSVs as one DataFrame (reference:
    copy_from_csvs_dir, python/dfset.py:96-111)."""
    return read_table(spark, dirpath, fmt="csv", schema=schema)


# --- single-machine interchange formats (reference DfSet parity) -----------
#
# NpyDfSet (python/dfset.py:445-459), FeatherDfSet (python/dfset.py:462-476)
# and SmartDfSet (python/dfset.py:479-560) are the reference's
# one-file-per-column benchmark stores. They are inherently single-machine
# formats (no splittable container, no schema evolution), so the Spark
# analogs below run driver-side and are for API parity and small
# interchange only — at 100 TB the engine's tables are parquet/the tier
# store. The Smart rule mirrors the reference exactly: a column whose
# dtype numpy can represent is written as .npy, anything else (strings,
# objects) falls back to .feather; reads probe .npy first.


def write_npy(df: DataFrame, path: str, col: str | None = None) -> None:
    """Write one numeric column as a .npy file (NpyDfSet analog;
    allow_pickle=False like the reference's compatibility note)."""
    import numpy as np

    cols = df.columns
    col = col or (cols[0] if len(cols) == 1 else None)
    if col is None:
        raise ValueError("write_npy needs a single-column frame or an explicit col")
    vals = df.select(col).toPandas()[col].to_numpy()
    np.save(path if path.endswith(".npy") else path + ".npy", vals, allow_pickle=False)


def read_npy(spark: SparkSession, path: str, col: str = "value") -> DataFrame:
    import numpy as np
    import pandas as pd

    vals = np.load(path if path.endswith(".npy") else path + ".npy", allow_pickle=False)
    return spark.createDataFrame(pd.DataFrame({col: vals}))


def write_feather(df: DataFrame, path: str, compression: str = "uncompressed") -> None:
    """Whole-frame Arrow/Feather sink (FeatherDfSet analog; uncompressed
    by default so codec effects stay measurable, dfset.py:467)."""
    import pyarrow as pa
    from pyarrow import feather

    tbl = pa.Table.from_pandas(df.toPandas(), preserve_index=False)
    feather.write_feather(tbl, path, compression=compression)


def read_feather(spark: SparkSession, path: str) -> DataFrame:
    from pyarrow import feather

    return spark.createDataFrame(feather.read_table(path).to_pandas())


def write_smart(df: DataFrame, path_base: str, col: str) -> str:
    """SmartDfSet write rule (dfset.py:539-560): .npy when the column's
    dtype is a plain numpy dtype, else .feather; the loser extension is
    removed. Returns the path written."""
    import numpy as np

    pdf = df.select(col).toPandas()
    np_path, fe_path = path_base + ".npy", path_base + ".feather"
    try:
        np.array([], dtype=pdf[col].dtype)  # throws if not a numpy dtype
        if pdf[col].dtype == object:
            raise TypeError("object dtype -> feather")
        np.save(np_path, pdf[col].to_numpy(), allow_pickle=False)
        if os.path.exists(fe_path):
            os.remove(fe_path)
        return np_path
    except TypeError:
        pass
    import pyarrow as pa
    from pyarrow import feather

    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    feather.write_feather(tbl, fe_path, compression="uncompressed")
    if os.path.exists(np_path):
        os.remove(np_path)
    return fe_path


def read_smart(spark: SparkSession, path_base: str, col: str = "value") -> DataFrame:
    """SmartDfSet read rule (dfset.py:522-537): probe .npy, then .feather."""
    if os.path.exists(path_base + ".npy"):
        return read_npy(spark, path_base + ".npy", col)
    if os.path.exists(path_base + ".feather"):
        return read_feather(spark, path_base + ".feather")
    raise FileNotFoundError(f"neither {path_base}.npy nor {path_base}.feather exists")
