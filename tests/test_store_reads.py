"""Engine store reads (``sources.io.read_table``) take their schema from
the footer Spark wrote into each parquet file instead of running Spark's
one-task schema-inference job on every read; where there is no such
footer schema they infer exactly as ``spark.read.parquet`` does, and log
why."""

import ast
import datetime as dt
import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sprintz_spark.plans import retention as RT
from sprintz_spark.plans.jobs import fused_rollup_encode
from sprintz_spark.sources.io import read_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def stores(spark, pages_small, tmp_path_factory):
    """One retention store with a per-series 1m tier and container 1h/1d
    tiers (so its manifest stats read is a mixed-format one), and a
    fused store."""
    root = tmp_path_factory.mktemp("stores")
    ret, fused = str(root / "ret"), str(root / "fused")
    RT.run_retention(pages_small, ret, "s", n_buckets=2, container_tiers=("1h", "1d"))
    fused_rollup_encode(pages_small, n_parts=4).write.parquet(fused)
    snap = os.path.join(ret, "snap=s")
    return {
        "ret": ret,
        "snap": snap,
        "container tier": os.path.join(snap, "encoded_tier=1h"),
        "per-series tier": os.path.join(snap, "encoded_tier=1m"),
        "series tier": os.path.join(snap, "series_tier=1h"),
        "manifest": os.path.join(ret, "manifest"),
        "fused": fused,
    }


def _same_frame(got, want):
    assert got.schema == want.schema
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def _io_messages(caplog):
    return [r.getMessage() for r in caplog.records if r.name == "sprintz_spark.sources.io"]


@pytest.mark.parametrize(
    "store", ["container tier", "per-series tier", "series tier", "manifest", "fused"]
)
def test_footer_read_matches_inference(spark, stores, store, caplog):
    path = stores[store]
    with caplog.at_level("INFO", logger="sprintz_spark"):
        got = read_table(spark, path)
    assert _io_messages(caplog) == []  # the footer schema was used
    _same_frame(got, spark.read.parquet(path))


def test_footer_read_matches_inference_with_base_path(spark, stores):
    paths = [os.path.join(stores["snap"], f"encoded_tier={t}") for t in ("1h", "1d")]
    got = read_table(spark, paths, base_path=stores["snap"])
    assert "encoded_tier" in got.columns and "part" in got.columns
    _same_frame(got, spark.read.option("basePath", stores["snap"]).parquet(*paths))


def test_pyarrow_written_file_is_inferred(spark, tmp_path, caplog):
    (tmp_path / "t").mkdir()
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), tmp_path / "t" / "part-0.parquet")
    path = str(tmp_path / "t")
    with caplog.at_level("INFO", logger="sprintz_spark"):
        got = read_table(spark, path)
    assert any("no Spark schema" in m for m in _io_messages(caplog))
    _same_frame(got, spark.read.parquet(path))


def test_path_without_local_data_file_is_inferred(spark, stores, caplog):
    path = os.path.join(stores["fused"], "*.parquet")  # a glob Spark expands
    assert glob.glob(path)
    with caplog.at_level("INFO", logger="sprintz_spark"):
        got = read_table(spark, path)
    assert any("no local data file" in m for m in _io_messages(caplog))
    _same_frame(got, spark.read.parquet(path))


def test_mixed_format_base_path_read_is_inferred(spark, stores, caplog):
    paths = [stores["per-series tier"], stores["container tier"]]
    with caplog.at_level("INFO", logger="sprintz_spark"):
        got = read_table(spark, paths, base_path=stores["snap"])
    assert any("differ" in m for m in _io_messages(caplog))
    _same_frame(got, spark.read.option("basePath", stores["snap"]).parquet(*paths))


def test_merge_schema_session_is_inferred(spark, tmp_path, caplog):
    """With ``spark.sql.parquet.mergeSchema`` on, Spark merges the schemas
    of all files; the first file's footer would drop the later column."""
    import shutil

    for name, rows, ddl in (("one", [(1,)], "a long"), ("two", [(2, "x")], "a long, b string")):
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(str(tmp_path / name))
    path = tmp_path / "mixed"
    path.mkdir()
    for i, name in enumerate(("one", "two")):
        (src,) = glob.glob(str(tmp_path / name / "part-*.parquet"))
        shutil.copy(src, path / f"part-{i:05d}.parquet")
    key = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        with caplog.at_level("INFO", logger="sprintz_spark"):
            got = read_table(spark, str(path))
        want = spark.read.parquet(str(path))
        assert "b" in got.columns
        _same_frame(got, want)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert any("mergeSchema is on" in m for m in _io_messages(caplog))


def _jobs_of(spark, action) -> int:
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tier_reads_launch_no_schema_job(spark, stores):
    ret = stores["ret"]
    # map + partial aggregate, then the final aggregate
    assert _jobs_of(
        spark, lambda: RT.query_tier(spark, ret, "s", "1h", "byte_size_sum").collect()
    ) == 2
    lo, hi = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 4)
    assert _jobs_of(
        spark,
        lambda: RT.read_tier_range(spark, ret, "s", "1h", lo, hi)
        .write.format("noop").mode("overwrite").save(),
    ) == 1


def _bare_parquet_reads(source: str) -> list[int]:
    """Lines of ``<x>.read[...].parquet(`` calls: a parquet read whose
    schema Spark infers with a job of its own."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"):
            continue
        v = node.func.value
        while isinstance(v, (ast.Call, ast.Attribute)):
            if isinstance(v, ast.Attribute) and v.attr == "read":
                lines.append(node.lineno)
                break
            v = v.func if isinstance(v, ast.Call) else v.value
    return lines


def test_bare_parquet_read_detector():
    src = 'a = spark.read.option("basePath", b)\\\n    .parquet(p)\nenc.write.parquet(p)\n'
    assert _bare_parquet_reads(src) == [1]
    assert _bare_parquet_reads("read_table(spark, p)\n") == []


def test_engine_store_reads_go_through_read_table():
    files = glob.glob(os.path.join(REPO, "sprintz_spark", "plans", "*.py"))
    files.append(os.path.join(REPO, "sprintz_spark", "__main__.py"))
    found = {}
    for f in files:
        with open(f) as fh:
            lines = _bare_parquet_reads(fh.read())
        if lines:
            found[os.path.relpath(f, REPO)] = lines
    assert found == {}, f"use sources.io.read_table for engine store reads: {found}"
