"""Driver-side parquet footer reads (``sources.union.ParquetFooters``):
the schema a footer gives must be the one Spark's schema inference
gives for the same file under the same session confs, and a read
under it must launch no job."""

from __future__ import annotations

import datetime
import decimal
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from data_finder_comparator_spark.sources.union import ParquetFooters
from tests.conftest import _jobs_launched


@contextmanager
def _confs(spark, confs: dict[str, str]):
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_NANOS = "spark.sql.legacy.parquet.nanosAsLong"

# name -> (pyarrow column, session confs)
_ARROW = {
    "int8": (pa.array([1, None], pa.int8()), {}),
    "int16": (pa.array([1, 2], pa.int16()), {}),
    "int32": (pa.array([1, 2], pa.int32()), {}),
    "int64": (pa.array([1, 2], pa.int64()), {}),
    "float": (pa.array([1.5, None], pa.float32()), {}),
    "double": (pa.array([1.5, 2.5], pa.float64()), {}),
    "decimal38_18": (pa.array([decimal.Decimal("1.5"), None], pa.decimal128(38, 18)), {}),
    "bool": (pa.array([True, None]), {}),
    "string": (pa.array(["a", None]), {}),
    "binary": (pa.array([b"a", None]), {}),
    "binary_as_string": (pa.array([b"a", None]), {"spark.sql.parquet.binaryAsString": "true"}),
    "date": (pa.array([datetime.date(2020, 1, 1), None]), {}),
    "timestamp_ms": (pa.array([1, None], pa.timestamp("ms")), {}),
    "timestamp_us_utc": (pa.array([1, None], pa.timestamp("us", tz="UTC")), {}),
    "timestamp_ns": (pa.array([1, None], pa.timestamp("ns")), {_NANOS: "true"}),
    "list": (pa.array([[1, 2], None], pa.list_(pa.int32())), {}),
    "struct": (pa.array([{"x": 1, "y": "a"}, None]), {}),
    "map": (pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())), {}),
    "zero_rows": (pa.array([], pa.int64()), {}),
}


@pytest.mark.parametrize("case", sorted(_ARROW))
def test_footer_schema_matches_inference(spark, tmp_path, case):
    col, confs = _ARROW[case]
    path = str(tmp_path / f"{case}.parquet")
    pq.write_table(pa.table({"c": col}), path)
    with _confs(spark, confs):
        [(schema, rows)] = ParquetFooters(spark).read([path])
        assert schema == spark.read.parquet(path).schema
        assert rows == len(col)


def test_footer_schema_required_column_reads_nullable(spark, tmp_path):
    """A REQUIRED parquet column reads as nullable, as inference gives."""
    path = str(tmp_path / "required.parquet")
    pq.write_table(
        pa.table({"a": [1, 2]}, schema=pa.schema([pa.field("a", pa.int64(), nullable=False)])),
        path,
    )
    [(schema, _)] = ParquetFooters(spark).read([path])
    assert schema == spark.read.parquet(path).schema


def test_footer_nanos_refused_like_inference(spark, tmp_path):
    """With nanosAsLong off, inference refuses a nanosecond timestamp,
    and so does the footer reader, with the same error class."""
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"c": pa.array([1], pa.timestamp("ns"))}), path)
    with _confs(spark, {_NANOS: "false"}):
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path)
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            ParquetFooters(spark).read([path])


def test_spark_written_folder_takes_row_metadata(spark, tmp_path):
    """A Spark-written folder carries Spark's row metadata in each
    footer (here a short, a timestamp and field metadata parquet alone
    cannot hold); its schema and data read back as by inference, and
    building the frame launches no job."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "spark_written")
    spark.range(3).select(
        F.col("id").cast("short").alias("s"),
        F.col("id").cast("timestamp").alias("ts"),
        F.col("id").cast("string").alias("k", metadata={"note": "x"}),
    ).write.parquet(path)
    frames = []
    assert _jobs_launched(spark, lambda: frames.append(ParquetFooters(spark).frame(path))) == 0
    inferred = spark.read.parquet(path)
    assert frames[0].schema == inferred.schema
    assert frames[0].schema["k"].metadata == {"note": "x"}
    assert sorted(frames[0].collect()) == sorted(inferred.collect())


def test_footer_files_fall_back_where_inference_adds_schema(spark, tmp_path):
    """A partitioned folder's partition columns, and a summary file's
    schema (which non-merging inference reads before any data file),
    come only from inference, so ``files`` refuses both layouts and
    ``frame`` infers."""
    partitioned = str(tmp_path / "partitioned")
    spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string").write.partitionBy(
        "p"
    ).parquet(partitioned)
    summarized = tmp_path / "summarized"
    summarized.mkdir()
    pq.write_table(pa.table({"v": [1]}), str(summarized / "part-0.parquet"))
    pq.write_metadata(
        pa.schema([("v", pa.int64()), ("w", pa.string())]), str(summarized / "_common_metadata")
    )
    footers = ParquetFooters(spark)
    for path in (partitioned, str(summarized)):
        assert footers.files(path) is None
        assert footers.frame(path).schema == spark.read.parquet(path).schema
    assert footers.frame(str(summarized)).columns == ["v", "w"]


def test_footer_schema_merges_under_merge_schema(spark, tmp_path):
    """With ``spark.sql.parquet.mergeSchema`` on, the folder schema is
    every file's merged in path order, as inference merges them; off,
    it is the first file's."""
    folder = tmp_path / "merge"
    folder.mkdir()
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), str(folder / "p0.parquet"))
    pq.write_table(pa.table({"c": [2.5], "a": [2]}), str(folder / "p1.parquet"))
    for merge in ("false", "true"):
        with _confs(spark, {"spark.sql.parquet.mergeSchema": merge}):
            footers = ParquetFooters(spark)
            schema = footers.schema(footers.read(footers.files(str(folder))))
            assert schema == spark.read.parquet(str(folder)).schema
            assert schema.names == (["a", "b", "c"] if merge == "true" else ["a", "b"])
