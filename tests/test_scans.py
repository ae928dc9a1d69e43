"""read_parquet_fanout contract: fan out single-row-group scans, skip
tiny inputs when the caller declares a min_rows floor, and never change
row contents either way."""
from __future__ import annotations

import pytest

from anserini_spark.util.scans import (_local_rows, read_parquet_fanout)


@pytest.fixture(scope="module")
def small_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("scans") / "t.parquet")
    (spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
     .coalesce(1).write.parquet(path))
    return path


def test_fanout_expands_single_partition_scan(spark, small_parquet):
    df = read_parquet_fanout(spark, small_parquet)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_min_rows_floor_skips_tiny_inputs(spark, small_parquet):
    df = read_parquet_fanout(spark, small_parquet, min_rows=16384)
    # 1000 rows < floor: plain scan, no repartition shuffle
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism


def test_min_rows_floor_met_still_fans_out(spark, small_parquet):
    df = read_parquet_fanout(spark, small_parquet, min_rows=1000)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_rows_identical_with_and_without_fanout(spark, small_parquet):
    plain = spark.read.parquet(small_parquet)
    fanned = read_parquet_fanout(spark, small_parquet)
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, fanned.collect()))


def test_local_rows_reads_footer(small_parquet):
    assert _local_rows(small_parquet) == 1000


def test_local_rows_unknown_without_parquet_children(tmp_path):
    # a directory with no *.parquet files is an unknown layout, not an
    # empty table: None keeps the caller on the fan-out path
    d = tmp_path / "no_parquet"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    assert _local_rows(str(d)) is None
