"""Differential: an L0 segment written on the driver by ``write()``
against the same rows written as a Spark segment (the engine's former
L0 writer: ``createDataFrame(...).coalesce(1).write.parquet``).

Both stores then go through every read path — ``hot()``,
``read_range`` with and without tombstones and cold, ``read_all`` —
before and after ``flush_l0`` folds the segments into L1 and a purge
snapshots them to the cold tier. Rows and last-write-wins winners
must be identical, and must match the model of the batches."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.schema import SAMPLE_SCHEMA
from redis_lsm_timeseries_spark.store import TimeseriesStore
from redis_lsm_timeseries_spark.tiering import purge_scan

# (batch, ingest_ts): intra-batch duplicates (last entry wins), a
# tombstone over an older value, a tombstone later overwritten, and the
# hive-escaped tag ``a:b`` next to the plain tag ``a``.
BATCHES = [
    (
        [("a", 3, "a3"), ("a:b", 1, "x1"), ("a", 1, "first"),
         ("a", 1, "dup-last"), ("a:b", 7, "x7"), ("b", 12, "b12"),
         ("a", 8, "a8")],
        100,
    ),
    ([("a", 3, None), ("a:b", 1, "x1-new"), ("b", 12, None)], 200),
    ([("b", 12, "b12-back"), ("a:b", 7, None), ("a:b", 7, "x7-dup")], 300),
]
READS = [
    {"a:b": (0, 20)},
    {"a": (0, 20), "a:b": (0, 20), "b": (0, 20)},
    {"a": (1, 3), "b": (10, 12)},
]
EXPECTED = {
    ("a", 1): "dup-last", ("a", 3): None, ("a", 8): "a8",
    ("a:b", 1): "x1-new", ("a:b", 7): "x7-dup", ("b", 12): "b12-back",
}


def _store(spark, root):
    s = TimeseriesStore(
        spark, EngineConfig(root=str(root), partition_width=5)
    )
    s.initialize()
    s.writer_id = "w0"  # identical member identities in both stores
    return s


def _write_both(driver, spark_written, rows, ingest_ts):
    """``write()`` on the driver store; the segment's rows (collapsed
    and sorted) written by Spark into the other store's L0."""
    l0 = driver.config.l0_path
    before = set(os.listdir(l0)) if os.path.exists(l0) else set()
    driver.write(rows, ingest_ts=ingest_ts)
    [seg] = set(os.listdir(l0)) - before
    table = pq.read_table(f"{l0}/{seg}")
    collapsed = list(zip(
        *(table.column(f.name).to_pylist() for f in SAMPLE_SCHEMA.fields)
    ))
    assert collapsed == sorted(collapsed)
    spark = spark_written.spark
    spark.createDataFrame(collapsed, SAMPLE_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(spark_written.config.l0_path)


@pytest.fixture()
def pair(spark, tmp_path):
    driver = _store(spark, tmp_path / "driver")
    spark_written = _store(spark, tmp_path / "spark")
    for rows, ingest_ts in BATCHES:
        _write_both(driver, spark_written, rows, ingest_ts)
    return driver, spark_written


def _rows(df):
    # (tag, ts) leads and is unique per winner; full members (hot())
    # may tie on it and then compare a None value
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda r: [(x is None, "" if x is None else x) for x in r],
    )


def _assert_same_reads(driver, spark_written, expected, include_cold=False):
    assert _rows(driver.hot()) == _rows(spark_written.hot())
    for ranges in READS:
        for tombstones in (False, True):
            got = _rows(driver.read_range(
                ranges, include_cold=include_cold,
                with_tombstones=tombstones,
            ))
            assert got == _rows(spark_written.read_range(
                ranges, include_cold=include_cold,
                with_tombstones=tombstones,
            ))
            want = sorted(
                (t, ts, v) for (t, ts), v in expected.items()
                if t in ranges and ranges[t][0] <= ts <= ranges[t][1]
                and (tombstones or v is not None)
            )
            assert got == want, ranges
    assert _rows(driver.read_all(
        include_cold=include_cold, with_tombstones=True
    )) == _rows(spark_written.read_all(
        include_cold=include_cold, with_tombstones=True
    ))


def test_driver_and_spark_segments_read_identically(pair):
    driver, spark_written = pair
    assert len(_rows(driver.hot())) == 11  # every member, pre-LWW
    _assert_same_reads(driver, spark_written, EXPECTED)

    for s in pair:
        assert s.flush_l0() is True
        assert not os.path.exists(s.config.l0_path)
    _assert_same_reads(driver, spark_written, EXPECTED)
    part_dirs = sorted(os.listdir(driver.config.hot_path))
    assert "tag=a%3Ab" in part_dirs and "tag=a" in part_dirs
    assert part_dirs == sorted(os.listdir(spark_written.config.hot_path))

    # cold tier: snapshot every partition, then one more L0 batch, so
    # the include_cold reads merge L0, L1 and cold copies
    for s in pair:
        marks = purge_scan(
            s, partition_age_threshold_s=0, max_partitions_to_mark=100,
            now_ms=10**13,
        )
        assert marks
        assert s.cold().count() == 11
    _write_both(driver, spark_written, [("a", 8, "a8-new")], 400)
    _assert_same_reads(
        driver, spark_written, {**EXPECTED, ("a", 8): "a8-new"},
        include_cold=True,
    )
