"""Partition drops by VALUE through the commit seam: a tag Spark escapes
on disk (``a:b`` is stored as ``tag=a%3Ab``) must drop exactly like a
plain tag in every hard-delete path — purge ack, retention (hot and
cold), GDPR erasure (hot, cold and rollup legs) and the rollup refresh
— on both the directory backend and the manifest-managed hot tier."""

from __future__ import annotations

import pytest

from redis_lsm_timeseries_spark.rollup import read_rollup, refresh_rollup
from redis_lsm_timeseries_spark.tiering import (
    apply_retention,
    cold_snapshots,
    delete_series,
    purge_ack_many,
    purge_scan,
)

ESCAPED, PLAIN = "a:b", "plain"
W = 10  # partition width
T0 = 1_000_000


@pytest.fixture(params=["directory", "manifest_hot"])
def store(spark, tmp_path, request):
    from redis_lsm_timeseries_spark.commit import (
        ManifestCommit,
        ParquetLeaseCommit,
    )
    from redis_lsm_timeseries_spark.config import EngineConfig
    from redis_lsm_timeseries_spark.store import TimeseriesStore

    manifest = request.param == "manifest_hot"
    cfg = EngineConfig(
        root=str(tmp_path / "e"), partition_width=W, manifest_hot=manifest
    )
    s = TimeseriesStore(
        spark, cfg,
        commit=ManifestCommit() if manifest else ParquetLeaseCommit(),
    )
    s.initialize()
    return s


def _tags(df) -> set:
    return {r.tag for r in df.select("tag").distinct().collect()}


def _evict_all(store) -> None:
    marks = purge_scan(
        store, partition_age_threshold_s=0.0, max_partitions_to_mark=10
    )
    assert all(purge_ack_many(store, [m.purge_id for m in marks]).values())


def test_ack_and_cold_retention_drop_escaped_partitions(store):
    store.write([(ESCAPED, 1, "x"), (PLAIN, 1, "y")], ingest_ts=T0)
    _evict_all(store)
    # both partitions fully evicted: neither may linger in hot
    assert store.hot().count() == 0
    assert _tags(cold_snapshots(store)) == {ESCAPED, PLAIN}
    apply_retention(store, older_than_ms=10 * W, drop_cold=True)
    assert cold_snapshots(store).count() == 0


def test_retention_drops_escaped_hot_partition(store):
    store.write(
        [(ESCAPED, 1, "x"), (PLAIN, 1, "y"), (PLAIN, 5 * W, "new")],
        ingest_ts=T0,
    )
    m = apply_retention(store, older_than_ms=2 * W)
    assert (m.partitions_dropped, m.rows_dropped) == (2, 2)
    assert {(r.tag, r.ts) for r in store.hot().collect()} == {
        (PLAIN, 5 * W)
    }


def test_delete_series_erases_escaped_tag_in_every_tier(store):
    store.write([(ESCAPED, 1, "x"), (PLAIN, 1, "y")], ingest_ts=T0)
    _evict_all(store)  # partition 0 of both tags -> cold
    store.write(
        [(ESCAPED, 2 * W, "x2"), (PLAIN, 2 * W, "y2")], ingest_ts=T0 + 1
    )
    refresh_rollup(store, "r", W)
    assert _tags(read_rollup(store, "r")) == {ESCAPED, PLAIN}

    m = delete_series(store, [ESCAPED])
    assert m.hot_partitions_dropped == 1
    assert m.cold_files_rewritten == 1
    assert m.rollups_swept == 1
    assert _tags(store.hot()) == {PLAIN}
    assert _tags(cold_snapshots(store)) == {PLAIN}
    assert _tags(read_rollup(store, "r")) == {PLAIN}
    # idempotent: a second erasure finds nothing
    assert delete_series(store, [ESCAPED]).hot_partitions_dropped == 0


def test_refresh_rollup_drops_fully_tombstoned_escaped_tag(store):
    store.write([(ESCAPED, 1, "1.0"), (PLAIN, 1, "2.0")], ingest_ts=T0)
    refresh_rollup(store, "r", W)
    store.write([(ESCAPED, 1, None)], ingest_ts=T0 + 1)
    refresh_rollup(store, "r", W)
    assert _tags(read_rollup(store, "r")) == {PLAIN}
