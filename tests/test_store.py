"""Core store tests: FIXTURES.md §1 (gap_serial), §2 (update_lww),
§4 (perf_shape round-trip), §5 (validation). Mirrors the reference's
test corpus (test/consumer-test.js) layer by layer."""

from __future__ import annotations

import pytest

from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.errors import (
    BatchTooLargeError,
    InvalidRangeError,
    KeyTooLongError,
    NotInitializedError,
    TooManyTagsError,
    ValidationError,
)
from redis_lsm_timeseries_spark.store import TimeseriesStore

GAP_SERIAL = [
    ("GapTag", 1, "One"),
    ("GapTag", 2, "Two"),
    ("GapTag", 10, "Ten"),
    ("GapTag", 20, "Twenty"),
    ("SerialTag", 1, "One"),
    ("SerialTag", 2, "Two"),
    ("SerialTag", 3, "Three"),
    ("SerialTag", 4, "Four"),
]


def _result_map(df):
    return {(r.tag, r.ts): r.value for r in df.collect()}


class TestGapSerialReads:
    """Range-read correctness over the curated gap/serial shapes
    (test/consumer-test.js:529-668)."""

    @pytest.fixture(autouse=True)
    def _write(self, store):
        store.write(GAP_SERIAL)
        self.store = store

    def test_full_cover(self):
        out = _result_map(
            self.store.read_range({"GapTag": (0, 50), "SerialTag": (0, 50)})
        )
        assert out == {(t, ts): v for t, ts, v in GAP_SERIAL}

    def test_outside_data(self):
        out = self.store.read_range({"GapTag": (50, 100), "SerialTag": (50, 50)})
        assert out.count() == 0

    def test_single_point(self):
        out = _result_map(
            self.store.read_range({"GapTag": (1, 1), "SerialTag": (4, 4)})
        )
        assert out == {("GapTag", 1): "One", ("SerialTag", 4): "Four"}

    def test_partial_overlap(self):
        out = _result_map(
            self.store.read_range({"GapTag": (0, 1), "SerialTag": (4, 10)})
        )
        assert out == {("GapTag", 1): "One", ("SerialTag", 4): "Four"}

    def test_strict_subset(self):
        out = _result_map(
            self.store.read_range({"GapTag": (2, 10), "SerialTag": (3, 4)})
        )
        assert out == {
            ("GapTag", 2): "Two",
            ("GapTag", 10): "Ten",
            ("SerialTag", 3): "Three",
            ("SerialTag", 4): "Four",
        }


class TestReadIndex:
    """Partition-pruning metadata: newest-first page order with
    ascending sort_weight (test/consumer-test.js:345-384); start floored,
    end not (SURVEY.md §2.2.1-2)."""

    def test_newest_first_weights(self, store):
        store.write(GAP_SERIAL)
        rows = store.read_index({"GapTag": (0, 50)}).collect()
        # W=5: GapTag partitions 0 (ts 1,2), 10, 20 → newest first.
        assert [(r.part_start, r.sort_weight) for r in rows] == [
            (20, 1),
            (10, 2),
            (0, 3),
        ]

    def test_start_floored_end_not(self, store):
        store.write(GAP_SERIAL)
        # start=2 floors to partition 0; end=10 includes partition 10
        # but not partition 20.
        rows = store.read_index({"GapTag": (2, 10)}).collect()
        assert sorted(r.part_start for r in rows) == [0, 10]


class TestReadPage:
    def test_page_scan_with_residual(self, store):
        store.write(GAP_SERIAL)
        out = store.read_page("GapTag-0", 2, 4).collect()
        assert [(r.ts, r.value) for r in out] == [(2, "Two")]

    def test_malformed_page_name(self, store):
        with pytest.raises(ValidationError):
            store.read_page("no-trailing-int-", 0, 1).collect()

    def test_page_name_too_long(self, store):
        with pytest.raises(KeyTooLongError):
            store.read_page("x" * 401, 0, 1)


class TestUpdateLww:
    """FIXTURES.md §2: intra-batch last-entry-wins
    (test/consumer-test.js:738-765) and cross-batch LWW by ingest_ts
    (SURVEY.md §2.2.4 refinement)."""

    def test_intra_batch_last_entry_wins(self, store):
        store.write(
            [
                ("GapTag", 1, "One"),
                ("GapTag", 1, "Two"),
                ("GapTag", 1, "Ten"),
                ("GapTag", 1, "Twenty"),
                ("SerialTag", 55, "One"),
                ("SerialTag", 55, "Two"),
                ("SerialTag", 56, "Three"),
                ("SerialTag", 55, "Four"),
            ]
        )
        out = _result_map(
            store.read_range({"GapTag": (0, 100), "SerialTag": (0, 100)})
        )
        assert out == {
            ("GapTag", 1): "Twenty",
            ("SerialTag", 55): "Four",
            ("SerialTag", 56): "Three",
        }

    def test_cross_batch_lww(self, store):
        store.write([("GapTag", 2, "Two")], ingest_ts=1000)
        store.write([("GapTag", 2, "NewTwo")], ingest_ts=2000)
        out = _result_map(store.read_range({"GapTag": (0, 100)}))
        assert out == {("GapTag", 2): "NewTwo"}
        # Storage retained both members (LSM append, recipe:19-20).
        assert store.hot().where("tag='GapTag' and ts=2").count() == 2

    def test_tombstone_delete(self, store):
        store.write([("GapTag", 1, "One")], ingest_ts=1000)
        store.write([("GapTag", 1, None)], ingest_ts=2000)
        assert store.read_range({"GapTag": (0, 10)}).count() == 0
        assert (
            store.read_range({"GapTag": (0, 10)}, with_tombstones=True).count() == 1
        )

    def test_read_all_matches_read_range_over_everything(self, store):
        store.write([("A", 1, "a1"), ("B", 2, "b1")], ingest_ts=1000)
        store.write([("B", 2, "b2"), ("C", 99, None)], ingest_ts=2000)
        out = _result_map(store.read_all())
        assert out == {("A", 1): "a1", ("B", 2): "b2"}
        # Tombstones follow read_range semantics.
        assert store.read_all(with_tombstones=True).count() == 3


class TestPerfShape:
    """FIXTURES.md §4: 10 tags x 200 consecutive samples, W=10."""

    def test_bulk_round_trip(self, spark, tmp_path):
        cfg = EngineConfig(root=str(tmp_path / "bulk"), partition_width=10)
        store = TimeseriesStore(spark, cfg)
        store.initialize()
        for t in range(10):
            batch = [(f"tag{t}", ts, str(ts)) for ts in range(200)]
            store.write(batch)
        ranges = {f"tag{t}": (0, 199) for t in range(10)}
        out = store.read_range(ranges)
        assert out.count() == 2000
        one = _result_map(out.where("tag = 'tag3'"))
        assert one == {("tag3", ts): str(ts) for ts in range(200)}


class TestValidation:
    """FIXTURES.md §5 error paths (test/consumer-test.js:41-103 etc.)."""

    def test_uninitialized(self, spark, tmp_path):
        cfg = EngineConfig(root=str(tmp_path / "uninit"))
        s = TimeseriesStore(spark, cfg)
        with pytest.raises(NotInitializedError):
            s.write([("a", 1, "x")])
        with pytest.raises(NotInitializedError):
            s.read_range({"a": (0, 1)})

    def test_empty_batch(self, store):
        with pytest.raises(ValidationError):
            store.write([])

    def test_wrong_type(self, store):
        with pytest.raises(ValidationError):
            store.write(42)

    def test_batch_cap(self, store):
        batch = [("t", i, "v") for i in range(2001)]
        with pytest.raises(BatchTooLargeError):
            store.write(batch)

    def test_tag_too_long(self, store):
        with pytest.raises(KeyTooLongError):
            store.write([("x" * 201, 1, "v")])

    def test_too_many_tags_read(self, store):
        store.write([("t", 1, "v")])
        ranges = {f"tag{i}": (0, 1) for i in range(101)}
        with pytest.raises(TooManyTagsError):
            store.read_range(ranges)

    def test_inverted_range(self, store):
        store.write([("t", 1, "v")])
        with pytest.raises(InvalidRangeError):
            store.read_range({"t": (10, 5)})

    def test_non_integer_bounds(self, store):
        store.write([("t", 1, "v")])
        with pytest.raises(InvalidRangeError):
            store.read_range({"t": (0.3, 5)})

    def test_non_integer_sort_key(self, store):
        with pytest.raises(InvalidRangeError):
            store.write([("t", 0.3, "v")])

    def test_missing_range_bound(self, store):
        store.write([("t", 1, "v")])
        with pytest.raises(InvalidRangeError):
            store.read_range({"t": {"start": 0}})


class TestPhysicalLayout:
    """The reference asserts raw ZSET layout after writes
    (test/consumer-test.js:105-343); the Parquet analog is the
    partition-directory structure."""

    def test_partition_directories(self, store):
        """Row-batch writes stage in L0 (one flat file per batch);
        flush_l0 folds them into the reference-shaped partition
        directories."""
        import os

        store.write(GAP_SERIAL)
        l0_files = [
            f for f in os.listdir(store.config.l0_path) if f.endswith(".parquet")
        ]
        assert len(l0_files) == 1  # one segment per write batch
        assert store.flush_l0()
        assert not os.path.exists(store.config.l0_path)

        hot = store.config.hot_path
        tags = sorted(d for d in os.listdir(hot) if d.startswith("tag="))
        assert tags == ["tag=GapTag", "tag=SerialTag"]
        gap_parts = sorted(
            d for d in os.listdir(f"{hot}/tag=GapTag") if d.startswith("part_start=")
        )
        assert gap_parts == ["part_start=0", "part_start=10", "part_start=20"]
        # The flush is read-transparent: same data before and after.
        assert {(r.tag, r.ts): r.value for r in store.hot().collect()} == {
            (t, ts): v for t, ts, v in GAP_SERIAL
        }

    def test_read_range_partition_prunes_the_scan(self, store):
        """The 100 TB property of the composed read: tag and part_start
        are DIRECTORY columns in L1, so a narrow range read must plan
        as PartitionFilters (directory pruning — untouched partitions
        are never listed, let alone scanned) plus a PushedFilters ts
        residual inside the surviving files. A filter that only runs
        post-scan would read the whole store per point query."""
        store.write(GAP_SERIAL)
        store.flush_l0()  # all rows in the partitioned L1 layout
        df = store.read_range({"GapTag": (10, 12)})
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        # Both partition columns constrain the directory listing...
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
        assert "tag" in pf and "part_start" in pf
        # ...and the residual ts range reaches the parquet reader.
        assert "PushedFilters" in plan
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
        assert "ts" in pushed
        assert _result_map(df) == {("GapTag", 10): "Ten"}

    def test_epoch_persistence(self, spark, tmp_path):
        cfg = EngineConfig(root=str(tmp_path / "ep"))
        s1 = TimeseriesStore(spark, cfg)
        e1 = s1.initialize()
        s2 = TimeseriesStore(spark, cfg)
        assert s2.initialize() == e1

    def test_corrupted_epoch_rejected(self, spark, tmp_path):
        import json
        import os

        cfg = EngineConfig(root=str(tmp_path / "bad"))
        os.makedirs(cfg.base_path, exist_ok=True)
        with open(cfg.meta_path, "w", encoding="utf-8") as fh:
            json.dump({"epoch": "garbage"}, fh)
        with pytest.raises(ValidationError):
            TimeseriesStore(spark, cfg).initialize()

    def test_unwritten_store_reads_empty(self, store):
        assert store.hot().count() == 0

    def test_hot_cache_invalidated_by_writes(self, store):
        """The cached hot handle must never serve stale reads: every
        write path (L0 row batch, L1 bulk, flush) invalidates it."""
        store.write([("t", 1, "a")], ingest_ts=100)
        assert {r.ts for r in store.hot().collect()} == {1}
        store.write([("t", 2, "b")], ingest_ts=200)  # L0 append
        assert {r.ts for r in store.hot().collect()} == {1, 2}
        store.flush_l0()
        assert {r.ts for r in store.hot().collect()} == {1, 2}
        base = store.spark.createDataFrame(
            [("t", 3, "c")], "tag string, ts long, value string"
        )
        store.write_df(base, ingest_ts=300)  # L1 bulk append
        assert {r.ts for r in store.hot().collect()} == {1, 2, 3}
        # External Spark writer into an EXISTING partition dir, no
        # invalidate call: the layout-mtime token must catch it (the
        # write job rewrites _SUCCESS at the table root).
        ext = store.spark.createDataFrame(
            [("t", 4, "d", 999, "x", 0, 0)],
            "tag string, ts long, value string, ingest_ts long,"
            " writer_id string, seq long, part_start long",
        )
        ext.write.mode("append").partitionBy("tag", "part_start").parquet(
            store.config.hot_path
        )
        assert {r.ts for r in store.hot().collect()} == {1, 2, 3, 4}
        # The L1 handle is cached apart from L0: a row-batch write
        # keeps it, and both an L0 write and an external L1 write
        # landing before the same read are each seen, through hot()
        # and through the range read.
        l1 = store._hot_cache["l1"]
        store.write([("t", 5, "e")], ingest_ts=500)
        assert {r.ts for r in store.hot().collect()} == {1, 2, 3, 4, 5}
        assert store._hot_cache["l1"] is l1
        ext.selectExpr(
            "tag", "6L AS ts", "'f' AS value", "ingest_ts", "writer_id",
            "seq", "part_start",
        ).write.mode("append").partitionBy("tag", "part_start").parquet(
            store.config.hot_path
        )
        store.write([("t", 7, "g")], ingest_ts=700)
        assert {
            r.ts for r in store.read_range({"t": (0, 100)}).collect()
        } == {1, 2, 3, 4, 5, 6, 7}
        assert {r.ts for r in store.hot().collect()} == {1, 2, 3, 4, 5, 6, 7}

    def test_corrupt_hot_store_raises(self, store):
        """A broken hot store must ERROR, not read as empty — an empty
        result from a corrupted table is silent data loss. Corrupts
        both tiers' files (L0 segment, then the flushed L1 file)."""
        import os

        store.write([("t", 1, "v")])
        [pq] = [
            f for f in os.listdir(store.config.l0_path) if f.endswith(".parquet")
        ]
        with open(f"{store.config.l0_path}/{pq}", "wb") as fh:
            fh.write(b"this is not parquet")
        store.invalidate_hot_cache()
        with pytest.raises(Exception):
            store.read_range({"t": (0, 10)}).collect()

    def test_corrupt_l1_raises(self, store):
        import os

        store.write([("t", 1, "v")])
        store.flush_l0()
        part_dir = f"{store.config.hot_path}/tag=t/part_start=0"
        [pq] = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        with open(f"{part_dir}/{pq}", "wb") as fh:
            fh.write(b"this is not parquet")
        store.invalidate_hot_cache()
        with pytest.raises(Exception):
            store.read_range({"t": (0, 10)}).collect()


class TestFileSchemeRoot:
    """file:// roots are normalized to bare local paths so Spark writes
    and the local-FS probes agree on one location (ADVICE r3: with the
    raw URI kept, Spark wrote to /data while os.path probed a literal
    './file:/data' — every table silently read as empty)."""

    def test_file_root_normalized_and_readable(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.config import EngineConfig
        from redis_lsm_timeseries_spark.store import TimeseriesStore

        cfg = EngineConfig(root=f"file://{tmp_path}/engine", partition_width=5)
        assert cfg.root == f"{tmp_path}/engine"
        s = TimeseriesStore(spark, cfg)
        s.initialize()
        s.write([("t", 1, "a")], ingest_ts=100)
        s.flush_l0()
        assert {(r.ts, r.value) for r in s.hot().collect()} == {(1, "a")}

    def test_file_root_relative_rejected(self):
        from redis_lsm_timeseries_spark.config import EngineConfig

        with pytest.raises(ValueError):
            EngineConfig(root="file://relative/path")

    def test_remote_scheme_rejected(self):
        from redis_lsm_timeseries_spark.config import EngineConfig

        with pytest.raises(ValueError):
            EngineConfig(root="s3://bucket/prefix")


class TestFlushRecovery:
    """flush_l0's staged two-phase fold: a crashed flush never loses
    rows and never re-appends committed segments (ADVICE r3: the old
    append-then-rmtree left a window where a re-flush duplicated the
    whole L0 tree into L1)."""

    def _staged_dirs(self, store):
        import os

        root = store.config.l0_staging_path
        if not os.path.exists(root):
            return []
        return sorted(os.listdir(root))

    def test_crash_before_append_rows_visible_then_recovered(self, store):
        import os

        store.write([("t", 1, "a"), ("t", 7, "b")], ingest_ts=100)
        # Simulate a flush that crashed right after the L0 -> staging
        # move (phase 1), before any L1 append.
        stage = f"{store.config.l0_staging_path}/crashed"
        os.makedirs(stage)
        for name in os.listdir(store.config.l0_path):
            os.rename(f"{store.config.l0_path}/{name}", f"{stage}/{name}")
        store.invalidate_hot_cache()
        # Rows live only in the uncommitted staging dir — still read.
        assert {r.ts for r in store.hot().collect()} == {1, 7}
        # Recovery folds them into L1 exactly once.
        assert store.flush_l0() is True
        assert self._staged_dirs(store) == []
        assert {r.ts for r in store.hot().collect()} == {1, 7}
        assert store.hot().count() == 2

    def test_committed_leftover_not_reappended(self, store):
        import os
        import shutil

        store.write([("t", 1, "a")], ingest_ts=100)
        store.flush_l0()
        assert store.hot().count() == 1
        # Simulate a crash AFTER the L1 append + marker write but
        # before cleanup: a committed staging dir whose segment holds a
        # row that is already in L1. Recovery must delete, not re-fold.
        stage = f"{store.config.l0_staging_path}/committed_leftover"
        os.makedirs(stage)
        part_dir = f"{store.config.hot_path}/tag=t/part_start=0"
        [pq] = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        shutil.copy(f"{part_dir}/{pq}", f"{stage}/{pq}")
        with open(f"{stage}/_COMMITTED", "w", encoding="utf-8"):
            pass
        store.invalidate_hot_cache()
        # Committed staging dirs are not part of the readable state.
        assert store.hot().count() == 1
        store.flush_l0()
        assert self._staged_dirs(store) == []
        assert store.hot().count() == 1

    def test_flush_keeps_concurrent_new_batches(self, store):
        """A write() landing between two flushes is never swallowed by
        recovery bookkeeping."""
        store.write([("t", 1, "a")], ingest_ts=100)
        store.flush_l0()
        store.write([("t", 2, "b")], ingest_ts=200)
        store.flush_l0()
        assert {r.ts for r in store.hot().collect()} == {1, 2}


class TestLayoutTokenGranularity:
    def test_same_mtime_external_l0_write_detected(self, spark, store):
        """An external writer landing within the same filesystem
        timestamp tick as the cached token must still invalidate the
        hot-handle cache: the token folds a directory-listing hash, not
        just the mtime (ADVICE r3)."""
        import os

        from redis_lsm_timeseries_spark.store import TimeseriesStore

        store.write([("t", 1, "a")], ingest_ts=100)
        assert {r.ts for r in store.hot().collect()} == {1}
        st = os.stat(store.config.l0_path)
        # Second store instance = external writer; it invalidates its
        # own cache, not the first store's.
        other = TimeseriesStore(spark, store.config)
        other.initialize()
        other.write([("t", 2, "b")], ingest_ts=200)
        # Force the L0 dir mtime back onto the cached token's tick, so
        # only the listing hash can reveal the new segment.
        os.utime(store.config.l0_path, ns=(st.st_atime_ns, st.st_mtime_ns))
        assert {r.ts for r in store.hot().collect()} == {1, 2}

    def test_row_batch_write_moves_only_the_l0_token(self, store):
        store.write([("t", 1, "a")], ingest_ts=100)
        store.flush_l0()
        l1, l0 = store._layout_token("l1"), store._layout_token("l0")
        store.write([("t", 2, "b")], ingest_ts=200)
        assert store._layout_token("l1") == l1
        assert store._layout_token("l0") != l0
        store.flush_l0()
        assert store._layout_token("l1") != l1

    def test_same_mtime_external_l1_partition_detected(self, spark, store):
        """A new L1 partition dir from another writer is caught by the
        hot root's listing hash even when its mtime is forced back
        onto the cached token's tick."""
        import os

        from redis_lsm_timeseries_spark.store import TimeseriesStore

        store.write([("t", 1, "a")], ingest_ts=100)
        store.flush_l0()
        assert {r.tag for r in store.hot().collect()} == {"t"}
        st = os.stat(store.config.hot_path)
        other = TimeseriesStore(spark, store.config)
        other.initialize()
        other.write_df(
            spark.createDataFrame(
                [("u", 1, "b")], "tag string, ts long, value string"
            ),
            ingest_ts=200,
        )
        os.utime(store.config.hot_path, ns=(st.st_atime_ns, st.st_mtime_ns))
        assert {r.tag for r in store.hot().collect()} == {"t", "u"}

    def test_crashed_write_leftover_never_read_or_folded(self, store):
        """A write that died before its publishing rename leaves only a
        hidden in-flight file: no read returns its rows, and flush_l0
        neither folds nor removes it."""
        import os
        import shutil

        store.write([("t", 1, "a")], ingest_ts=100)
        [seg] = os.listdir(store.config.l0_path)
        leftover = f"{store.config.l0_path}/.part-crashed.snappy.parquet.inflight"
        shutil.copy(f"{store.config.l0_path}/{seg}", leftover)
        os.remove(f"{store.config.l0_path}/{seg}")
        assert store.hot().count() == 0
        assert store.read_range({"t": (0, 10)}).count() == 0
        assert store.flush_l0() is False  # nothing published to fold
        store.write([("t", 2, "b")], ingest_ts=200)
        assert store.flush_l0() is True
        assert os.listdir(store.config.l0_path) == [os.path.basename(leftover)]
        assert {r.ts for r in store.read_all().collect()} == {2}
        assert {r.ts for r in store.hot().collect()} == {2}

    def test_write_into_unwritable_l0_raises(self, store):
        """The driver-side segment write has no fallback: a failure
        propagates and nothing becomes readable."""
        import os
        import shutil

        store.write([("t", 1, "a")], ingest_ts=100)
        shutil.rmtree(store.config.l0_path)
        # a plain file where the L0 dir belongs: unwritable for any user
        with open(store.config.l0_path, "w", encoding="utf-8") as fh:
            fh.write("not a directory")
        with pytest.raises(OSError):
            store.write([("t", 2, "b")], ingest_ts=200)
        os.remove(store.config.l0_path)
        assert store.hot().count() == 0


class TestManifestHotPrunedReads:
    """r13: with the manifest-managed hot tier, range reads plan over
    only the committed files whose (tag, part_start, ts) stats overlap
    the request — file skipping from the log, before Catalyst's
    directory pruning even lists anything."""

    def _store(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.commit import ManifestCommit

        cfg = EngineConfig(
            root=str(tmp_path / "mh"), partition_width=10,
            manifest_hot=True,
        )
        s = TimeseriesStore(spark, cfg, commit=ManifestCommit())
        s.initialize()
        # four partitions across two tags, one flush per batch so
        # every partition is its own committed file set
        for tag, base in (("A", 0), ("A", 100), ("B", 0), ("B", 100)):
            s.write(
                [(tag, base + i, f"{tag}{base + i}") for i in range(3)],
                ingest_ts=1_000 + base,
            )
            s.flush_l0()
        return s

    def test_range_read_plans_over_overlapping_files_only(
        self, spark, tmp_path
    ):
        s = self._store(spark, tmp_path)
        df = s.read_range({"A": (0, 5)})
        files = [f for f in df.inputFiles() if "/hot/" in f]
        all_files = [f for f in s.hot().inputFiles() if "/hot/" in f]
        assert len(all_files) >= 4
        assert files and len(files) < len(all_files)
        assert all("tag=A" in f for f in files)
        assert all("part_start=0" in f for f in files)
        # and values are exactly the requested band
        assert sorted((r.tag, r.ts) for r in df.collect()) == [
            ("A", 0), ("A", 1), ("A", 2),
        ]

    def test_unflushed_l0_rows_still_visible_through_pruned_read(
        self, spark, tmp_path
    ):
        s = self._store(spark, tmp_path)
        s.write([("A", 3, "fresh")], ingest_ts=9_999)  # L0 only
        got = {
            (r.tag, r.ts): r.value
            for r in s.read_range({"A": (0, 5)}).collect()
        }
        assert got[("A", 3)] == "fresh"

    def test_read_page_and_index_prune(self, spark, tmp_path):
        s = self._store(spark, tmp_path)
        page = s.read_page("A-100", 100, 105)
        files = [f for f in page.inputFiles() if "/hot/" in f]
        assert files and all(
            "tag=A" in f and "part_start=100" in f for f in files
        )
        idx = s.read_index({"B": (0, 5)})
        assert [(r.tag, r.part_start) for r in idx.collect()] == [
            ("B", 0),
        ]

    def test_manifest_hot_requires_capable_backend(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.errors import ValidationError

        cfg = EngineConfig(
            root=str(tmp_path / "bad"), manifest_hot=True
        )
        with pytest.raises(ValidationError, match="manifest_hot"):
            TimeseriesStore(spark, cfg)  # default directory backend
