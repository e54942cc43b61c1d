"""ManifestCommit protocol tests: the transactional TableCommit
backend (VERDICT r8 #2) — put-if-absent versioned log, exact-file
manifests, snapshot isolation, atomic multi-member appends, vacuum.

The behavioral parity layer (same tiering/rollup semantics as the
Parquet backend) lives in test_tiering.py / test_rollup.py via the
parameterized store fixture; this file tests what is NEW: the commit
protocol's crash and concurrency properties.
"""

from __future__ import annotations

import json
import os

import pytest

from redis_lsm_timeseries_spark.commit import (
    LOG_DIR,
    ManifestCommit,
    ParquetLeaseCommit,
)
from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.errors import ConcurrentMaintenanceError
from redis_lsm_timeseries_spark.store import TimeseriesStore

SCHEMA = "k string, v long"


@pytest.fixture()
def mstore(spark, tmp_path):
    cfg = EngineConfig(root=str(tmp_path / "engine"), partition_width=5)
    s = TimeseriesStore(spark, cfg, commit=ManifestCommit())
    s.initialize()
    return s


def _table(mstore, name="t"):
    return f"{mstore.config.base_path}/{name}"


def _read(mstore, path):
    return {
        (r.k, r.v)
        for r in mstore.commit.read_table(mstore, path, SCHEMA).collect()
    }


class TestCommitLog:
    def test_append_creates_versioned_log(self, mstore):
        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        assert _read(mstore, path) == {("a", 1), ("b", 2)}
        logs = sorted(os.listdir(f"{path}/{LOG_DIR}"))
        assert [int(f[:-5]) for f in logs] == [0, 1]
        # each entry records only its DELTA (round 12): the second
        # append adds one file; the reconstructed snapshot lists both
        entry = json.loads(open(f"{path}/{LOG_DIR}/{logs[-1]}").read())
        assert "tables" not in entry
        assert len(entry["delta"]["add"][""]) == 1
        _, snap = c._current_entry(mstore, path)
        assert len(snap["tables"][""]) == 2

    def test_lost_race_retries_on_fresh_state(self, mstore):
        """A competing commit landing first must not be clobbered: the
        loser re-reads and re-derives its change on top (optimistic
        concurrency, the Delta conflict-detection idiom)."""
        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        real = c._current_entry

        def racing_current(store, root):
            version, entry = real(store, root)
            if not racing_current.done:
                racing_current.done = True
                # another writer commits version+1 under our feet
                store.fs.create_exclusive(
                    f"{root}/{LOG_DIR}/{version + 1:020d}.json",
                    json.dumps(
                        {
                            "version": version + 1,
                            "tables": entry.get("tables", {}),
                        }
                    ),
                )
            return version, entry

        racing_current.done = False
        c._current_entry = racing_current
        try:
            c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        finally:
            c._current_entry = real
        assert _read(mstore, path) == {("a", 1), ("b", 2)}
        assert max(
            int(f[:-5]) for f in os.listdir(f"{path}/{LOG_DIR}")
        ) == 2  # landed at version 2, past the interloper

    def test_exhausted_races_raise(self, mstore):
        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        real = mstore.fs.create_exclusive
        mstore.fs.create_exclusive = lambda p, t: (
            False if LOG_DIR in p else real(p, t)
        )
        try:
            with pytest.raises(ConcurrentMaintenanceError):
                c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        finally:
            mstore.fs.create_exclusive = real


class TestCrashWindows:
    def test_staged_but_uncommitted_write_is_invisible(self, mstore):
        """Crash between the stage write and the log entry: readers see
        the previous snapshot, and vacuum collects the orphans."""
        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        real = c._commit

        def crash(store, root, mutate):
            raise RuntimeError("crashed before the log entry")

        c._commit = crash
        try:
            with pytest.raises(RuntimeError):
                c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        finally:
            c._commit = real
        assert _read(mstore, path) == {("a", 1)}
        removed = c.vacuum(mstore, path, grace_s=0)
        assert removed >= 1  # the orphaned staged file
        assert _read(mstore, path) == {("a", 1)}

    def test_vacuum_grace_protects_inflight_leaseless_commit(
        self, mstore
    ):
        """r10: a leaseless committer (the streaming admission sink)
        has moved its staged files into data/ but not yet landed its
        log entry — a concurrent vacuum must NOT collect those young
        unreferenced files (they are a commit in flight, not orphans).
        With the default grace they survive; grace_s=0 (the
        no-concurrent-writer maintenance call) collects them."""
        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        real = c._commit

        def crash(store, root, mutate):
            raise RuntimeError("killed between move and log entry")

        c._commit = crash
        try:
            with pytest.raises(RuntimeError):
                c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        finally:
            c._commit = real

        def n_physical():
            return sum(
                1
                for _r, _d, files in os.walk(f"{path}/data")
                for f in files
                if f.endswith(".parquet")
            )

        before = n_physical()
        assert before == 2  # committed + in-flight
        assert c.vacuum(mstore, path) == 0  # default grace: untouched
        assert n_physical() == before
        assert c.vacuum(mstore, path, grace_s=0) >= 1
        assert n_physical() == 1
        assert _read(mstore, path) == {("a", 1)}

    def test_repair_is_a_noop_on_manifest_tables(self, mstore):
        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        c.repair_interrupted_rewrite(mstore, path)
        assert _read(mstore, path) == {("a", 1)}


class TestSnapshotIsolation:
    def test_resolved_reader_pins_its_file_list(self, mstore):
        """A DataFrame resolved before a commit scans exactly the files
        of ITS snapshot; a re-resolve sees the new one."""
        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        pinned = mstore.commit.read_table(mstore, path, SCHEMA)
        c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        assert {(r.k, r.v) for r in pinned.collect()} == {("a", 1)}
        assert _read(mstore, path) == {("a", 1), ("b", 2)}

    def test_snapshot_rewrite_compacts_to_one_file(self, mstore):
        c, path = mstore.commit, _table(mstore)
        for i in range(5):
            c.append_rows(mstore, [(f"k{i}", i)], SCHEMA, path)
        assert c.table_file_count(mstore, path) == 5
        before = _read(mstore, path)

        def write_snapshot(tmp):
            c.read_table(mstore, path, SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)

        c.snapshot_rewrite(mstore, path, write_snapshot)
        assert c.table_file_count(mstore, path) == 1
        assert _read(mstore, path) == before

        def n_physical():
            return sum(
                1
                for _r, _d, files in os.walk(f"{path}/data")
                for f in files
                if f.endswith(".parquet")
            )

        # default vacuum RETAINS the pre-rewrite files (they back the
        # retained historical snapshots an in-flight reader may hold /
        # time travel targets); aggressive retain_versions=1 reclaims
        # down to the live snapshot only
        assert n_physical() == 6
        c.vacuum(mstore, path, retain_versions=1, grace_s=0)
        assert n_physical() == 1
        assert _read(mstore, path) == before


class TestPartitionOps:
    def _overwrite(self, mstore, path, rows):
        df = mstore.spark.createDataFrame(rows, "p string, v long")
        mstore.commit.overwrite_partitions(mstore, df, path, ["p"])

    def _vals(self, mstore, path):
        return {
            (r.p, r.v)
            for r in mstore.commit.read_table(
                mstore, path, "p string, v long"
            ).collect()
        }

    def test_overwrite_replaces_only_present_partitions(self, mstore):
        path = _table(mstore, "part")
        self._overwrite(mstore, path, [("x", 1), ("y", 2)])
        self._overwrite(mstore, path, [("y", 20)])
        assert self._vals(mstore, path) == {("x", 1), ("y", 20)}

    def test_drop_partition_is_a_manifest_edit(self, mstore):
        path = _table(mstore, "part")
        self._overwrite(mstore, path, [("x", 1), ("y", 2)])
        mstore.commit.overwrite_partitions(
            mstore, None, path, ["p"], drop=[("x",)]
        )
        assert self._vals(mstore, path) == {("y", 2)}
        # physical file still on disk until an aggressive vacuum
        # (immutable data; default retention keeps it for readers of
        # the pre-drop snapshot), then collected
        assert mstore.commit.vacuum(mstore, path, retain_versions=1, grace_s=0) >= 1
        assert self._vals(mstore, path) == {("y", 2)}

    def test_preexisting_plain_directory_stays_directory_mode(
        self, mstore
    ):
        """The hot LSM tier's files are committed by the ingest path,
        not the seam — wrapping a manifest around them would lie about
        what is committed. A pre-existing plain dir keeps inherited
        directory semantics and grows no _log."""
        path = _table(mstore, "plain")
        df = mstore.spark.createDataFrame([("x", 1)], "p string, v long")
        df.write.partitionBy("p").parquet(path)  # outside the seam
        self._overwrite(mstore, path, [("x", 10)])
        assert not os.path.exists(f"{path}/{LOG_DIR}")
        assert self._vals(mstore, path) == {("x", 10)}


class TestAtomicMultiTableAppend:
    def test_all_members_visible_together(self, mstore):
        root = _table(mstore, "group")
        c = mstore.commit
        mk = lambda rows: mstore.spark.createDataFrame(rows, SCHEMA)
        c.append_tables(
            mstore, root, {"out": mk([("o", 1)]), "idx": mk([("i", 1)])}
        )
        assert _read(mstore, f"{root}/out") == {("o", 1)}
        assert _read(mstore, f"{root}/idx") == {("i", 1)}
        # ONE log entry covers both members
        assert len(os.listdir(f"{root}/{LOG_DIR}")) == 1

    def test_crash_mid_stage_commits_nothing(self, mstore):
        """The exactly-once property the streaming admission needs: a
        crash after SOME members staged leaves every member unchanged
        — no output-without-index window."""
        root = _table(mstore, "group")
        c = mstore.commit
        mk = lambda rows: mstore.spark.createDataFrame(rows, SCHEMA)
        c.append_tables(mstore, root, {"out": mk([("o", 1)])})
        real = c._stage_in
        calls = {"n": 0}

        def crashy(store, r, member, fn):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("crash after first member staged")
            return real(store, r, member, fn)

        c._stage_in = crashy
        try:
            with pytest.raises(RuntimeError):
                c.append_tables(
                    mstore,
                    root,
                    {"out": mk([("o", 2)]), "idx": mk([("i", 2)])},
                )
        finally:
            c._stage_in = real
        assert _read(mstore, f"{root}/out") == {("o", 1)}
        assert _read(mstore, f"{root}/idx") == set()
        c.vacuum(mstore, root, grace_s=0)
        assert _read(mstore, f"{root}/out") == {("o", 1)}

    def test_parquet_backend_append_tables_is_ordered(
        self, spark, tmp_path
    ):
        """Directory backend degrades to ordered appends (documented
        non-atomicity) — members land in iteration order."""
        cfg = EngineConfig(root=str(tmp_path / "e2"), partition_width=5)
        s = TimeseriesStore(spark, cfg, commit=ParquetLeaseCommit())
        s.initialize()
        root = f"{s.config.base_path}/group"
        mk = lambda rows: spark.createDataFrame(rows, SCHEMA)
        s.commit.append_tables(
            s, root, {"a": mk([("x", 1)]), "b": mk([("y", 2)])}
        )
        assert {
            (r.k, r.v)
            for r in s.commit.read_table(s, f"{root}/a", SCHEMA).collect()
        } == {("x", 1)}
        assert {
            (r.k, r.v)
            for r in s.commit.read_table(s, f"{root}/b", SCHEMA).collect()
        } == {("y", 2)}


class TestLogPruning:
    def test_vacuum_prunes_old_log_entries(self, mstore):
        """Every entry is a complete snapshot, so vacuum keeps only
        the newest KEEP_LOG_ENTRIES — the log cannot grow without
        bound between compactions — and the table still reads in
        full from the surviving max entry."""
        c, path = mstore.commit, _table(mstore)
        for i in range(15):
            c.append_rows(mstore, [(f"k{i}", i)], SCHEMA, path)
        logs = [f for f in os.listdir(f"{path}/{LOG_DIR}")
                if f.endswith(".json") and f[:-5].isdigit()]
        assert len(logs) == 15
        c.vacuum(mstore, path)
        logs = sorted(f for f in os.listdir(f"{path}/{LOG_DIR}")
                      if f.endswith(".json") and f[:-5].isdigit())
        assert len(logs) == c.KEEP_LOG_ENTRIES
        assert int(logs[-1][:-5]) == 14  # newest survives
        assert _read(mstore, path) == {(f"k{i}", i) for i in range(15)}
        # further commits continue from the surviving max version
        c.append_rows(mstore, [("k15", 15)], SCHEMA, path)
        assert len(_read(mstore, path)) == 16


class TestConcurrentWriters:
    def test_two_threads_append_without_loss(self, mstore):
        """Two writers racing real appends against one manifest table:
        the put-if-absent protocol serializes them — every append
        survives, versions are contiguous, no commit is clobbered."""
        import threading

        c, path = mstore.commit, _table(mstore, "race")
        c.append_rows(mstore, [("seed", -1)], SCHEMA, path)
        errors = []

        def writer(tag, n):
            try:
                for i in range(n):
                    c.append_rows(
                        mstore, [(f"{tag}{i}", i)], SCHEMA, path
                    )
            except Exception as exc:  # surfaced after join
                errors.append(exc)

        threads = [
            threading.Thread(target=writer, args=("a", 6)),
            threading.Thread(target=writer, args=("b", 6)),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        got = _read(mstore, path)
        want = {("seed", -1)} | {
            (f"{t}{i}", i) for t in "ab" for i in range(6)
        }
        assert got == want
        versions = sorted(
            int(f[:-5]) for f in os.listdir(f"{path}/{LOG_DIR}")
            if f.endswith(".json") and f[:-5].isdigit()
        )
        assert versions == list(range(13))  # 1 seed + 12 racing commits


class TestVacuumSafety:
    def test_unreadable_retained_entry_aborts_instead_of_deleting(
        self, mstore
    ):
        """r10 review: vacuum must never treat a retained entry's read
        failure as 'no files live' — skipping the newest entry would
        delete the live table. It aborts with the typed error and
        removes nothing."""
        c, path = mstore.commit, _table(mstore)
        for i in range(3):
            c.append_rows(mstore, [(f"k{i}", i)], SCHEMA, path)
        logs = sorted(
            f for f in os.listdir(f"{path}/{LOG_DIR}") if f.endswith(".json")
        )
        newest = f"{path}/{LOG_DIR}/{logs[-1]}"
        with open(newest, "w") as fh:
            fh.write("{corrupt json")

        def n_physical():
            return sum(
                1
                for _r, _d, files in os.walk(f"{path}/data")
                for f in files
                if f.endswith(".parquet")
            )

        before = n_physical()
        with pytest.raises(ConcurrentMaintenanceError, match="unreadable"):
            c.vacuum(mstore, path, retain_versions=1, grace_s=0)
        assert n_physical() == before  # nothing deleted

    def test_time_travel_read_race_raises_typed_error(self, mstore):
        """An entry pruned (or corrupted) between the exists probe and
        the read surfaces as VersionNotFoundError, never a raw
        FileNotFoundError/JSONDecodeError."""
        from redis_lsm_timeseries_spark.errors import VersionNotFoundError

        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        with open(f"{path}/{LOG_DIR}/{0:020d}.json", "w") as fh:
            fh.write("{not json")
        with pytest.raises(VersionNotFoundError):
            c.read_table(mstore, path, SCHEMA, version=0)


class TestTimeTravel:
    def test_each_retained_version_reads_exactly(self, mstore):
        """Three commits -> three snapshots; version=N resolves log
        entry N verbatim (the Delta/Iceberg feature the retained log
        already stores)."""
        from redis_lsm_timeseries_spark.commit import ManifestCommit

        c, path = mstore.commit, _table(mstore, "tt")
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        c.append_rows(mstore, [("c", 3)], SCHEMA, path)
        want = [
            {("a", 1)},
            {("a", 1), ("b", 2)},
            {("a", 1), ("b", 2), ("c", 3)},
        ]
        assert c.table_versions(mstore, path) == [0, 1, 2]
        for v, exp in enumerate(want):
            got = {
                (r.k, r.v)
                for r in c.read_table(
                    mstore, path, SCHEMA, version=v
                ).collect()
            }
            assert got == exp, v
        # current read unchanged
        assert _read(mstore, path) == want[-1]
        assert isinstance(c, ManifestCommit)

    def test_unknown_and_pruned_versions_raise_named_error(self, mstore):
        from redis_lsm_timeseries_spark.errors import VersionNotFoundError

        c, path = mstore.commit, _table(mstore, "tt")
        for i in range(3):
            c.append_rows(mstore, [(f"k{i}", i)], SCHEMA, path)
        with pytest.raises(VersionNotFoundError, match="version 99"):
            c.read_table(mstore, path, SCHEMA, version=99)
        # aggressive vacuum prunes versions 0-1 past the horizon
        c.vacuum(mstore, path, retain_versions=1, grace_s=0)
        with pytest.raises(VersionNotFoundError, match="version 0"):
            c.read_table(mstore, path, SCHEMA, version=0)
        assert c.table_versions(mstore, path) == [2]
        assert len(_read(mstore, path)) == 3

    def test_directory_backend_has_no_history(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.errors import VersionNotFoundError

        cfg = EngineConfig(root=str(tmp_path / "e3"), partition_width=5)
        s = TimeseriesStore(spark, cfg, commit=ParquetLeaseCommit())
        s.initialize()
        path = f"{s.config.base_path}/t"
        s.commit.append_rows(s, [("a", 1)], SCHEMA, path)
        with pytest.raises(VersionNotFoundError, match="no version"):
            s.commit.read_table(s, path, SCHEMA, version=0)

    def test_retained_snapshot_files_survive_default_vacuum(self, mstore):
        """Snapshot isolation with a margin: a DataFrame resolved
        against the pre-rewrite snapshot still collects AFTER a
        snapshot_rewrite + default vacuum, because vacuum keeps the
        files of every retained log entry — the exposure window the
        immediate-delete policy had is closed."""
        c, path = mstore.commit, _table(mstore, "iso")
        for i in range(4):
            c.append_rows(mstore, [(f"k{i}", i)], SCHEMA, path)
        pinned = c.read_table(mstore, path, SCHEMA)

        def write_snapshot(tmp):
            c.read_table(mstore, path, SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)

        c.snapshot_rewrite(mstore, path, write_snapshot)  # vacuums
        got = {(r.k, r.v) for r in pinned.collect()}
        assert got == {(f"k{i}", i) for i in range(4)}


class TestRewriteConflictDetection:
    def test_concurrent_append_fails_the_rewrite_not_the_append(
        self, mstore
    ):
        """ADVICE r9: a leaseless append (the streaming admission sink)
        landing between the rewrite's snapshot read and its commit must
        NOT be silently replaced out of the manifest and vacuumed —
        the rewrite detects the conflict and raises; the appended rows
        survive."""
        c, path = mstore.commit, _table(mstore, "conf")
        for i in range(3):
            c.append_rows(mstore, [(f"k{i}", i)], SCHEMA, path)

        def write_snapshot(tmp):
            # a concurrent append lands while the snapshot is staged
            c.append_rows(mstore, [("late", 99)], SCHEMA, path)
            mstore.spark.createDataFrame(
                [(f"k{i}", i) for i in range(3)], SCHEMA
            ).coalesce(1).write.mode("overwrite").parquet(tmp)

        with pytest.raises(ConcurrentMaintenanceError, match="conflict"):
            c.snapshot_rewrite(mstore, path, write_snapshot)
        assert _read(mstore, path) == {
            ("k0", 0), ("k1", 1), ("k2", 2), ("late", 99)
        }
        # the retried rewrite on fresh state succeeds
        def write_snapshot2(tmp):
            c.read_table(mstore, path, SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)

        c.snapshot_rewrite(mstore, path, write_snapshot2)
        assert c.table_file_count(mstore, path) == 1
        assert _read(mstore, path) == {
            ("k0", 0), ("k1", 1), ("k2", 2), ("late", 99)
        }

    def test_append_to_other_member_does_not_conflict(self, mstore):
        """The conflict rule is per-member: rewriting member 'a' while
        'b' gains files commits cleanly and keeps b's files."""
        root = _table(mstore, "multi")
        c = mstore.commit
        mk = lambda rows: mstore.spark.createDataFrame(rows, SCHEMA)
        c.append_tables(mstore, root, {"a": mk([("a0", 0)])})

        def write_snapshot(tmp):
            c.append_tables(mstore, root, {"b": mk([("b0", 0)])})
            mk([("a0", 0)]).coalesce(1).write.mode("overwrite").parquet(tmp)

        c.snapshot_rewrite(mstore, f"{root}/a", write_snapshot)
        assert _read(mstore, f"{root}/a") == {("a0", 0)}
        assert _read(mstore, f"{root}/b") == {("b0", 0)}


class TestWriteTargetEdges:
    def test_preexisting_empty_dir_becomes_manifest_table(self, mstore):
        """An mkdir side effect (empty dir) is not a data table — a
        first write through the seam manifest-manages it rather than
        falling into directory mode or refusing."""
        path = _table(mstore, "premade")
        os.makedirs(path, exist_ok=True)
        mstore.commit.append_rows(mstore, [("a", 1)], SCHEMA, path)
        assert os.path.isdir(f"{path}/{LOG_DIR}")
        assert _read(mstore, path) == {("a", 1)}

    def test_overwrite_racing_append_preserves_both(self, mstore):
        """A partition overwrite whose commit loses the race to a
        concurrent append must re-derive its manifest edit on the
        fresh state: the appended files survive, the overwritten
        partition is replaced."""
        c, path = mstore.commit, _table(mstore, "race2")
        df0 = mstore.spark.createDataFrame(
            [("x", 1), ("y", 2)], "p string, v long"
        )
        c.overwrite_partitions(mstore, df0, path, ["p"])
        real = c._current_entry
        state = {"done": False}

        def racing(store, root):
            version, entry = real(store, root)
            if not state["done"]:
                state["done"] = True
                # a concurrent append of partition z lands first
                zdf = mstore.spark.createDataFrame(
                    [("z", 9)], "p string, v long"
                )
                c._current_entry = real
                try:
                    c.append_partitioned(mstore, zdf, path, ["p"])
                finally:
                    c._current_entry = racing
                version, entry = real(store, root)
            return version, entry

        c._current_entry = racing
        try:
            df1 = mstore.spark.createDataFrame(
                [("y", 20)], "p string, v long"
            )
            c.overwrite_partitions(mstore, df1, path, ["p"])
        finally:
            c._current_entry = real
        got = {
            (r.p, r.v)
            for r in c.read_table(
                mstore, path, "p string, v long"
            ).collect()
        }
        assert got == {("x", 1), ("y", 20), ("z", 9)}


class TestRound11VacuumHardening:
    """ADVICE r10: vacuum ordering + stage-dir grace anchoring."""

    def test_vacuum_abort_preserves_older_log_history(self, mstore):
        """When a retained entry (worst case: the newest manifest) is
        corrupt, the abort must leave the OLDER, still-readable
        snapshot entries on disk — pruning them first would destroy
        the only recovery / time-travel fallback for a table whose
        current manifest is unreadable."""
        c, path = mstore.commit, _table(mstore)
        for i in range(3):
            c.append_rows(mstore, [(f"k{i}", i)], SCHEMA, path)
        logs = sorted(
            f for f in os.listdir(f"{path}/{LOG_DIR}") if f.endswith(".json")
        )
        assert [int(f[:-5]) for f in logs] == [0, 1, 2]
        with open(f"{path}/{LOG_DIR}/{logs[-1]}", "w") as fh:
            fh.write("{corrupt json")
        with pytest.raises(ConcurrentMaintenanceError, match="unreadable"):
            c.vacuum(mstore, path, retain_versions=1, grace_s=0)
        survivors = sorted(
            f for f in os.listdir(f"{path}/{LOG_DIR}") if f.endswith(".json")
        )
        # versions 0 and 1 survive the abort — recovery stays possible
        assert [int(f[:-5]) for f in survivors] == [0, 1, 2]
        got = {
            (r.k, r.v)
            for r in c.read_table(mstore, path, SCHEMA, version=1).collect()
        }
        assert got == {("k0", 0), ("k1", 1)}

    def test_stage_dir_grace_judged_by_newest_content(
        self, mstore, monkeypatch
    ):
        """A Spark stage writing DEEPER than the stage token dir (e.g.
        a _temporary subtree) does not refresh the token dir's own
        mtime — the grace check must anchor on the NEWEST file within
        the tree, so a long-running stage with fresh deep output is
        never collected mid-write."""
        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        stage = f"{path}/_stage/tok-longstage"
        deep = f"{stage}/_temporary/0"
        os.makedirs(deep)
        deep_file = f"{deep}/part-000.parquet"
        with open(deep_file, "wb") as fh:
            fh.write(b"in-flight")
        ages = {stage: 7200.0, f"{stage}/_temporary": 7200.0, deep: 7200.0}
        real_age = type(mstore.fs).age_seconds

        def fake_age(self, p):
            if p in ages:
                return ages[p]
            if p == deep_file:
                return ages.get(deep_file, 3.0)
            return real_age(self, p)

        monkeypatch.setattr(type(mstore.fs), "age_seconds", fake_age)
        # stale dirs, FRESH deep file: the stage is alive -> kept
        c.vacuum(mstore, path, grace_s=900.0)
        assert os.path.exists(deep_file)
        # everything in the tree aged out -> a true orphan, collected
        ages[deep_file] = 7200.0
        c.vacuum(mstore, path, grace_s=900.0)
        assert not os.path.exists(stage)


class TestChangeFeed:
    """read_changes: incremental consumption of the manifest log
    (round 11) — new files between retained versions ARE the new rows
    while history is append-only; anything else fails typed."""

    def test_appended_rows_between_versions(self, mstore):
        c, path = mstore.commit, _table(mstore)
        for i in range(3):
            c.append_rows(mstore, [(f"k{i}", i)], SCHEMA, path)
        got = {
            (r.k, r.v)
            for r in c.read_changes(mstore, path, 0, schema=SCHEMA).collect()
        }
        assert got == {("k1", 1), ("k2", 2)}
        got01 = {
            (r.k, r.v)
            for r in c.read_changes(
                mstore, path, 0, to_version=1, schema=SCHEMA
            ).collect()
        }
        assert got01 == {("k1", 1)}
        assert (
            c.read_changes(mstore, path, 2, schema=SCHEMA).count() == 0
        )

    def test_incremental_consumer_loop_sees_each_row_once(self, mstore):
        """The consumer pattern the primitive exists for: record the
        last processed version, read only the delta next run — every
        row seen exactly once across runs."""
        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        seen: list[tuple] = []
        cursor = c.table_versions(mstore, path)[-1]
        # run 1: two new commits land, consumer drains them
        c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        c.append_rows(mstore, [("c", 3)], SCHEMA, path)
        head = c.table_versions(mstore, path)[-1]
        seen += [
            (r.k, r.v)
            for r in c.read_changes(
                mstore, path, cursor, to_version=head, schema=SCHEMA
            ).collect()
        ]
        cursor = head
        # run 2: one more commit
        c.append_rows(mstore, [("d", 4)], SCHEMA, path)
        head = c.table_versions(mstore, path)[-1]
        seen += [
            (r.k, r.v)
            for r in c.read_changes(
                mstore, path, cursor, to_version=head, schema=SCHEMA
            ).collect()
        ]
        assert sorted(seen) == [("b", 2), ("c", 3), ("d", 4)]

    def test_non_append_range_raises_typed(self, mstore):
        from redis_lsm_timeseries_spark.errors import NonAppendHistoryError

        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        c.append_rows(mstore, [("b", 2)], SCHEMA, path)

        def write_snapshot(tmp):
            c.read_table(mstore, path, SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)

        c.snapshot_rewrite(mstore, path, write_snapshot)
        with pytest.raises(NonAppendHistoryError, match="not append-only"):
            c.read_changes(mstore, path, 0, schema=SCHEMA)
        # …but a range STARTING at the rewrite is append-only again
        rewrite_v = c.table_versions(mstore, path)[-1]
        c.append_rows(mstore, [("c", 3)], SCHEMA, path)
        got = {
            (r.k, r.v)
            for r in c.read_changes(
                mstore, path, rewrite_v, schema=SCHEMA
            ).collect()
        }
        assert got == {("c", 3)}

    def test_pruned_since_version_raises_named(self, mstore):
        from redis_lsm_timeseries_spark.errors import VersionNotFoundError

        c, path = mstore.commit, _table(mstore)
        for i in range(4):
            c.append_rows(mstore, [(f"k{i}", i)], SCHEMA, path)
        c.vacuum(mstore, path, retain_versions=1, grace_s=0)
        with pytest.raises(VersionNotFoundError, match="not retained"):
            c.read_changes(mstore, path, 0, schema=SCHEMA)

    def test_invalid_inputs_raise(self, mstore, spark, tmp_path):
        from redis_lsm_timeseries_spark.errors import (
            ValidationError,
            VersionNotFoundError,
        )

        c, path = mstore.commit, _table(mstore)
        c.append_rows(mstore, [("a", 1)], SCHEMA, path)
        c.append_rows(mstore, [("b", 2)], SCHEMA, path)
        with pytest.raises(ValidationError, match="precedes"):
            c.read_changes(mstore, path, 1, to_version=0, schema=SCHEMA)
        plain = str(tmp_path / "plain")
        spark.createDataFrame([("x", 1)], SCHEMA).write.parquet(plain)
        with pytest.raises(VersionNotFoundError, match="version log"):
            c.read_changes(mstore, plain, 0, schema=SCHEMA)


class TestSchemaEvolution:
    """Additive-column posture: old files null-fill new columns under
    an explicit-schema read — the supported evolution path. Reads of
    an evolved member must pass the CURRENT schema (schema-less reads
    take one file's footer and may miss late columns; at 100 TB
    mergeSchema's every-footer scan is not a default we pay)."""

    def test_added_column_null_fills_old_files(self, spark, tmp_path):
        from redis_lsm_timeseries_spark.commit import (
            CommitHost,
            ManifestCommit,
        )

        host, commit = CommitHost(spark), ManifestCommit()
        path = str(tmp_path / "t")
        commit.append_rows(host, [(1, "a")], "k long, v string", path)
        df2 = spark.createDataFrame(
            [(2, "b", 9.5)], "k long, v string, score double"
        ).coalesce(1)
        commit.append_table_with_meta(host, path, df2, {})
        evolved = "k long, v string, score double"
        got = {
            r.k: (r.v, r.score)
            for r in commit.read_table(host, path, evolved).collect()
        }
        assert got == {1: ("a", None), 2: ("b", 9.5)}
        # stats for the new column exist on the new file only; a
        # score predicate must keep the stat-less old file (superset)
        kept, total = commit.prune_files(host, path, {"score": (0, 100)})
        assert len(kept) == total == 2
        # and pruning on the shared column still works
        kept, total = commit.prune_files(host, path, {"k": (2, 2)})
        assert len(kept) == 1
