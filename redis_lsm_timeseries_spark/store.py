"""TimeseriesStore — the engine core (reference operators O1-O7).

Reproduces the ``SortedStore`` lifecycle (``index.js:20-359``) on
partitioned Parquet:

- ``initialize``  namespace EPOCH + table paths (O1, ``index.js:46-62``)
- ``write``       validated, partition-assigned LSM append (O2/O3,
                  ``index.js:64-147``) — appends only, never updates
- ``read_index``  partition pruning metadata query, newest-first (O4,
                  ``index.js:157-231``)
- ``read_page``   single-partition scan + residual range filter (O5,
                  ``index.js:233-266``)
- ``read_range``  the canonical composed read: prune + scan + LWW merge
                  (O6/O7, ``index.js:278-288`` +
                  ``test/consumer-test.js:1135-1162``)

Physical layout — a two-level LSM:

- L1 ``{root}/{settings-hash}/hot``: Parquet partitioned by
  ``(tag, part_start)`` — Catalyst's directory-level partition pruning
  performs the same metadata-only page selection as the reference's
  per-tag index ZSET, with no index table to maintain. Where the
  reference fetches a whole partition and filters client-side
  (``index.js:262-263``), the Parquet scan gets the residual ``ts``
  predicate pushed to row-group min/max — strictly better (SURVEY.md
  §4 P9). Bulk loads (``write_df``) land here directly, clustered.
- L0 ``{root}/{settings-hash}/hot_l0``: flat Parquet segments, ONE
  file per row-batch ``write()``, sorted by (tag, ts) and written on
  the driver with pyarrow — no Spark job — then published by an
  atomic rename, so no reader sees a partial segment. The
  memtable-flush analog of the reference's append-first LSM posture
  (``recipe:19-20``); ``flush_l0`` (called by ack/compact
  maintenance) folds segments into L1.

Reads union both tiers. Each tier's table handle is cached per store
instance under its own layout token, so a ``write()`` re-lists only
the flat L0 directory and the L1 file index (one Spark listing job
over many partition dirs) survives until L1 itself changes.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Iterable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from redis_lsm_timeseries_spark.commit import _write_row_batch
from redis_lsm_timeseries_spark.config import (
    MAX_PAGE_NAME_LENGTH,
    EngineConfig,
)
from redis_lsm_timeseries_spark.fs import LOCAL_FS, StorageFilesystem
from redis_lsm_timeseries_spark.errors import (
    BatchTooLargeError,
    InvalidRangeError,
    KeyTooLongError,
    NotInitializedError,
    SinkManagedHotTierError,
    TooManyTagsError,
    ValidationError,
)
from redis_lsm_timeseries_spark.operators.lww import lww_latest
from redis_lsm_timeseries_spark.schema import (
    MEMBER_IDENTITY_COLS,
    PARTITION_COLS,
    SAMPLE_SCHEMA,
)


@dataclass(frozen=True)
class WriteMetrics:
    """Returned by ``write``. The reference returns Redis ``used_memory``
    as a back-pressure hint (``index.js:91-93``); rows/partitions are the
    meaningful analog for a columnar store (SURVEY.md §2.2.8)."""

    rows_written: int
    partitions_touched: int


def _now_ms() -> int:
    return int(time.time() * 1000)


class TimeseriesStore:
    """Partitioned LSM-style time-series store on Parquet."""

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        fs: StorageFilesystem | None = None,
        commit=None,
    ):
        self.spark = spark
        self.config = config
        # Every side-channel metadata operation (existence probes, meta
        # JSON, L0 segment moves, partition drops) routes through this
        # seam — see fs.py for what a non-local deployment implements.
        self.fs = fs if fs is not None else LOCAL_FS
        # Atomic-commit seam for the maintenance jobs (lease, dynamic
        # partition overwrite, snapshot swap) — see commit.py for the
        # Delta/Iceberg drop-in mapping.
        if commit is None:
            from redis_lsm_timeseries_spark.commit import DEFAULT_COMMIT

            commit = DEFAULT_COMMIT
        if config.manifest_hot and not getattr(
            commit, "CAN_MANAGE_MANIFESTS", False
        ):
            raise ValidationError(
                "EngineConfig.manifest_hot requires a manifest-capable "
                "commit backend (ManifestCommit); the directory backend "
                "would silently write a plain layout"
            )
        self.commit = commit
        self._epoch: int | None = None
        # Instance id: the reference derives a shortid per store instance
        # (index.js:58) used in the member uniquifier.
        self.writer_id = uuid.uuid4().hex[:8]
        # In-process hot-table handle cache, one entry per tier
        # ("l1", "l0") holding (layout token, DataFrames): re-listing
        # the partitioned L1 table per read is the dominant point-read
        # cost, and a row-batch write() touches only L0. Every L1
        # mutator here and in tiering.py drops all entries
        # (invalidate_hot_cache), and each entry self-validates against
        # its tier's token (see _layout_token), so any Spark writer —
        # including an external streaming sink on hot_path — is picked
        # up on the next read. Residual caveat: a non-Spark tool
        # dropping a bare file into an EXISTING partition subdirectory
        # changes no watched signature; call invalidate_hot_cache()
        # after such writes.
        self._hot_cache: dict[str, tuple[tuple, list[DataFrame]]] = {}
        # In-process lease primitives, created EAGERLY so the first
        # concurrent maintenance_lock acquisitions never race a lazy
        # check-then-set (commit.py keeps a module-lock fallback for
        # hosts that skip this).
        import threading

        self._lease_tls = threading.local()
        self._lease_plock = threading.Lock()

    def _shuffle_partitions(self) -> int:
        """The session's current ``spark.sql.shuffle.partitions`` —
        the explicit task count for clustering shuffles that must not
        be AQE-coalesced to one task (partitioned writes serialize
        their directory IO in a single task otherwise). Respects
        ``pinned_shuffle_partitions`` contexts; falls back to
        defaultParallelism if the conf is unreadable. Capped at
        defaultParallelism (r18, ADVICE r17): an UNPINNED session
        still carrying the vanilla conf default (200) must not shuffle
        a small hot append into 200 tiny tasks/files — the conf only
        *lowers* the count below the core count, it never raises it."""
        par = max(1, int(self.spark.sparkContext.defaultParallelism))
        try:
            return min(
                int(self.spark.conf.get("spark.sql.shuffle.partitions")), par
            )
        except Exception:
            return par

    def invalidate_hot_cache(self) -> None:
        """Drop every tier's cached handle so the next read re-lists
        both tiers. Called by every L1 mutator; call it manually after
        writing hot/L0 files outside the Spark writer paths."""
        self._hot_cache.clear()

    def _require_l1_batch_writable(self) -> None:
        """Refuse batch mutation of an L1 layout owned by a streaming
        file sink. When ``start_hot_ingest``'s parquet sink has written
        ``_spark_metadata`` under the hot root, Spark's batch reads of
        that directory list files from the SINK's commit log — a file
        appended by any other writer is committed-but-invisible
        (verified: a plain append after a sink batch reads back zero
        rows), and a compaction rewrite would physically delete
        log-referenced files. So in file-sink mode the sink is the
        exclusive L1 committer; ``write()`` is still fine (L0 is a
        separate directory, unioned by ``hot()``), and the
        maintenance-compatible streaming mode is
        ``start_hot_ingest_with_maintenance`` (foreachBatch ->
        ``write_df``), which leaves no sink log."""
        if self.fs.exists(f"{self.config.hot_path}/_spark_metadata"):
            raise SinkManagedHotTierError(
                f"{self.config.hot_path} is managed by a streaming "
                "file sink (_spark_metadata present): batch L1 writes "
                "would be invisible to readers and rewrites would "
                "orphan the sink's commit log. Stop the sink and "
                "migrate, or use start_hot_ingest_with_maintenance."
            )

    def _layout_token(self, tier: str) -> tuple:
        """Cheap staleness token for one tier of the hot layout
        (``"l1"`` or ``"l0"``).

        L1 watches the hot table root, its _spark_metadata
        streaming-commit dir and (manifest-hot mode) its _log, where
        every commit adds an entry — the staleness signal for ALL
        manifest mutations. L0 watches the L0 root and the L0 staging
        root. A row-batch ``write()`` changes only the L0 token, so
        the cached L1 file index survives it.

        Per watched root: the directory mtime PLUS a hash of the
        directory listing — mtime alone is only as fine as filesystem
        timestamp granularity, so a write landing within the same tick
        as the cached token would be served stale. The listing hash
        catches any add/remove of a top-level entry (partition dir, L0
        segment, streaming commit file) regardless of timestamp
        resolution.

        Appends into an EXISTING L1 partition subdirectory change
        neither the root mtime nor its listing; those are caught by
        the _SUCCESS marker's (mtime, inode) — FileOutputCommitter
        recreates it on every batch job, so the inode changes even
        when mtime granularity doesn't. CAVEAT: committers configured
        with ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``
        never rewrite _SUCCESS; external batch appends into existing
        partition dirs then go undetected — call
        ``invalidate_hot_cache()`` after such writes (or keep the
        marker enabled, the default)."""
        hot = self.config.hot_path
        if tier == "l1":
            roots = (hot, f"{hot}/_spark_metadata", f"{hot}/_log")
        else:
            roots = (self.config.l0_path, self.config.l0_staging_path)
        token = []
        for path in roots:
            sig = self.fs.stat_signature(path)
            if sig is None:
                token.append(None)
            else:
                try:
                    listing = hash(tuple(sorted(self.fs.listdir(path))))
                except OSError:
                    listing = None
                token.append((sig[0], listing))
        if tier == "l1":
            token.append(self.fs.stat_signature(f"{hot}/_SUCCESS"))
        return tuple(token)

    # ------------------------------------------------------------------ O1
    def initialize(self) -> int:
        """Create or load the namespace EPOCH (reference ``SET NX`` then
        ``GET``, ``index.js:50-52``). The epoch made Redis float64 scores
        small (``recipe:7-10``); int64 columns don't need it, but we keep
        it as the namespace creation stamp so multiple store instances
        agree the namespace exists."""
        self.fs.makedirs(self.config.base_path)
        meta_path = self.config.meta_path
        if self.fs.exists(meta_path):
            meta = json.loads(self.fs.read_text(meta_path))
            if not isinstance(meta.get("epoch"), int):
                raise ValidationError(f"corrupted engine meta at {meta_path}")
        else:
            meta = {"epoch": _now_ms(), "version": self.config.version}
            self.fs.write_text(meta_path, json.dumps(meta))
        self._epoch = meta["epoch"]
        return self._epoch

    def _require_init(self) -> None:
        if self._epoch is None:
            raise NotInitializedError(
                "store not initialized; call initialize() first"
            )

    # -------------------------------------------------------------- O2/O3
    def write(
        self,
        key_value_pairs: Mapping[str, Mapping[int, str]] | Iterable[tuple],
        ingest_ts: int | None = None,
    ) -> WriteMetrics:
        """Validated LSM append (reference ``write`` +
        ``_validateTransformParameters``, ``index.js:64-147``).

        Accepts the reference's map-of-maps shape
        ``{tag: {sort_key: value}}`` or an iterable of
        ``(tag, ts, value)`` tuples (tuple order = batch order, which
        matters for intra-batch last-entry-wins, SURVEY.md §2.2.3).

        Appends only — duplicates of existing (tag, ts) keys become new
        members resolved at read time by LWW, exactly the reference's
        LSM posture (``recipe:19-20``).
        """
        self._require_init()
        rows = self._validate_batch(key_value_pairs)
        if ingest_ts is None:
            ingest_ts = _now_ms()

        w = self.config.partition_width
        # Intra-batch duplicate sort keys collapse to the LAST batch entry
        # before storage — the reference gets this from JS Map insertion
        # semantics (index.js:107, test/consumer-test.js:746-752). `seq`
        # is the batch position, so max-seq == last entry.
        collapsed: dict[tuple, tuple] = {}
        for seq, (tag, ts, value) in enumerate(rows):
            collapsed[(tag, ts)] = (tag, ts, value, ingest_ts, self.writer_id, seq)
        data = sorted(
            (tag, ts, value, its, wid, seq, ts - (ts % w))
            for (tag, ts, value, its, wid, seq) in collapsed.values()
        )
        # Row-batch writes land in the L0 tier as ONE flat file per
        # batch (LSM memtable flush): a 2,000-row batch spread over 200
        # tags touches 200+ partition directories, and writing the
        # partitioned layout per batch costs >1 s in file/commit
        # overhead alone (measured; it is why the reference's LSM
        # appends first and sorts later, recipe:19-20); flush_l0/compact
        # fold segments into the partitioned layout. The tuple sort is
        # the (tag, ts) order (keys are unique after the collapse), so
        # each tag's rows are contiguous under the row-group min/max
        # stats. The batch is bounded and SAMPLE_SCHEMA is all exact
        # scalars, so the driver writes the file itself — no Spark job,
        # no fallback, errors propagate — and publishes it by atomic
        # rename. Only the L0 handle goes stale; the cached L1 file
        # index stays valid.
        _write_row_batch(self, data, SAMPLE_SCHEMA, self.config.l0_path)
        self._hot_cache.pop("l0", None)
        partitions = len({(t, ps) for (t, _, _, _, _, _, ps) in data})
        return WriteMetrics(rows_written=len(data), partitions_touched=partitions)

    def write_df(
        self,
        df: DataFrame,
        ingest_ts: int | None = None,
        cluster_by_partition: bool = True,
        app_meta: dict | None = None,
        expected_app: dict | None = None,
    ) -> None:
        """Bulk ingest path for DataFrame-shaped input (columns
        ``tag, ts, value`` at minimum; ``ingest_ts/writer_id/seq`` kept
        if present). No batch-size cap — the 2,000-sample cap is client
        admission control (``index.js:12``), meaningless for a
        distributed bulk load; validation here is schema-shape only.

        ``cluster_by_partition`` (default) shuffles rows onto their
        (tag, part_start) key before the partitioned write, so each
        partition directory gets ONE file per batch instead of one per
        input task — without it a 32-task batch over P partitions emits
        up to 32*P small files, and small-file explosion is what kills
        partitioned stores at scale. Disable for pre-clustered input.

        Multi-writer posture: the append runs under the maintenance
        lease. A direct L1 append racing a compaction/retention
        partition overwrite is the one lost-update window the
        directory-mode hot tier has (the overwrite's committer replaces
        the partition's contents, wiping an append that landed after
        the rewrite's scan) — serializing bulk loads against
        maintenance closes it, at the cost of
        ``ConcurrentMaintenanceError`` under contention (retry, or
        schedule bulk loads off the maintenance window). A load longer
        than the lease TTL is covered by the lock's heartbeat (the
        holder re-extends expires_ms while alive, so a crashed load
        still frees the namespace within one TTL); if the lease is
        stolen anyway, the lock's exit raises rather than succeeding
        silently. The chatty ``write()`` path needs no lease: it lands
        in L0, which maintenance folds via the rename protocol, never
        overwrites.

        ``app_meta`` / ``expected_app`` (r14): commit application
        metadata (a streaming batch cursor) ATOMICALLY with the
        append, CAS-guarded — the exactly-once leg of the manifest-hot
        ingest path. Requires a manifest-managed hot tier (the
        directory sink has no metadata map and refuses loudly)."""
        self._require_init()
        self._require_l1_batch_writable()
        cols = set(df.columns)
        if not {"tag", "ts", "value"} <= cols:
            raise ValidationError("write_df needs columns tag, ts, value")
        if ingest_ts is None:
            ingest_ts = _now_ms()
        if "ingest_ts" not in cols:
            df = df.withColumn("ingest_ts", F.lit(ingest_ts).cast("long"))
        if "writer_id" not in cols:
            df = df.withColumn("writer_id", F.lit(self.writer_id))
        if "seq" not in cols:
            df = df.withColumn(
                "seq", F.monotonically_increasing_id().cast("long")
            )
        df = df.withColumn(
            "part_start",
            (F.col("ts") - F.pmod(F.col("ts"), F.lit(self.config.partition_width))).cast("long"),
        )
        out = df.select(*[f.name for f in SAMPLE_SCHEMA.fields])
        if cluster_by_partition:
            # Explicit partition count: with the count left implicit,
            # AQE coalesces a small clustering shuffle into ONE task
            # that then writes every partition directory serially.
            # Sized from the SESSION's shuffle-partition conf, not
            # defaultParallelism (r17): a caller that pinned the conf
            # to its data (the temp-store lifecycle jobs, guide §2.2)
            # gets that many write tasks instead of one per core, and
            # a production session sized to cluster cores behaves as
            # before.
            out = out.repartition(
                self._shuffle_partitions(), "tag", "part_start"
            )
        with self.commit.maintenance_lock(self):
            self._append_hot(out, app_meta=app_meta, expected_app=expected_app)

    def _hot_is_manifest(self) -> bool:
        """True when the L1 hot table is (or should become) managed by
        the commit backend's version log. STICKY: once a hot manifest
        log exists, every writer commits through it regardless of its
        own ``manifest_hot`` flag — mixed-mode writes would make files
        invisible to manifest readers. A pre-existing PLAIN hot
        directory stays directory-mode even under the flag (the seam
        refuses to adopt a layout it didn't create)."""
        if self.commit.tracks_changes(self, self.config.hot_path):
            return True
        if not self.config.manifest_hot:
            return False
        # the flag asks for manifest mode on a NEW table only
        hot = self.config.hot_path
        return not (
            self.fs.exists(hot)
            and (not self.fs.is_dir(hot) or self.fs.listdir(hot))
        )

    def _append_hot(
        self, df: DataFrame, app_meta: dict | None = None,
        expected_app: dict | None = None,
    ) -> None:
        if self._hot_is_manifest():
            # Transactional L1: one atomic manifest commit per append
            # (creates the version log on the first write); app_meta
            # rides the same entry — the streaming batch cursor.
            self.commit.append_partitioned(
                self, df, self.config.hot_path, PARTITION_COLS,
                app_meta=app_meta, expected_app=expected_app,
            )
        else:
            if app_meta or expected_app:
                raise ValidationError(
                    "write_df: app_meta/expected_app need a manifest-"
                    "managed hot tier (EngineConfig.manifest_hot); the"
                    " directory sink keeps no metadata map"
                )
            (
                df.write.mode("append")
                .partitionBy(*PARTITION_COLS)
                .parquet(self.config.hot_path)
            )
        self.invalidate_hot_cache()

    def flush_l0(self) -> bool:
        """Fold the L0 staging segments into the partitioned L1 layout
        (the LSM memtable -> sorted-run flush). Returns True if
        anything was folded or recovered.

        Idempotent under crashes via a staged two-phase fold:

        1. every L0 segment is MOVED (atomic local rename) into a fresh
           ``hot_l0_staging/<id>/`` dir — new ``write()`` batches
           landing mid-flush are untouched. Entries starting with ``_``
           or ``.`` are left in place: a concurrent ``write()``'s
           hidden in-flight segment is not yet published (moving it
           would fail that write's publishing rename, and a crashed
           write's leftover must never be folded); ``_SUCCESS``/
           ``.crc`` are inert markers/sidecars;
        2. the staged segments are clustered onto their
           (tag, part_start) key (explicit parallelism: AQE would
           coalesce the tiny shuffle into one task and serialize the
           directory writes) and appended to L1;
        3. a ``_COMMITTED`` marker is written in the staging dir, then
           the dir is removed.

        Recovery (run first on every flush): a leftover staging dir
        WITHOUT the marker crashed before its L1 append — fold it now
        (its rows stayed readable throughout: ``hot()`` unions
        uncommitted staging dirs); one WITH the marker crashed after
        the append — its rows are already in L1, just delete it. The
        only re-append window left is the marker write itself (one
        local file create), vs. the previous design's whole
        many-file L0 tree removal; LWW hides any duplicates from that
        residual window and ``compact`` removes them physically.

        Runs under the maintenance lease (reentrant when ``compact``
        already holds it): the fold's L1 append must not race a
        concurrent partition overwrite — see ``write_df``'s posture
        note. A no-op flush (nothing staged, no segments) returns
        without touching the lease.
        """
        self._require_init()
        staging = self.config.l0_staging_path
        pending_staging = self.fs.exists(staging) and any(
            self.fs.is_dir(f"{staging}/{n}")
            for n in self.fs.listdir(staging)
        )
        pending_l0 = self.fs.exists(self.config.l0_path) and any(
            not n.startswith(("_", "."))
            for n in self.fs.listdir(self.config.l0_path)
        )
        if not (pending_staging or pending_l0):
            return False
        self._require_l1_batch_writable()
        with self.commit.maintenance_lock(self):
            return self._flush_l0_locked()

    def _flush_l0_locked(self) -> bool:
        did = self._recover_staging()
        if not self.fs.exists(self.config.l0_path):
            return did
        entries = [
            n
            for n in self.fs.listdir(self.config.l0_path)
            if not n.startswith(("_", "."))
        ]
        if not entries:
            return did
        stage_dir = f"{self.config.l0_staging_path}/{uuid.uuid4().hex[:12]}"
        self.fs.makedirs(stage_dir)
        for name in entries:
            self.fs.rename(f"{self.config.l0_path}/{name}", f"{stage_dir}/{name}")
            # A moved segment's checksum sidecar travels with it; left
            # behind it would be an orphan that pins the L0 dir forever.
            crc = f".{name}.crc"
            if self.fs.exists(f"{self.config.l0_path}/{crc}"):
                self.fs.rename(
                    f"{self.config.l0_path}/{crc}", f"{stage_dir}/{crc}"
                )
        # A Spark-written segment (an external writer, or a layout from
        # before write() wrote segments on the driver) leaves a _SUCCESS
        # marker: inert once its batches moved out, and it would block
        # the rmdir below. In-flight names (a concurrent write()'s
        # hidden ``.part-*.inflight``, a Spark writer's _temporary) are
        # never touched: they keep the dir alive, as they must.
        for marker in ("_SUCCESS", "._SUCCESS.crc"):
            if self.fs.exists(f"{self.config.l0_path}/{marker}"):
                self.fs.remove_file(f"{self.config.l0_path}/{marker}")
        # if-empty (not recursive): refuses if a new batch landed a
        # segment mid-flush — that batch stays for the next flush.
        self.fs.rmdir_if_empty(self.config.l0_path)
        self.invalidate_hot_cache()
        self._fold_staged(stage_dir)
        return True

    def _fold_staged(self, stage_dir: str) -> None:
        """Phase 2+3 of ``flush_l0``: append one staging dir's segments
        to L1, mark committed, remove. Spark's path filter skips the
        ``_``-prefixed marker and ``.crc`` sidecars, so re-reading a
        staging dir is safe."""
        segments = [
            n for n in self.fs.listdir(stage_dir) if not n.startswith(("_", "."))
        ]
        if segments:
            staged = self.spark.read.schema(SAMPLE_SCHEMA).parquet(stage_dir)
            # Cluster onto the partition key, but size the shuffle to the
            # input: each segment is one <=2,000-row write() batch, so a
            # 1-segment fold gets 1 task, not a full session's worth of
            # near-empty ones (explicit count still needed — AQE would
            # coalesce to one task and serialize the directory writes on
            # BIG folds). Session-conf-sized like write_df (r17).
            n_parts = min(self._shuffle_partitions(), len(segments))
            if n_parts == 1:
                # one <=2,000-row batch: a keyed repartition(1) pays a
                # full shuffle stage (its own AQE job) to land every
                # row in the one task coalesce(1) reaches shuffle-free
                # (r18, guide §2.4) — same rows, same single writer
                # task, same (tag, ts) sort from _append_hot
                clustered = staged.coalesce(1)
            else:
                clustered = staged.repartition(n_parts, "tag", "part_start")
            self._append_hot(clustered)
        self.fs.write_text(f"{stage_dir}/_COMMITTED", "")
        self.fs.remove_tree(stage_dir)
        self.invalidate_hot_cache()

    def _recover_staging(self) -> bool:
        """Fold or garbage-collect staging dirs a crashed flush left
        behind (see ``flush_l0``). Returns True if anything was done."""
        root = self.config.l0_staging_path
        if not self.fs.exists(root):
            return False
        did = False
        for name in sorted(self.fs.listdir(root)):
            stage_dir = f"{root}/{name}"
            if not self.fs.is_dir(stage_dir):
                continue
            did = True
            if self.fs.exists(f"{stage_dir}/_COMMITTED"):
                # Crashed after the L1 append: rows are in L1 already.
                self.fs.remove_tree(stage_dir)
                self.invalidate_hot_cache()
            else:
                self._fold_staged(stage_dir)
        return did

    def _validate_batch(self, key_value_pairs) -> list[tuple]:
        """Reference admission control (``index.js:102-119``)."""
        if key_value_pairs is None:
            raise ValidationError("input batch is required")
        if isinstance(key_value_pairs, Mapping):
            # Validate the per-tag shape BEFORE iterating .items() — a
            # non-mapping series must raise ValidationError, not
            # AttributeError.
            for tag, series in key_value_pairs.items():
                if not isinstance(series, Mapping):
                    raise ValidationError(
                        f"value for tag {tag!r} must be a mapping of ts -> value"
                    )
            rows = [
                (tag, ts, value)
                for tag, series in key_value_pairs.items()
                for ts, value in series.items()
            ]
        else:
            try:
                rows = [(t, ts, v) for (t, ts, v) in key_value_pairs]
            except (TypeError, ValueError) as exc:
                raise ValidationError(
                    "batch must be {tag: {ts: value}} or iterable of (tag, ts, value)"
                ) from exc
        if not rows:
            raise ValidationError("empty batch")
        if len(rows) > self.config.max_samples_per_write:
            raise BatchTooLargeError(
                f"batch of {len(rows)} exceeds cap "
                f"{self.config.max_samples_per_write} (reference index.js:12)"
            )
        out = []
        for tag, ts, value in rows:
            if not isinstance(tag, str) or not tag:
                raise ValidationError(f"tag must be a non-empty string, got {tag!r}")
            if len(tag) > self.config.max_tag_name_length:
                raise KeyTooLongError(
                    f"tag longer than {self.config.max_tag_name_length} chars"
                )
            if isinstance(ts, bool) or not isinstance(ts, int):
                # The reference coerces to BigInt and rejects floats
                # (index.js:120, test/consumer-test.js:734).
                raise InvalidRangeError(f"sort key must be an integer, got {ts!r}")
            out.append((tag, int(ts), None if value is None else str(value)))
        return out

    # ------------------------------------------------------------------ hot
    def hot(self) -> DataFrame:
        """The hot table as a DataFrame: the partitioned L1 layout
        unioned with any unflushed L0 row-batch segments (both carry
        the full sample schema, L0 with ``part_start`` as a data
        column). A never-written store reads as empty (no path exists
        yet); any OTHER failure — corrupt files, permissions —
        propagates instead of masquerading as an empty store. (The
        existence check routes through the injected
        ``StorageFilesystem`` — see fs.py; a lakehouse deployment
        replaces it with a catalog lookup.)

        Each tier's handle is cached on the instance under its own
        layout token (see ``_layout_token``): repeated reads skip the
        per-query file listing, and a ``write()`` re-lists only the
        flat L0 directory while the L1 file index — a Spark listing
        job over every partition dir — is reused. Every L1 mutator
        drops both (see ``invalidate_hot_cache``)."""
        self._require_init()
        # L0 first: a concurrent flush moves rows L0 -> staging -> L1
        # and drops staging only after the L1 append, so a row missing
        # from this L0 view is already in the L1 view resolved after it
        l0 = self._tier_frames("l0")
        return self._union(self._tier_frames("l1") + l0)

    def _union(self, tiers: list[DataFrame]) -> DataFrame:
        if not tiers:
            return self.spark.createDataFrame([], SAMPLE_SCHEMA)
        df = tiers[0]
        for t in tiers[1:]:
            df = df.unionByName(t)
        return df

    def _tier_frames(self, tier: str) -> list[DataFrame]:
        """One tier's cached handles, rebuilt when its token moved."""
        token = self._layout_token(tier)
        cached = self._hot_cache.get(tier)
        if cached is not None and cached[0] == token:
            return cached[1]
        frames = self._l1_frames() if tier == "l1" else self._l0_frames()
        self._hot_cache[tier] = (token, frames)
        return frames

    def _l1_frames(self) -> list[DataFrame]:
        field_names = [f.name for f in SAMPLE_SCHEMA.fields]
        if self.commit.tracks_changes(self, self.config.hot_path):
            # Manifest-managed L1 (see EngineConfig.manifest_hot): the
            # snapshot is the COMMITTED file list — a raw directory
            # scan would double-read superseded files a rewrite left
            # for deferred vacuum.
            return [
                self.commit.read_table(
                    self, self.config.hot_path, SAMPLE_SCHEMA
                ).select(*field_names)
            ]
        if self.fs.exists(self.config.hot_path):
            return [
                self.spark.read.schema(SAMPLE_SCHEMA)
                .parquet(self.config.hot_path)
                .select(*field_names)
            ]
        return []

    def _l0_frames(self) -> list[DataFrame]:
        """The unflushed L0 segments plus any UNCOMMITTED staging dirs
        (a flush crashed — or is running — between the L0 move and the
        L1 append; those rows live only in staging, so reads must
        include them). COMMITTED dirs are already in L1 and excluded
        (including them would double-read). Hidden names — a write's
        in-flight segment — are skipped by Spark's listing."""
        field_names = [f.name for f in SAMPLE_SCHEMA.fields]
        tiers: list[DataFrame] = []
        if self.fs.exists(self.config.l0_path):
            tiers.append(
                self.spark.read.schema(SAMPLE_SCHEMA)
                .parquet(self.config.l0_path)
                .select(*field_names)
            )
        if self.fs.exists(self.config.l0_staging_path):
            for name in sorted(self.fs.listdir(self.config.l0_staging_path)):
                stage_dir = f"{self.config.l0_staging_path}/{name}"
                if not self.fs.is_dir(stage_dir):
                    continue
                if self.fs.exists(f"{stage_dir}/_COMMITTED"):
                    continue
                if all(
                    n.startswith(("_", "."))
                    for n in self.fs.listdir(stage_dir)
                ):
                    continue
                tiers.append(
                    self.spark.read.schema(SAMPLE_SCHEMA)
                    .parquet(stage_dir)
                    .select(*field_names)
                )
        return tiers

    def hot_pruned(self, predicates: Mapping | None) -> DataFrame:
        """``hot()`` with manifest-stats FILE skipping on the L1 tier
        (manifest-hot mode, r13): the scan plans over only the
        committed files whose stats overlap ``predicates`` (same shape
        as ``ManifestCommit.prune_files``) — at a 100k-file hot table
        a narrow range read stops listing the world at plan time,
        before Catalyst's directory-level pruning even runs. Superset
        guard: callers keep their row predicates. Directory-mode
        stores (no per-file stats) return the full ``hot()``. The L1
        leg is not cached — the pruned plan is query-specific; the
        underlying manifest entry reads are cache-served either way —
        while the L0 leg is ``hot()``'s cached tier."""
        self._require_init()
        if not predicates or not self.commit.tracks_changes(
            self, self.config.hot_path
        ):
            return self.hot()
        l0 = self._tier_frames("l0")  # before L1, as in hot()
        pruned = self.commit.read_table_pruned(
            self, self.config.hot_path, SAMPLE_SCHEMA,
            predicates=dict(predicates),
        ).select(*[f.name for f in SAMPLE_SCHEMA.fields])
        return self._union([pruned] + l0)

    def cold(self, predicates: Mapping | None = None) -> DataFrame:
        """The cold tier. ``predicates`` ({col: (lo, hi)} inclusive
        bounds) enables manifest-stats data skipping on transactional
        backends: at 100 TB the cold tier holds every snapshot ever
        evicted, and a range read should PLAN over only the files
        whose (tag, part_start) stats overlap the request — file
        pruning from the log entry, before any storage IO. Pruning is
        a superset guard; callers apply the real row filter as
        always (directory backends return the full snapshot)."""
        self._require_init()
        # Seam-routed snapshot read: the commit backend resolves what
        # is visible (directory scan vs manifest file list); a
        # never-written or retention-emptied table reads as empty.
        from redis_lsm_timeseries_spark.schema import COLD_SNAPSHOT_SCHEMA

        df = self.commit.read_table_pruned(
            self,
            self.config.cold_path,
            COLD_SNAPSHOT_SCHEMA,
            predicates=dict(predicates) if predicates else None,
        )
        return df.select(*[f.name for f in SAMPLE_SCHEMA.fields])

    # ------------------------------------------------------------------ O4
    def read_index(self, ranges: Mapping[str, tuple] | Mapping[str, Mapping]) -> DataFrame:
        """Partition-pruning metadata query (reference ``readIndex``,
        ``index.js:157-231``): which (tag, part_start) partitions overlap
        each requested range, **newest-first** with ascending
        ``sort_weight`` (``test/consumer-test.js:345-384``).

        Only the range start is floored to a partition boundary; the end
        is not (``index.js:176-186``, SURVEY.md §2.2.2) — reproduced by
        the ``part_start >= floor(start)`` / ``part_start <= end`` pair.

        Reads only the partition columns, so the scan materializes no
        column data — the Spark analog of the ZRANGEBYSCORE index lookup.
        """
        self._require_init()
        parsed = self._validate_ranges(ranges)
        pred = self._prune_predicate(parsed)
        from pyspark.sql.window import Window

        meta = (
            self.hot_pruned(self._range_file_predicates(parsed))
            .select("tag", "part_start")
            .where(pred)
            .distinct()
        )
        w = Window.partitionBy("tag").orderBy(F.col("part_start").desc())
        return (
            meta.withColumn("sort_weight", F.row_number().over(w))
            .orderBy("tag", F.col("part_start").desc())
        )

    # ------------------------------------------------------------------ O5
    def read_page(self, page_name: str, start: int, end: int) -> DataFrame:
        """Single-partition scan + residual range filter (reference
        ``readPage``, ``index.js:233-266``). The reference fetches the
        whole ZSET then filters client-side; here the residual ``ts``
        predicate is pushed into the Parquet scan (SURVEY.md §4 P9).

        ``page_name`` is ``{tag}-{part_start}`` (``index.js:121-122``);
        parsed from the right so tags containing ``-`` work
        (``index.js:268-276``)."""
        self._require_init()
        if not isinstance(page_name, str) or len(page_name) > MAX_PAGE_NAME_LENGTH:
            raise KeyTooLongError(
                f"page name must be a string of <= {MAX_PAGE_NAME_LENGTH} chars"
            )
        tag, _, part = page_name.rpartition("-")
        if not tag or not part.lstrip("+").isdigit():
            raise ValidationError(f"malformed page name {page_name!r}")
        self._check_range_bounds(tag, start, end)
        part_start = int(part)
        return (
            self.hot_pruned(
                {
                    "tag": {tag},
                    "part_start": (part_start, part_start),
                    "ts": (int(start), int(end)),
                }
            )
            .where(
                (F.col("tag") == tag)
                & (F.col("part_start") == part_start)
                & F.col("ts").between(int(start), int(end))
            )
            .select("tag", "ts", "value", "ingest_ts", "writer_id", "seq")
        )

    # -------------------------------------------------------------- O6/O7
    def read_range(
        self,
        ranges: Mapping[str, tuple],
        include_cold: bool = False,
        with_tombstones: bool = False,
    ) -> DataFrame:
        """The canonical composed read (reference ``readData``,
        ``test/consumer-test.js:1135-1162``): prune partitions, scan,
        apply the residual range predicate, then last-write-wins merge.

        One declarative plan — Catalyst turns it into partition-pruned
        parallel scans (the reference's page fan-out) and the LWW merge
        is a partially-aggregated ``max_by`` (operators/lww.py).

        ``include_cold=True`` unions the cold tier; exact duplicates (the
        same member snapshotted to cold but not yet acked out of hot) are
        dropped by identity before LWW, mirroring mark-then-ack
        at-least-once semantics (SURVEY.md §2.2.6).

        Deletes: the reference sketches tombstones but never implements
        them (``recipe:22-23``). We define value ``NULL`` as a tombstone:
        it participates in LWW (a newer NULL beats an older value) and is
        filtered from results unless ``with_tombstones``.
        """
        self._require_init()
        parsed = self._validate_ranges(ranges)
        pred = self._prune_predicate(parsed)
        residual = self._residual_predicate(parsed)

        # manifest-hot: file skipping from the log's stats; the row
        # predicates below stay mandatory (superset guard)
        df = self.hot_pruned(self._range_file_predicates(parsed))
        if include_cold:
            df = df.unionByName(
                self.cold(predicates=self._range_file_predicates(parsed))
            ).dropDuplicates(MEMBER_IDENTITY_COLS)
        out = lww_latest(df.where(pred & residual))
        if not with_tombstones:
            out = out.where(F.col("value").isNotNull())
        return out.select("tag", "ts", "value")

    def read_all(
        self,
        include_cold: bool = False,
        with_tombstones: bool = False,
    ) -> DataFrame:
        """Full-table read: every tag, the whole time range, LWW-merged
        — ``read_range`` without the pruning predicate. The reference
        has no all-tags read (its API is range-per-tag), but maintenance
        and analytics need one, and going through ``read_range`` would
        force the caller to first enumerate tags (an extra job) only to
        build a disjunctive predicate that matches everything anyway."""
        self._require_init()
        df = self.hot()
        if include_cold:
            df = df.unionByName(self.cold()).dropDuplicates(MEMBER_IDENTITY_COLS)
        out = lww_latest(df)
        if not with_tombstones:
            out = out.where(F.col("value").isNotNull())
        return out.select("tag", "ts", "value")

    # ------------------------------------------------------------ helpers
    def _validate_ranges(self, ranges) -> list[tuple]:
        if not isinstance(ranges, Mapping) or not ranges:
            raise ValidationError("ranges must be a non-empty mapping tag -> (start, end)")
        if len(ranges) > self.config.max_tags_per_read:
            raise TooManyTagsError(
                f"{len(ranges)} tags exceeds cap {self.config.max_tags_per_read} "
                "(reference index.js:13)"
            )
        parsed = []
        for tag, rng in ranges.items():
            if isinstance(rng, Mapping):
                start, end = rng.get("start"), rng.get("end")
            else:
                try:
                    start, end = rng
                except (TypeError, ValueError) as exc:
                    raise InvalidRangeError(
                        f"range for {tag!r} must be (start, end)"
                    ) from exc
            self._check_range_bounds(tag, start, end)
            parsed.append((tag, int(start), int(end)))
        return parsed

    def _check_range_bounds(self, tag, start, end) -> None:
        if not isinstance(tag, str) or not tag:
            raise ValidationError(f"tag must be a non-empty string, got {tag!r}")
        if len(tag) > self.config.max_tag_name_length:
            raise KeyTooLongError(
                f"tag longer than {self.config.max_tag_name_length} chars"
            )
        for bound, name in ((start, "start"), (end, "end")):
            if bound is None:
                raise InvalidRangeError(f"missing {name} for tag {tag!r}")
            if isinstance(bound, bool) or not isinstance(bound, int):
                raise InvalidRangeError(
                    f"{name} for tag {tag!r} must be an integer, got {bound!r}"
                )
        if start > end:
            raise InvalidRangeError(
                f"inverted range for tag {tag!r}: {start} > {end} (index.js:196-199)"
            )

    def _range_file_predicates(self, parsed: list[tuple]) -> dict:
        """File-skipping bounds covering the UNION of the requested
        ranges — a safe superset (per-range exactness belongs to the
        row predicate): tag by EXACT set membership (cold files are
        hive-partitioned by tag, so their min==max stats make the
        membership check exact — a sparse tag set skips every
        unrequested tag's files, where a lexical range would keep
        everything between the extremes), part_start within
        [min floored start, max end] (same flooring rule as
        ``_prune_predicate``)."""
        w = self.config.partition_width
        lo = min(s - (s % w) for _, s, _ in parsed)
        hi = max(e for _, _, e in parsed)
        return {
            "tag": {t for t, _, _ in parsed},
            "part_start": (lo, hi),
        }

    def _prune_predicate(self, parsed: list[tuple]):
        """Partition-pruning predicate over the partition columns only.

        Start floored to a partition boundary, end not (reference
        ``index.js:176-186``): partitions with
        ``floor(start) <= part_start <= end`` overlap the range."""
        w = self.config.partition_width
        pred = F.lit(False)
        for tag, start, end in parsed:
            floored = start - (start % w)
            pred = pred | (
                (F.col("tag") == tag)
                & F.col("part_start").between(floored, end)
            )
        return pred

    def _residual_predicate(self, parsed: list[tuple]):
        """Row-level range predicate (reference ``index.js:263``)."""
        pred = F.lit(False)
        for tag, start, end in parsed:
            pred = pred | (
                (F.col("tag") == tag) & F.col("ts").between(start, end)
            )
        return pred
