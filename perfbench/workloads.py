"""Inputs, the last-write-wins model, and the two workload loops.

Both workloads drive the engine only through its public API
(``TimeseriesStore``, ``tiering``, ``rollup``) with inputs generated
from the run's seed. Event time and ingest time come from a synthetic
clock, so the same seed gives byte-identical writes, reads and
maintenance decisions on every run.
"""

from __future__ import annotations

import bisect
import os
import random
import time
from collections import Counter

W = 120_000  # engine default partition width (ms)
T0 = 1_700_000_040_000 - (1_700_000_040_000 % W)
MAX_ERRORS_SHOWN = 5


def storage(root: str, live_bytes: int) -> dict:
    """Bytes, files and manifest commit-log entries under ``root``;
    ``space_amp`` is the bytes per raw byte of readable samples."""
    total = files = log_entries = 0
    for dirpath, _, names in os.walk(root):
        files += len(names)
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        if os.path.basename(dirpath) == "_log":
            log_entries += sum(
                1 for n in names if n.endswith(".json") and n[:-5].isdigit()
            )
    return {
        "space_amp": total / live_bytes, "files": files,
        "log_entries": log_entries,
    }


def user_bytes(tag: str, value: str) -> int:
    return len(tag) + 8 + len(value)


class Model:
    """Last-write-wins state of every sample the benchmark wrote."""

    def __init__(self):
        self.vals: dict[str, dict[int, str]] = {}
        self.keys: dict[str, list[int]] = {}

    def apply(self, rows) -> None:
        for tag, ts, value in rows:
            vals = self.vals.setdefault(tag, {})
            if ts not in vals:
                keys = self.keys.setdefault(tag, [])
                if not keys or ts > keys[-1]:
                    keys.append(ts)
                else:
                    bisect.insort(keys, ts)
            vals[ts] = value

    def keys_between(self, tag: str, lo: int, hi: int) -> list[int]:
        """Keys of ``tag`` with lo <= ts < hi."""
        keys = self.keys.get(tag, [])
        return keys[bisect.bisect_left(keys, lo):bisect.bisect_left(keys, hi)]

    def read(self, tag: str, start: int, end: int, cutoff: int | None = None):
        """Rows of ``tag`` with start <= ts <= end; with ``cutoff``, only
        partitions that retention keeps (part_start + W > cutoff)."""
        vals = self.vals.get(tag, {})
        return [
            (tag, ts, vals[ts])
            for ts in self.keys_between(tag, start, end + 1)
            if cutoff is None or ts - ts % W + W > cutoff
        ]

    def bucket_counts(self, tag: str, step: int) -> dict[int, int]:
        return dict(Counter(ts - ts % step for ts in self.keys.get(tag, [])))

    def live_bytes(self, cutoff: int | None = None) -> int:
        return sum(
            user_bytes(tag, v)
            for tag, vals in self.vals.items()
            for ts, v in vals.items()
            if cutoff is None or ts - ts % W + W > cutoff
        )


def value(rng: random.Random) -> str:
    return f"{rng.randrange(100_000) / 100:.2f}"


def batch(rng, model, tags, start, per_tag, spacing, n_rewrites, lookback):
    """One write batch: ``per_tag`` new samples per tag from ``start``,
    ``spacing`` ms apart, of which ``n_rewrites`` (spread over random
    tags) instead overwrite distinct existing keys from the last
    ``lookback`` ms. Keys are unique within the batch."""
    slots = [(t, k) for t in tags for k in range(per_tag)]
    rewrite = set(rng.sample(range(len(slots)), n_rewrites))
    used: dict[str, set] = {}
    rows = []
    for i, (tag, k) in enumerate(slots):
        ts = start + k * spacing
        if i in rewrite:
            pool = model.keys_between(tag, start - lookback, start)
            taken = used.setdefault(tag, set())
            free = [x for x in pool if x not in taken]
            if free:
                ts = rng.choice(free)
                taken.add(ts)
        rows.append((tag, ts, value(rng)))
    return rows


class CpuClock:
    """CPU time (ns) used so far by this process and by the Spark JVM's
    Java threads: the driver, the executor's task threads and the py4j
    handlers, through ``ThreadMXBean``. The JVM's own garbage collector
    and JIT compiler threads are not Java threads and are left out:
    their CPU swings with heap and warm-up state, and it moved the CPU
    of identical reads by a third. A thread that ends keeps the last
    CPU time read for it. ``process_ns`` is the JVM's whole total, all
    threads, for context. Either counts work on this host's cores
    whether or not other tenants delay it, which wall time does not."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        self._str = jvm.java.util.Arrays.toString
        self._jvm_cpu = jvm.java.lang.ProcessHandle.current().info
        self._seen: dict[str, int] = {}

    def __call__(self) -> int:
        ids = self._mx.getAllThreadIds()
        # one call for all threads, and each array crosses as one string
        cpu = self._str(self._mx.getThreadCpuTime(ids))[1:-1].split(", ")
        for tid, ns in zip(self._str(ids)[1:-1].split(", "), cpu):
            if ns != "-1":  # -1: the thread ended between the two calls
                self._seen[tid] = int(ns)
        return sum(self._seen.values()) + time.process_time_ns()

    def process_ns(self) -> int:
        return (
            self._jvm_cpu().totalCpuDuration().get().toNanos()
            + time.process_time_ns()
        )


class Counts:
    """Attempted/failed operations, with the first few failure reasons."""

    def __init__(self, log, cpu: CpuClock):
        self.attempted = 0
        self.failed = 0
        self.log = log
        self.cpu = cpu

    def fail(self, what: str) -> None:
        self.failed += 1
        if self.failed <= MAX_ERRORS_SHOWN:
            self.log(f"FAILED: {what}")

    def run(self, what: str, fn, check=None):
        """Time ``fn()``; a raise or a failed ``check(result)`` counts as
        a failed operation. Returns (Cost, result-or-None)."""
        self.attempted += 1
        c0, t0 = self.cpu(), time.perf_counter()
        out = None
        try:
            out = fn()
        except Exception as exc:  # the loop must keep measuring
            self.fail(f"{what}: {type(exc).__name__}: {exc}"[:500])
        cost = Cost(time.perf_counter() - t0, (self.cpu() - c0) / 1e9)
        if out is not None and check is not None:
            problem = check(out)
            if problem:
                self.fail(f"{what}: wrong result: {problem}")
        return cost, out


class Cost:
    """Wall and CPU seconds of one operation."""

    __slots__ = ("wall", "cpu")

    def __init__(self, wall: float, cpu: float):
        self.wall, self.cpu = wall, cpu


def compare_rows(got, want) -> str | None:
    got = sorted((r[0], int(r[1]), r[2]) for r in got)
    want = sorted(want)
    if got == want:
        return None
    extra = set(got) - set(want)
    missing = set(want) - set(got)
    return (
        f"{len(got)} rows vs {len(want)} expected; "
        f"{len(extra)} unexpected e.g. {sorted(extra)[:2]}, "
        f"{len(missing)} missing e.g. {sorted(missing)[:2]}"
    )


# ------------------------------------------------------------- online
class Online:
    """Closed loop, one client: ``store.write`` of 2,000 samples
    (200 tags x 10, 100 ms apart, event time +1 s per write, 100 of them
    rewrite a key from the last 60 s), then one
    ``read_range(...).collect()`` of one seeded tag over a 20 s window
    inside the last 2 min. ``flush_l0`` after every 25th write.
    Directory-mode store, default config, set up with one partition
    (2 min at 1 Hz) of history per tag."""

    TAGS = [f"sensor-{i:03d}" for i in range(200)]
    PRELOAD_PARTITIONS = 1
    PER_TAG = 10
    SPACING = 100
    REWRITES = 100
    LOOKBACK = 60_000
    READ_WINDOW = 20_000
    READ_WITHIN = 120_000
    FLUSH_EVERY = 25

    def __init__(self, env):
        self.env = env
        self.write_ops: list[Cost] = []
        self.read_ops: list[Cost] = []
        self.flush_ops: list[Cost] = []
        self.rows = 0
        self.user_bytes = 0

    def setup(self, root: str) -> None:
        """Fresh store with the preloaded history, then one untimed
        write/read pair (lazy set-up on both paths)."""
        import pandas as pd

        env = self.env
        self.rng = random.Random(env.seed)
        self.model = Model()
        self.writes = 0
        self.store = env.new_store(root)
        self.store.initialize()
        hist = [
            (tag, ts, value(self.rng))
            for tag in self.TAGS
            for ts in range(T0, T0 + self.PRELOAD_PARTITIONS * W, 1000)
        ]
        pdf = pd.DataFrame(hist, columns=["tag", "ts", "value"])
        # ingested just before the first live write
        self.store.write_df(env.spark.createDataFrame(pdf), ingest_ts=self.event_now())
        self.model.apply(hist)
        self.iteration(timed=False)

    def event_now(self) -> int:
        return T0 + self.PRELOAD_PARTITIONS * W + self.writes * 1000

    def iteration(self, timed: bool = True) -> None:
        env, st = self.env, self.store
        rows = batch(
            self.rng, self.model, self.TAGS, self.event_now(), self.PER_TAG,
            self.SPACING, self.REWRITES, self.LOOKBACK,
        )
        ingest = self.event_now() + 1000  # strictly increasing per write
        cost, _ = env.counts.run(
            "store.write", lambda: st.write(rows, ingest_ts=ingest)
        )
        self.model.apply(rows)
        self.writes += 1
        if timed:
            self.write_ops.append(cost)
            self.rows += len(rows)
            self.user_bytes += sum(user_bytes(t, v) for t, _, v in rows)

        now = self.event_now()
        tag = self.rng.choice(self.TAGS)
        start = now - self.rng.randrange(self.READ_WINDOW, self.READ_WITHIN)
        end = start + self.READ_WINDOW
        want = self.model.read(tag, start, end)
        with env.tracer.span("store.read_range") as sp:
            cost, _ = env.counts.run(
                "store.read_range",
                lambda: st.read_range({tag: (start, end)}).collect(),
                lambda got: compare_rows(got, want),
            )
        if sp is not None:
            sp.rows_out = len(want)
        if timed:
            self.read_ops.append(cost)

        if self.writes % self.FLUSH_EVERY == 0:
            cost, _ = env.counts.run("store.flush_l0", st.flush_l0)
            if timed:
                self.flush_ops.append(cost)

    def finish(self) -> dict:
        return storage(self.store.config.root, self.model.live_bytes())


# -------------------------------------------------------- maintenance
class Maintenance:
    """The LSM lifecycle on a manifest-hot store with 5 tags. Each
    cycle: 5 writes of 2,000 samples (one event-minute each, 50 of each
    batch overwrite keys at most 2 min old), ``flush_l0``,
    ``refresh_rollup(step=60 s)``, ``purge_scan(300 s, K=100)`` then
    ``purge_ack_many`` of its marks, ``compact``, ``apply_retention(now -
    6 min, drop_cold=True)``, then 10 dashboard reads, each
    ``read_range(include_cold=True)`` of 2 seeded tags over the last
    15 min, the last one followed by ``read_rollup`` of its tags.
    ``read_cpu_ms`` is the median of the 10 reads, so neither the
    first read after maintenance nor one read's stray work sets it.

    Retention keeps 6 min so that the first cycle drops data on both
    of its paths: the oldest partition, purged to the cold tier, goes
    through ``drop_cold``, and the next one, rewritten by the cycle's
    first write and so too recently active to purge, is dropped from
    the hot table by a manifest commit."""

    TAGS = [f"meter-{i:02d}" for i in range(5)]
    PRELOAD_MINUTES = 5
    WRITES_PER_CYCLE = 5
    PER_TAG = 400
    SPACING = 150
    REWRITES = 50
    LOOKBACK = 120_000
    STEP = 60_000
    PURGE_AGE_S = 300
    PURGE_K = 100
    RETAIN = 360_000
    DASH_TAGS = 2
    DASH_WINDOW = 900_000
    DASH_READS = 10

    def __init__(self, env):
        self.env = env
        self.write_ops: list[Cost] = []
        self.read_ops: list[Cost] = []
        self.cycles: list[Cost] = []
        self.rows = 0
        self.user_bytes = 0
        self.marked = 0
        self.acked = 0
        self.compact_rows = [0, 0]
        self.buckets = 0

    def setup(self, root: str) -> None:
        """Fresh manifest-hot store holding ``PRELOAD_MINUTES`` of
        history (bulk-loaded, each minute ingested at its end, as the
        live writes are), the dashboard rollup created over it, and one
        untimed dashboard read (lazy set-up on the read path)."""
        import pandas as pd
        from redis_lsm_timeseries_spark import rollup

        env = self.env
        self.rng = random.Random(env.seed)
        self.model = Model()
        self.cutoff = None
        self.store = env.new_store(root, manifest=True)
        self.store.initialize()
        hist = [
            (tag, T0 + m * 60_000 + k * self.SPACING, value(self.rng))
            for tag in self.TAGS
            for m in range(self.PRELOAD_MINUTES)
            for k in range(self.PER_TAG)
        ]
        pdf = pd.DataFrame(hist, columns=["tag", "ts", "value"])
        pdf["ingest_ts"] = pdf["ts"] - pdf["ts"] % 60_000 + 60_000
        self.store.write_df(env.spark.createDataFrame(pdf))
        self.model.apply(hist)
        self.writes = self.PRELOAD_MINUTES
        self._step(
            "rollup.refresh_rollup",
            lambda: rollup.refresh_rollup(self.store, "dash", step=self.STEP),
        )
        self.dashboard(self.now(), timed=False)

    def now(self) -> int:
        return T0 + self.writes * 60_000

    def _step(self, name, fn, check=None):
        if name.startswith("store."):  # the traced store spans these itself
            return self.env.counts.run(name, fn, check)
        with self.env.tracer.span(name):
            return self.env.counts.run(name, fn, check)

    def dashboard(self, now: int, timed: bool = True, rollup_too: bool = True) -> None:
        """One dashboard read: ``read_range(include_cold=True)`` of
        ``DASH_TAGS`` seeded tags over the last ``DASH_WINDOW`` ms and,
        with ``rollup_too``, ``read_rollup`` of the same tags, both
        checked against the model restricted to the retention window."""
        from redis_lsm_timeseries_spark import rollup

        env, st = self.env, self.store
        tags = self.rng.sample(self.TAGS, self.DASH_TAGS)
        lo = now - self.DASH_WINDOW
        want = [r for t in tags for r in self.model.read(t, lo, now, self.cutoff)]
        if timed and len(want) == sum(len(self.model.read(t, lo, now)) for t in tags):
            # the read would pass whether or not retention ran
            env.counts.fail("retention removed no row of the dashboard read")
        with env.tracer.span("store.read_range") as sp:
            cost, _ = env.counts.run(
                "store.read_range",
                lambda: st.read_range(
                    {t: (lo, now) for t in tags}, include_cold=True
                ).collect(),
                lambda got: compare_rows(got, want),
            )
        if sp is not None:
            sp.rows_out = len(want)
        if timed:
            self.read_ops.append(cost)
        if not rollup_too:
            return
        want_buckets = sorted(
            (t, b, n) for t in tags
            for b, n in self.model.bucket_counts(t, self.STEP).items()
        )
        self._step(
            "rollup.read_rollup",
            lambda: rollup.read_rollup(st, "dash", tags=tags)
            .select("tag", "bucket_start", "n").collect(),
            lambda got: (
                None if sorted((r[0], r[1], r[2]) for r in got) == want_buckets
                else f"{len(got)} buckets vs {len(want_buckets)} expected"
                " or counts differ"
            ),
        )

    def cycle(self) -> None:
        from redis_lsm_timeseries_spark import rollup, tiering

        env, st, rng = self.env, self.store, self.rng
        c0, t0 = env.counts.cpu(), time.perf_counter()
        for _ in range(self.WRITES_PER_CYCLE):
            rows = batch(
                rng, self.model, self.TAGS, self.now(), self.PER_TAG,
                self.SPACING, self.REWRITES, self.LOOKBACK,
            )
            self.writes += 1
            ingest = self.now()  # the minute's samples land at its end
            cost, _ = self._step(
                "store.write", lambda: st.write(rows, ingest_ts=ingest)
            )
            self.model.apply(rows)
            self.write_ops.append(cost)
            self.rows += len(rows)
            self.user_bytes += sum(user_bytes(t, v) for t, _, v in rows)
        now = self.now()
        self._step("store.flush_l0", st.flush_l0)
        _, rm = self._step(
            "rollup.refresh_rollup",
            lambda: rollup.refresh_rollup(st, "dash", step=self.STEP),
        )
        _, marks = self._step(
            "tiering.purge_scan",
            lambda: tiering.purge_scan(
                st, partition_age_threshold_s=self.PURGE_AGE_S,
                max_partitions_to_mark=self.PURGE_K, now_ms=now,
            ),
        )
        marks = marks or []
        _, acks = self._step(
            "tiering.purge_ack_many",
            lambda: tiering.purge_ack_many(
                st, [m.purge_id for m in marks], now_ms=now
            ),
        )
        _, cm = self._step("tiering.compact", lambda: tiering.compact(st))
        self.cutoff = now - self.RETAIN
        first = not self.cycles
        self._step(
            "tiering.apply_retention",
            lambda: tiering.apply_retention(st, self.cutoff, drop_cold=True),
            lambda r: (
                "dropped no hot partition"
                if first and not r.partitions_dropped else None
            ),
        )

        for i in range(self.DASH_READS):
            self.dashboard(now, rollup_too=i == self.DASH_READS - 1)

        self.cycles.append(
            Cost(time.perf_counter() - t0, (env.counts.cpu() - c0) / 1e9)
        )
        self.marked += len(marks)
        self.acked += sum(1 for ok in (acks or {}).values() if ok)
        if cm is not None:
            self.compact_rows[0] += cm.rows_before
            self.compact_rows[1] += cm.rows_after
        if rm is not None:
            self.buckets += rm.buckets_refreshed

    def finish(self) -> dict:
        return storage(self.store.config.root, self.model.live_bytes(self.cutoff))
