"""Caller-attributed Spark-job trace for one catalog entry.

Runs a declared query under monkeypatched chokepoints (store writes,
commit seam operations, maintenance jobs) and prints, per call, the
Spark JOB COUNT delta (DAGScheduler.nextJobId — monotonic across all
driver threads) and wall clock, indented by call depth. Job counts are
drift-free: they tell you exactly which protocol step pays how many of
the entry's jobs, on any host, at any load.

Usage:
    python scripts/job_trace.py <entry_name> [sf_dir]
"""

from __future__ import annotations

import functools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

_depth = 0
_events: list[tuple[int, str, int, float]] = []


def _install(spark):
    def njid() -> int:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def wrap(obj, name, label=None):
        fn = getattr(obj, name, None)
        if fn is None:
            return
        lbl = label or f"{obj.__name__ if hasattr(obj, '__name__') else type(obj).__name__}.{name}"

        @functools.wraps(fn)
        def inner(*a, **kw):
            global _depth
            d = _depth
            _depth += 1
            j0, t0 = njid(), time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                _depth = d
                _events.append(
                    (d, lbl, njid() - j0, time.perf_counter() - t0)
                )

        setattr(obj, name, inner)

    from redis_lsm_timeseries_spark import commit as C
    from redis_lsm_timeseries_spark import rollup as R
    from redis_lsm_timeseries_spark import store as S
    from redis_lsm_timeseries_spark import tiering as T
    from redis_lsm_timeseries_spark.operators import merge as M

    for name in (
        "write_df", "write", "flush_l0", "_fold_staged", "initialize",
        "_recover_staging", "_append_hot",
    ):
        wrap(S.TimeseriesStore, name, f"store.{name}")
    for name in (
        "purge_scan", "purge_ack_many", "compact", "compact_purge_log",
        "_vacuum_locked", "_append_log", "apply_retention",
    ):
        wrap(T, name, f"tiering.{name}")
    for cls in (C.ParquetLeaseCommit, C.ManifestCommit):
        for name in (
            "append_rows", "append_partitioned", "overwrite_partitions",
            "snapshot_rewrite", "vacuum", "append_tables",
            "replace_tables", "_commit", "_stage_in",
            "_write_checkpoint", "rewrite_files", "stage_dv",
            "dv_positions", "scan_member_subset", "prune_files",
            "read_table",
        ):
            if name in cls.__dict__:
                wrap(cls, name, f"{cls.__name__}.{name}")
    for name in (
        "merge_into", "delete_rows", "update_rows",
        "_resolve_source_counted", "_apply_dv_delete",
    ):
        wrap(M, name, f"merge.{name}")
    for name in (
        "create_rollup", "refresh_rollup", "read_rollup", "_write_rollup",
        "_refresh_incremental",
    ):
        if hasattr(R, name):
            wrap(R, name, f"rollup.{name}")
    # the query plans import these BY NAME, so the module-level wraps
    # above don't intercept their calls — wrap the plan modules' own
    # references too (labels marked @plan)
    from redis_lsm_timeseries_spark.plans import lifecycle_queries as LQ

    for name in (
        "purge_scan", "purge_ack", "purge_ack_many", "compact",
        "lww_latest",
    ):
        if hasattr(LQ, name):
            wrap(LQ, name, f"{name}@plan")
    return njid


def main() -> int:
    entry = sys.argv[1]
    from redis_lsm_timeseries_spark.session import get_spark
    from redis_lsm_timeseries_spark.plans import catalog
    import redis_lsm_timeseries_spark.plans  # noqa: F401

    spark = get_spark("rlts-job-trace", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    njid = _install(spark)

    spec = catalog.REGISTRY[entry]
    j0, t0 = njid(), time.perf_counter()
    df = spec.fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    total_jobs, total_wall = njid() - j0, time.perf_counter() - t0

    # events were appended on EXIT (post-order); print in call order
    print(f"== {entry} @ {SF_DIR}: {total_jobs} jobs, {total_wall:.2f}s ==")
    for d, lbl, jobs, wall in _events:
        print(f"{'  ' * d}{lbl:<44} jobs={jobs:<3} wall={wall:.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
