"""Spark cost of the online write/read pair (the reference's 1:1 mix
of a 2,000-sample ``/set`` and a narrow single-tag ``/get``).

A row-batch ``write()`` lands one L0 segment written on the driver, so
it launches no Spark job, and it leaves the cached L1 handle valid, so
the next read does not re-list the partitioned table. The store here
has more L1 partition directories than Spark's parallel-listing
threshold (32 paths), where a re-list is a whole Spark job."""

from __future__ import annotations

import uuid

from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.store import TimeseriesStore

N_TAGS = 48  # L1 partition dirs; above the 32-path listing threshold


def _jobs(spark, fn):
    """(Spark jobs ``fn`` launched, its result), counted by job group."""
    sc = spark.sparkContext
    group = f"hot-tier-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_write_launches_no_job_and_next_read_skips_l1_relist(
    spark, tmp_path
):
    cfg = EngineConfig(root=str(tmp_path / "engine"), partition_width=1_000)
    s = TimeseriesStore(spark, cfg)
    s.initialize()
    tags = [f"tag{i:02d}" for i in range(N_TAGS)]
    s.write_df(
        spark.createDataFrame(
            [(t, ts, f"{t}@{ts}") for t in tags for ts in (100, 200)],
            "tag string, ts long, value string",
        ),
        ingest_ts=1,
    )
    assert len([n for n in s.fs.listdir(cfg.hot_path) if "=" in n]) == N_TAGS

    def read():
        return {
            (r.ts, r.value)
            for r in s.read_range({"tag07": (0, 999)}).collect()
        }

    assert read() == {(100, "tag07@100"), (200, "tag07@200")}  # warm
    repeat_jobs, _ = _jobs(spark, read)

    write_jobs, _ = _jobs(
        spark,
        lambda: s.write(
            [("tag07", 300, "new"), ("tag08", 5, "x")], ingest_ts=2
        ),
    )
    assert write_jobs == 0

    after_jobs, got = _jobs(spark, read)
    assert got == {(100, "tag07@100"), (200, "tag07@200"), (300, "new")}
    assert after_jobs <= repeat_jobs, (
        f"read after write launched {after_jobs} jobs vs {repeat_jobs} "
        "for a repeat read: the write re-listed L1"
    )
