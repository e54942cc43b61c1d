"""The benchmark's own tests: python3 -m pytest perfbench -q -p no:cacheprovider

The Spark tests start their own sessions in subprocesses, so run them
when nothing else is measuring.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402


def test_model_is_last_write_wins_with_partition_retention():
    m = wl.Model()
    m.apply([("a", 1_000, "x"), ("a", 5_000, "y"), ("b", 1_000, "z")])
    m.apply([("a", 1_000, "x2"), ("a", 3_000, "w")])
    assert m.read("a", 0, 10_000) == [("a", 1_000, "x2"), ("a", 3_000, "w"), ("a", 5_000, "y")]
    assert m.read("a", 3_000, 5_000) == [("a", 3_000, "w"), ("a", 5_000, "y")]
    # retention is partition-granular: a partition straddling the
    # cutoff is kept whole, one ending at or before it is dropped
    w = wl.W
    m.apply([("c", w - 1, "old"), ("c", w + 10, "mid"), ("c", 2 * w + 1, "new")])
    assert m.read("c", 0, 3 * w, cutoff=w + 50) == [("c", w + 10, "mid"), ("c", 2 * w + 1, "new")]
    assert m.bucket_counts("a", 2_000) == {0: 1, 2_000: 1, 4_000: 1}


def test_batches_are_seeded_unique_and_rewrite_recent_keys():
    def first_two(seed):
        rng, m = random.Random(seed), wl.Model()
        tags = [f"t{i}" for i in range(20)]
        b1 = wl.batch(rng, m, tags, 100_000, 10, 100, 0, 60_000)
        m.apply(b1)
        b2 = wl.batch(rng, m, tags, 101_000, 10, 100, 50, 60_000)
        return b1, b2

    b1, b2 = first_two(7)
    assert (b1, b2) == first_two(7)
    assert first_two(8) != (b1, b2)
    assert len(b2) == 200
    assert len({(t, ts) for t, ts, _ in b2}) == 200
    rewrites = [(t, ts) for t, ts, _ in b2 if ts < 101_000]
    assert len(rewrites) == 50
    assert set(rewrites) <= {(t, ts) for t, ts, _ in b1}


def _traced_run(workload: str, seed: int) -> tuple[dict, list]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".bench_out", f"trace-{workload}-seed{seed}.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    return result, spans


@pytest.mark.parametrize("workload", ["maintenance"])
def test_traced_runs_repeat_per_span_job_and_task_counts(workload):
    """Spark cost is read per span at span exit, so two runs of one seed
    attribute the same jobs and tasks to the same spans."""
    counts = []
    for _ in range(2):
        result, spans = _traced_run(workload, 5)
        assert result["correct"] and result["failed"] == 0
        assert result["metrics"]["spark.unattributed_jobs"]["value"] == 0
        counts.append([
            (s["name"], s["request_id"], s["jobs"], s["tasks"])
            for s in spans if not s["name"].startswith("fs.")
        ])
    assert sum(c[2] for c in counts[0]) > 50
    diff = [(a, b) for a, b in zip(*counts) if a != b]
    assert not diff and len(counts[0]) == len(counts[1]), diff[:5]


def test_run_refuses_without_the_engine(tmp_path):
    """A directory holding only the benchmark exits non-zero and prints
    no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "online",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout

