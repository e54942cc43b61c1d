"""The catalog bench's compact extras summary counts failures, not
non-float values."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import summarize_extras  # noqa: E402


def test_int_and_str_facts_are_results_not_errors():
    compact, summary = summarize_extras({
        "merge_into": 1.23456,
        "cc_rounds": 4,
        "zorder_string_files_kept": "29/32",
        "ann_index_build": "FAILED RuntimeError: boom",
    })
    assert compact == {
        "merge_into": 1.23,
        "cc_rounds": 4,
        "zorder_string_files_kept": "29/32",
        "ann_index_build": "ERR",
    }
    assert summary == {"n": 4, "ok": 3, "failed": 1, "total_sec": 1.23}


def test_whole_extras_failure_counts_as_failed():
    _, summary = summarize_extras({"error": "FAILED OSError: no data"})
    assert summary["failed"] == 1 and summary["ok"] == 0
