"""Unit tests for the benchmark's pure code: the percentile rule, the
seeded generators, the freshness join and the status-store aggregation.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.inputs import EventGen, ZipfSampler, rng_for  # noqa: E402
from perfbench.stats import (  # noqa: E402
    aggregate_stages,
    freshness_join,
    nearest_rank,
    percentile_report,
    quartile_spread,
)

# --- percentile rule ---------------------------------------------------------


def test_percentile_needs_ten_samples_beyond_it():
    # 19 samples: p50 is rank 10, only 9 beyond it -> not reported
    assert percentile_report(range(1, 20)) == {"n": 19}
    # 20 samples: p50 is rank 10 with 10 beyond -> reported; p75 is not
    assert percentile_report(range(1, 21)) == {"n": 20, "p50": 10}


def test_p90_appears_at_one_hundred_samples():
    rep = percentile_report(range(1, 100))
    assert "p90" not in rep and rep["n"] == 99
    rep = percentile_report(range(1, 101))
    assert rep["p90"] == 90 and rep["n"] == 100
    assert "p95" not in rep


def test_percentile_report_states_count_and_sorts_input():
    rep = percentile_report([5.0, 1.0, 3.0] * 10)
    assert rep["n"] == 30
    assert rep["p50"] == 3.0


def test_nearest_rank_counts_samples_beyond():
    assert nearest_rank([1.0, 2.0, 3.0, 4.0], 50) == (2.0, 2)
    with pytest.raises(ValueError):
        nearest_rank([], 50)


def test_quartile_spread_is_share_of_median():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


# --- seeded generators -------------------------------------------------------


def test_zipf_sampler_is_deterministic_for_a_seed():
    a = ZipfSampler(rng_for(7, "tenants"))
    b = ZipfSampler(rng_for(7, "tenants"))
    assert a.tenants == b.tenants
    assert [a() for _ in range(500)] == [b() for _ in range(500)]
    c = ZipfSampler(rng_for(8, "tenants"))
    assert [a() for _ in range(500)] != [c() for _ in range(500)]


def test_zipf_top_tenant_holds_about_a_quarter():
    z = ZipfSampler(rng_for(3, "tenants"))
    counts = Counter(z() for _ in range(40_000))
    top, n = counts.most_common(1)[0]
    assert top == z.tenants[0]
    assert 0.22 < n / 40_000 < 0.28


def test_event_files_are_deterministic_and_account_for_every_record():
    f1, f2 = EventGen(5).file(3, 500), EventGen(5).file(3, 500)
    assert f1.lines == f2.lines and f1.malformed == f2.malformed
    assert f1.n_valid + len(f1.malformed) == 500
    assert f1.n_valid == len(f1.records)
    assert 0 < len(f1.malformed) < 30  # ~2% malformed
    assert EventGen(6).file(3, 500).lines != f1.lines


# --- freshness join ----------------------------------------------------------


def test_freshness_join_uses_the_committing_batch():
    due = {"a": 10.0, "b": 11.0, "c": 12.0}
    batches = {0: ["a"], 1: ["b", "c"], 2: ["x"]}
    commits = {0: 13.0, 1: 15.5, 2: 16.0}
    assert freshness_join(due, batches, commits) == {"a": 3.0, "b": 4.5, "c": 3.5}


def test_freshness_join_skips_uncommitted_batches():
    assert freshness_join({"a": 1.0}, {0: ["a"]}, {}) == {}


def test_freshness_join_rejects_a_file_read_twice():
    with pytest.raises(ValueError):
        freshness_join({"a": 1.0}, {0: ["a"], 1: ["a"]}, {0: 2.0, 1: 3.0})


# --- status-store aggregation ------------------------------------------------


def test_aggregate_stages_converts_units_and_skips_skipped_stages():
    stages = [
        {"status": "COMPLETE", "executorRunTime": 1500, "executorCpuTime": 2_000_000_000,
         "shuffleWriteBytes": 100, "diskBytesSpilled": 0},
        {"status": "SKIPPED", "executorRunTime": 9999, "executorCpuTime": 9,
         "shuffleWriteBytes": 9, "diskBytesSpilled": 9},
        {"status": "COMPLETE", "executorRunTime": 500, "executorCpuTime": 500_000_000,
         "shuffleWriteBytes": 50, "diskBytesSpilled": 7},
    ]
    assert aggregate_stages(stages, jobs=2) == {
        "task_run_s": 2.0,
        "task_cpu_s": 2.5,
        "shuffle_bytes": 150.0,
        "spill_bytes": 7.0,
        "jobs": 2.0,
    }


def test_aggregate_stages_of_nothing_is_zero():
    assert aggregate_stages([]) == {
        "task_run_s": 0.0, "task_cpu_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0, "jobs": 0.0,
    }
