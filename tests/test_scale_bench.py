"""scripts/scale_bench.py: every subject builds and runs on the shared
session, and the harness refuses what cannot be a scaling measurement."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import scale_bench  # noqa: E402


@pytest.mark.parametrize("name", sorted(scale_bench.SUBJECTS))
def test_every_subject_builds_and_runs(spark, tmp_path, monkeypatch, name):
    monkeypatch.setattr(scale_bench, "CACHE", str(tmp_path))
    frame = scale_bench.SUBJECTS[name].build(spark, 200, 1)
    assert len(scale_bench.noop_walls(frame, 1)) == 1


def test_levels_are_an_n_vs_4n_pair():
    assert scale_bench.levels(4) == (1, 4)
    assert scale_bench.levels(17) == (4, 17)
    with pytest.raises(SystemExit, match="at least 4 CPUs"):
        scale_bench.levels(3)


def test_efficiency_needs_two_distinct_levels():
    def rec(cpus, per_sec):
        return {"cpus": cpus, "docs_per_sec": per_sec}

    assert scale_bench.efficiency(rec(1, 100.0), rec(4, 300.0), "docs") == pytest.approx(0.75)
    with pytest.raises(ValueError, match="two distinct levels"):
        scale_bench.efficiency(rec(4, 100.0), rec(4, 100.0), "docs")


def test_input_cache_key_holds_subject_size_partitions_and_shape():
    cooc = scale_bench.SUBJECTS["cooc"]
    key = cooc.cache_path(1000, 64)
    assert key != cooc.cache_path(2000, 64)
    assert key != cooc.cache_path(1000, 32)
    assert key != scale_bench.SUBJECTS["cooc_hashed"].cache_path(1000, 64)
    assert key.endswith("words32")


def test_child_without_a_result_raises_with_its_stderr():
    with pytest.raises(RuntimeError, match="no_such_subject"):
        scale_bench.run_child("no_such_subject", 1, 10)
