"""Checkpoint/resume tests: per-partition watermarks, resumable backfill."""

from __future__ import annotations

import os
import sys
from datetime import datetime

import pytest
from py4j.protocol import Py4JJavaError

from transmog_spark import checkpoint
from transmog_spark.checkpoint import CheckpointStore, write_slices

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_latest_watermark_wins_across_commits(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "wm"))
    store.commit("p1", _ts("2024-01-01T00:00:00"), rows_in=1, rows_out=1, run_id="r1")
    store.commit("p1", _ts("2024-01-05T00:00:00"), rows_in=4, rows_out=4, run_id="r2")
    wm = {r.partition_key: r.watermark for r in store.watermarks().collect()}
    assert wm["p1"].isoformat() == "2024-01-05T00:00:00"


def test_lineage_metrics_queryable(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "wm"))
    store.commit(
        "src_hot",
        _ts("2024-01-02T00:00:00"),
        rows_in=100,
        rows_out=98,
        child_rows=250,
        run_id="r1",
    )
    row = store.read().collect()[0]
    assert (row.rows_in, row.rows_out, row.child_rows, row.run_id) == (100, 98, 250, "r1")


def test_fresh_path_reads_as_empty(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "never_written"))
    assert store.read().collect() == []
    assert store.committed_keys() == set()


def test_unsupported_scheme_raises(spark):
    """A misconfigured store must not read as "nothing committed": that
    would redo and overwrite every slice."""
    store = CheckpointStore(spark, "nosuchfs://bucket/wm")
    with pytest.raises(Py4JJavaError, match="nosuchfs"):
        store.read()


def test_resume_is_idempotent_end_to_end(spark, tmp_path):
    """Simulated two-phase backfill: phase 1 commits p1; phase 2 resumes and
    only processes what's left; a third run is a no-op."""
    store = CheckpointStore(spark, str(tmp_path / "wm"))
    out = str(tmp_path / "out")
    df = spark.createDataFrame(
        [("p1", _ts("2024-01-01T00:00:00")), ("p1", _ts("2024-01-02T00:00:00")),
         ("p2", _ts("2024-01-01T06:00:00"))],
        "part string, ts timestamp",
    )
    kw = dict(partition_col="part", ts_col="ts")
    # phase 1: process p1 fully, commit its max ts
    assert write_slices(store, df, out, keys=["p1"], run_id="r1", **kw) == {"p1": 2}
    assert store.committed_keys() == {"p1"}
    # phase 2: resume -> only p2 remains
    assert write_slices(store, df, out, keys=["p1", "p2"], run_id="r2", **kw) == {"p2": 1}
    assert store.committed_keys() == {"p1", "p2"}
    wm = {r.partition_key: r.watermark.isoformat() for r in store.watermarks().collect()}
    assert wm == {"p1": "2024-01-02T00:00:00", "p2": "2024-01-01T06:00:00"}
    # phase 3: nothing left, nothing written
    assert write_slices(store, df, out, keys=["p1", "p2"], run_id="r3", **kw) == {}
    assert spark.read.parquet(out).count() == 3
    assert store.read().count() == 2


def test_numeric_looking_string_keys_keep_their_stats(spark, tmp_path):
    """Keys such as "01" are matched as written: the stats read back from
    the output do not turn the partition directory "01" into the int 1, and
    the session's partition type inference is left as it was."""
    store = CheckpointStore(spark, str(tmp_path / "wm"))
    df = spark.createDataFrame(
        [("01", _ts("2024-01-01T00:00:00")), ("01", _ts("2024-01-03T00:00:00")),
         ("007", _ts("2024-01-02T00:00:00"))],
        "part string, ts timestamp",
    )
    infer = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = spark.conf.get(infer)
    got = write_slices(
        store, df, str(tmp_path / "out"), partition_col="part", keys=["01", "007"],
        run_id="r1", ts_col="ts",
    )
    assert got == {"01": 2, "007": 1}
    rows = {r.partition_key: (r.max_ts_processed.isoformat(), r.rows_in, r.rows_out)
            for r in store.read().collect()}
    assert rows == {"01": ("2024-01-03T00:00:00", 2, 2), "007": ("2024-01-02T00:00:00", 1, 1)}
    assert spark.conf.get(infer) == before


def test_commit_many_appends_a_jvm_local_relation(spark, tmp_path, monkeypatch):
    """The append plans as LocalTableScan (no Python-list RDD); a naive
    datetime and curate's None watermark come back from read() unchanged."""
    frames = []
    real = checkpoint.watermark_frame

    def spy(spark_, rows):
        frames.append(real(spark_, rows))
        return frames[-1]

    monkeypatch.setattr(checkpoint, "watermark_frame", spy)
    store = CheckpointStore(spark, str(tmp_path / "wm"))
    slices = [
        ("src_hot", _ts("2024-01-02T03:04:05.678901"), 7, 7, 0),
        ("0", None, 0, 0, 0),
    ]
    store.commit_many(slices, run_id="r1")
    (frame,) = frames
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    got = sorted(tuple(r)[:6] for r in store.read().collect())
    assert got == sorted((*s, "r1") for s in slices)


def _backfill_main(argv):
    import backfill_features

    assert backfill_features.main(argv) == 0


def _jobs_in_group(spark, gid, fn):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status listener is asynchronous: drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_backfill_jobs_do_not_grow_with_slice_count(spark, tmp_path):
    jobs = {}
    for n_sources in (1, 5):
        argv = [
            "--synth-docs", "400", "--synth-sources", str(n_sources),
            "--output", str(tmp_path / f"out{n_sources}"),
            "--checkpoint", str(tmp_path / f"ckpt{n_sources}"),
        ]
        jobs[n_sources] = _jobs_in_group(
            spark, f"backfill-{n_sources}-{tmp_path.name}", lambda: _backfill_main(argv)
        )
        assert CheckpointStore(spark, argv[-1]).read().count() == n_sources + 1
    assert jobs[1] == jobs[5], jobs


def test_crash_before_commit_leaves_slices_uncommitted(spark, tmp_path, monkeypatch):
    """A crash in the one checkpoint append commits nothing; the re-run
    rewrites the same rows (dynamic overwrite, not doubled) and commits
    every slice."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    argv = ["--synth-docs", "400", "--synth-sources", "2", "--output", out, "--checkpoint", ckpt]

    def crash(self, *a, **k):
        raise RuntimeError("killed before the checkpoint append")

    monkeypatch.setattr(CheckpointStore, "commit_many", crash)
    with pytest.raises(RuntimeError):
        _backfill_main(argv)
    monkeypatch.undo()
    store = CheckpointStore(spark, ckpt)
    assert store.committed_keys() == set()
    cols = ["doc_id", "ts", "source", "feature_ts", "session_index"]
    first = sorted(map(tuple, spark.read.parquet(out).select(cols).collect()))
    assert len(first) == 400

    _backfill_main(argv)
    assert sorted(map(tuple, spark.read.parquet(out).select(cols).collect())) == first
    assert store.committed_keys() == {"src_00", "src_01", "src_hot"}
