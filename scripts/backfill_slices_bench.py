#!/usr/bin/env python
"""Slice-count scaling of the checkpointed backfill job.

Runs ``jobs/backfill_features.main`` over synthetic inputs with many
``source`` slices: one cold run, then ``RUNS`` warm runs into fresh
output/checkpoint directories, each under its own job group. Reports the
median warm wall time and, from Spark's status store (perfbench's reader),
jobs, tasks, task CPU and shuffle records per output row, plus the output
file count. The result is stored under ``--label`` in
``BENCH/backfill_slices.json`` (other labels in that file are kept), so
running the script on two checkouts gives a before/after pair.

Usage: python scripts/backfill_slices_bench.py --label after
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "jobs"), os.path.join(REPO, "perfbench")]

DOCS, SOURCES, RUNS = 30_000, 19, 3  # 19 sources + the hot one = 20 slices
OUT = os.path.join(REPO, "BENCH", "backfill_slices.json")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--label", required=True)
    args = p.parse_args()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

    import backfill_features as bf
    from status import StatusReader

    from transmog_spark.session import get_spark

    spark = get_spark(f"local[{len(os.sched_getaffinity(0))}]")
    reader = StatusReader(spark)
    work = tempfile.mkdtemp(prefix="backfill_slices_")
    runs = []
    try:
        for k in range(RUNS + 1):
            out, ckpt = os.path.join(work, f"out{k}"), os.path.join(work, f"ckpt{k}")
            argv = ["--synth-docs", str(DOCS), "--synth-sources", str(SOURCES),
                    "--output", out, "--checkpoint", ckpt]
            with reader.group(f"run{k}") as gid, contextlib.redirect_stdout(sys.stderr):
                t0 = time.perf_counter()
                bf.main(argv)
                wall = time.perf_counter() - t0
            m = reader.metrics(gid)
            files = sum(n.endswith(".parquet") for _, _, ns in os.walk(out) for n in ns)
            runs.append({"wall_s": wall, "files": files, **m})
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    warm = runs[1:]
    mid = sorted(warm, key=lambda r: r["wall_s"])[len(warm) // 2]
    result = {
        "docs": DOCS,
        "slices": SOURCES + 1,
        "cpus": len(os.sched_getaffinity(0)),
        "cold_wall_s": round(runs[0]["wall_s"], 2),
        "warm_wall_s": round(statistics.median(r["wall_s"] for r in warm), 2),
        "warm_wall_s_runs": [round(r["wall_s"], 2) for r in warm],
        "jobs": mid["jobs"],
        "tasks": mid["tasks"],
        "task_cpu_s": round(mid["task_cpu_s"], 2),
        "shuffle_records_per_row": round(mid["shuffle_write_records"] / DOCS, 2),
        "output_files": mid["files"],
    }
    doc = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            doc = json.load(f)
    doc[args.label] = result
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=2)
        f.write("\n")
    print(json.dumps({args.label: result}))


if __name__ == "__main__":
    main()
