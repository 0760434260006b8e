#!/usr/bin/env python
"""Periodic batch compaction over the streaming curated store
(spark-submit entry point) — the batch half of the streaming curation
story (streaming/curation.py: cross-batch NEAR-dup dedup has no
bounded-state streaming form, so production systems run it as a periodic
compaction over the accumulated store).

Input: the curated store the streaming pipeline appends to — kept
documents ``(doc_id, source, text)`` (``curate_batch(keep_text=True)``
output, parquet partitioned by ``source``). Per-batch curation already
applied the per-document verdicts (quality gate, decontamination) and
WITHIN-batch dedup; what accumulates across batches is exact duplicates,
near-duplicates, and duplicated spans that only a global pass can see.

The compaction:

1. global exact dedup (keep-min-id) over the whole store,
2. MinHash+LSH pairs → connected components → keep one representative
   per near-dup cluster,
3. duplicated-span strip over the surviving set (token counts recomputed
   from raw text — per-batch counts are superseded, not trusted),
4. checkpointed partition rewrite: every uncommitted ``source`` slice of
   the kept frame goes out in one dynamic-partition-overwrite write, then
   one checkpoint append records them all (``checkpoint.write_slices``) —
   a killed compaction re-runs every slice it had not committed. The
   global verdict frame is deterministic (seeded hashes, min-id rules),
   so a resumed run recomputes the identical verdicts.

Equality contract (pinned by tests/test_compact_job.py): when per-batch
near-dup removal only collapsed genuine cluster subsets (trivially true
when duplicates arrive across batches — the streaming regime), the
compacted store EQUALS the batch flagship chain run on the union input.

Cluster usage:

    spark-submit --master yarn --deploy-mode cluster \
      --num-executors 250 --executor-cores 4 --executor-memory 16g \
      --py-files transmog_spark.zip \
      jobs/compact_curated.py \
      --store /warehouse/curated_store --output /warehouse/curated_compact \
      --checkpoint /warehouse/ckpt/compact

Local smoke:

    python jobs/compact_curated.py --store /tmp/store \
      --output /tmp/compact --checkpoint /tmp/compact_ckpt
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--store", required=True, help="curated store (doc_id, source, text)")
    p.add_argument("--output", required=True, help="compacted store path")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--source-col", default="source")
    p.add_argument("--shingle-n", type=int, default=3)
    p.add_argument("--num-hashes", type=int, default=8)
    p.add_argument("--bands", type=int, default=4)
    p.add_argument("--near-threshold", type=float, default=0.5)
    p.add_argument("--max-bucket", type=int, default=500)
    p.add_argument("--span-n", type=int, default=8)
    p.add_argument("--span-min-count", type=int, default=2)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p.parse_args(argv)


def compact_frame(store, args):
    """The global curation verdicts over the accumulated store: exact dedup
    → near-dup dedup → span strip. Returns the kept (id, source, text,
    n_tok) frame — deterministic, so a resumed run recomputes identically."""
    from transmog_spark.operators.dedup import (
        dedupe_exact,
        dedupe_near,
        minhash_near_duplicates,
    )
    from transmog_spark.operators.spans import strip_duplicate_spans

    ded = dedupe_exact(store, args.id_col, args.text_col)
    pairs = minhash_near_duplicates(
        ded, args.id_col, args.text_col, shingle_n=args.shingle_n,
        num_hashes=args.num_hashes, bands=args.bands,
        threshold=args.near_threshold, max_bucket=args.max_bucket,
    )
    nded = dedupe_near(ded, pairs, args.id_col)
    stripped = strip_duplicate_spans(
        nded, args.id_col, args.text_col, n=args.span_n,
        min_count=args.span_min_count,
    )
    return (
        nded.select(args.id_col, args.source_col, args.text_col)
        .join(stripped, args.id_col)
        .select(
            args.id_col,
            args.source_col,
            args.text_col,
            (F.col("n_tok") - F.col("n_removed")).alias("n_tok"),
        )
    )


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from transmog_spark.checkpoint import CheckpointStore, write_slices
    from transmog_spark.session import get_spark

    spark = get_spark(
        app_name="transmog_compact", shuffle_partitions=args.shuffle_partitions
    )
    run_id = uuid.uuid4().hex[:12]
    ckpt = CheckpointStore(spark, args.checkpoint)
    store = spark.read.parquet(args.store)

    # the global verdict frame feeds the slice listing and the write —
    # persist the stage boundary so the chain runs once
    kept = compact_frame(store, args).persist()
    try:
        keys = [r[0] for r in kept.select(args.source_col).distinct().collect()]
        write_slices(
            ckpt, kept, args.output, partition_col=args.source_col, keys=keys,
            run_id=run_id,
        )
    finally:
        kept.unpersist()
    print(f"[compact {run_id}] done")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
