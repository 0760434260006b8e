#!/usr/bin/env python
"""Resumable point-in-time feature backfill (spark-submit entry point).

The north-rule production job: over an Iceberg (or parquet) table of
pre-tokenized training sequences ``(doc_id, tokens, n_tok, source, ts)``
and a feature-event table ``(doc_id, ts, feature_v, ...)``, compute the
point-in-time feature frame — as-of join (zero temporal leakage) +
gap-sessionize + lag/lead — and write it to the output table
partitioned by ``source``. Every uncommitted ``source`` slice goes through
one plan and one write, then one checkpoint append records a watermark per
slice (``checkpoint.write_slices``), so a killed backfill resumes at the
slices it had not committed.

Idempotency contract: this is a ONE-SHOT backfill over a fixed input range.
A slice is either fully committed (skipped on resume) or not committed
(fully re-run; dynamic partition overwrite replaces any partial write, so a
crash between data-write and the checkpoint append cannot duplicate rows).
Incremental top-ups of NEW data belong in a fresh run over a new range —
appending into an already-committed slice would need (source, date-bucket)
partitioning instead.

Cluster usage (N and 4N executors for the scaling gate):

    spark-submit --master yarn --deploy-mode cluster \
      --num-executors 250 --executor-cores 4 --executor-memory 16g \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.8.0 \
      --py-files transmog_spark.zip \
      jobs/backfill_features.py \
      --sequences catalog.db.sequences --events catalog.db.feature_events \
      --output catalog.db.pit_features --checkpoint /warehouse/ckpt/pit \
      --salt-buckets 16

Local smoke (parquet fallback):

    python jobs/backfill_features.py --synth-docs 5000 \
      --output /tmp/pit_out --checkpoint /tmp/pit_ckpt
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
    p.add_argument("--sequences", help="input sequence table (catalog ref or parquet path)")
    p.add_argument("--events", help="feature-event table (catalog ref or parquet path)")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--partition-col", default="source")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--gap-seconds", type=float, default=6 * 3600.0)
    p.add_argument("--salt-buckets", type=int, default=0)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--synth-docs",
        type=int,
        default=0,
        help="generate deterministic synthetic inputs of this size instead of reading tables",
    )
    p.add_argument(
        "--synth-sources",
        type=int,
        default=20,
        help="number of cold sources in the synthetic input (slice count = this + 1 hot)",
    )
    return p.parse_args(argv)


def build_inputs(spark, args):
    from transmog_spark.sources import synth
    from transmog_spark.sources.tables import read_table

    if args.synth_docs:
        seqs = synth.sequences(spark, args.synth_docs, n_sources=args.synth_sources)
        events = synth.feature_events(spark, args.synth_docs)
    else:
        seqs = read_table(spark, args.sequences)
        events = read_table(spark, args.events)
    return seqs, events


def feature_frame(seqs, events, args):
    """PIT features for the (already filtered) slices of the sequence table."""
    from transmog_spark.operators.asof import asof_join
    from transmog_spark.operators.windows import sessionize, with_lag_lead

    # feature columns: everything on the event side that doesn't collide
    # with a sequence column (e.g. both sides carry `source`)
    value_cols = [
        c
        for c in events.columns
        if c not in {"doc_id", args.ts_col} and c not in set(seqs.columns)
    ]
    pit = asof_join(
        seqs,
        events,
        on="doc_id",
        left_ts=args.ts_col,
        right_ts=args.ts_col,
        value_cols=value_cols,
        salt_buckets=args.salt_buckets,
        matched_ts_col="feature_ts",
    )
    pit = sessionize(pit, "doc_id", [args.ts_col], gap_seconds=args.gap_seconds)
    return with_lag_lead(pit, "doc_id", [args.ts_col], ["n_tok"])


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from transmog_spark.checkpoint import CheckpointStore, write_slices
    from transmog_spark.session import get_spark

    spark = get_spark(
        app_name="transmog_backfill", shuffle_partitions=args.shuffle_partitions
    )
    run_id = uuid.uuid4().hex[:12]
    store = CheckpointStore(spark, args.checkpoint)
    seqs, events = build_inputs(spark, args)

    # slice list is tiny (one per source) — a driver-side list is fine
    keys = [r[0] for r in seqs.select(args.partition_col).distinct().collect()]

    def layout(part):
        # one plan over every pending slice, so `events` is shuffled once
        # per run, not once per slice. Range-partition on (slice, event
        # time): output files are slice- and time-clustered (row-group
        # min/max enable time-range pruning downstream), the north rule's
        # "range-partitioned" layout; partition count follows the session's
        # shuffle sizing
        out = feature_frame(part, events, args)
        return out.repartitionByRange(
            F.col(args.partition_col), F.col(args.ts_col)
        ).sortWithinPartitions("doc_id", args.ts_col)

    # resume at SLICE granularity: a committed partition is skipped entirely
    # — never ts-filtered. Filtering a committed slice and then
    # partition-overwriting it would destroy the committed rows whenever the
    # input grew after the commit (the one-shot contract, now enforced).
    # The pipeline is row-preserving (as-of/sessionize/lag add columns, not
    # rows), so each slice commits rows_in == rows_out == its written rows.
    write_slices(
        store, seqs, args.output, partition_col=args.partition_col, keys=keys,
        run_id=run_id, ts_col=args.ts_col, transform=layout,
    )
    print(f"[backfill {run_id}] done")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
