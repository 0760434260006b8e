#!/usr/bin/env python
"""End-to-end corpus curation job (spark-submit entry point): raw
documents in, training-ready shards out.

The batch flagship chain as a production job — quality gate (Gopher/
CCNet composite, reference bigram LM trained on ``--model-filter``) →
benchmark decontamination → exact dedup → MinHash near-dup dedup →
duplicated-span strip (all via ``streaming.curation.curate_batch``, the
same oracle-gated composition the `curation_pipeline` driver query
checks) → deterministic training order + shard assignment with token
offsets → per-shard manifests → CHECKPOINTED shard writes.

Resume: every stage is deterministic (seeded hashes, min-id rules,
md5 permutation keys), so a killed run recomputes identical verdicts;
every uncommitted shard goes out in one partitioned write, then one
checkpoint append records them all (``checkpoint.write_slices``), and a
restart skips committed shards. The manifest table carries each shard's
row count, token total and an order-sensitive id digest, so a written
shard verifies without re-reading the corpus.

Cluster usage:

    spark-submit --master yarn --deploy-mode cluster \
      --num-executors 500 --executor-cores 4 --executor-memory 16g \
      --py-files transmog_spark.zip \
      jobs/curate_corpus.py \
      --docs /warehouse/raw_docs --output /warehouse/curated_shards \
      --checkpoint /warehouse/ckpt/curate --n-shards 1024

Local smoke:

    python jobs/curate_corpus.py --docs /root/testdata/sf0.001/documents.parquet \
      --output /tmp/shards --checkpoint /tmp/curate_ckpt --n-shards 4
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
    p.add_argument("--docs", required=True, help="raw documents parquet")
    p.add_argument("--output", required=True, help="shard output root")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--source-col", default="source")
    p.add_argument(
        "--benchmark-filter", default="doc_id % 97 = 0",
        help="SQL predicate selecting the held-out benchmark slice",
    )
    p.add_argument(
        "--model-filter", default=None,
        help="SQL predicate for the LM reference subset (default: whole corpus)",
    )
    p.add_argument("--contamination-max", type=float, default=0.02)
    p.add_argument("--near-threshold", type=float, default=0.5)
    p.add_argument(
        "--classifier-target", default=None,
        help="optional NB admission gate: keep only docs the classifier "
        "(self-trained on --source-col over the corpus) predicts as this "
        "class — the GPT-3-style quality filter stage",
    )
    p.add_argument("--classifier-margin", type=float, default=0.0)
    p.add_argument(
        "--embeddings", default=None,
        help="parquet of (vec_id, embedding) aligned with --id-col; "
        "required by the coreset stage",
    )
    p.add_argument(
        "--coreset-per-cell", type=int, default=0,
        help=">0 keeps only the per-cluster diverse MMR picks after "
        "curation (budget = coreset-nlist x coreset-per-cell docs; size "
        "--coreset-nlist to the budget at scale)",
    )
    p.add_argument("--coreset-nlist", type=int, default=16)
    p.add_argument("--coreset-lam", type=float, default=0.5)
    p.add_argument("--coreset-dim", type=int, default=64)
    p.add_argument("--n-shards", type=int, default=4)
    p.add_argument(
        "--c4-clean",
        action="store_true",
        help="apply the C4 heuristic line/page rules (quality.c4_clean) "
        "ahead of the chain: terminal-punctuation line filter, "
        "javascript/lorem/brace page drops, sentence floor",
    )
    p.add_argument(
        "--strip-html",
        action="store_true",
        help="pre-clean raw web text: drop script/style/comments, strip "
        "tags, decode entities (text.strip_html) before any gating",
    )
    p.add_argument("--seed", default="")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from transmog_spark.checkpoint import CheckpointStore, write_slices
    from transmog_spark.operators.corpus import shard_manifest, training_order
    from transmog_spark.session import get_spark
    from transmog_spark.sources.tables import write_table
    from transmog_spark.streaming.curation import curate_batch
    from transmog_spark.streaming.quality import train_reference_model

    spark = get_spark(
        app_name="transmog_curate", shuffle_partitions=args.shuffle_partitions
    )
    run_id = uuid.uuid4().hex[:12]
    ckpt = CheckpointStore(spark, args.checkpoint)

    docs = spark.read.parquet(args.docs)
    if args.strip_html:
        # raw-web front door: markup removal is a narrow zero-shuffle
        # projection, so it composes ahead of the chain for free; every
        # downstream verdict (gate/decontaminate/dedup) sees clean text
        from transmog_spark.operators.text import strip_html

        docs = docs.withColumn(args.text_col, strip_html(F.col(args.text_col)))
    if args.c4_clean:
        # the C4 pass both CLEANS kept pages (line filter) and DROPS
        # verdict-failing pages before the statistical gate; zero-shuffle
        from transmog_spark.operators.quality import c4_clean

        cleaned = c4_clean(docs, args.id_col, args.text_col)
        docs = (
            docs.drop(args.text_col)
            .join(
                cleaned.where(F.col("verdict") == "keep").select(
                    args.id_col, args.text_col
                ),
                args.id_col,
            )
        )
    bench = docs.where(args.benchmark_filter)
    corpus = docs.where(f"NOT ({args.benchmark_filter})")
    reference = (
        corpus.where(args.model_filter) if args.model_filter else corpus
    )
    lm_model = train_reference_model(
        reference, args.id_col, args.text_col, train_pct=80
    )

    persisted: list = []

    if args.classifier_target:
        # NB admission gate ahead of the curation chain: self-train on the
        # corpus's own labels, keep only target-class docs above the margin
        # cut. Model frames persist (joined by the gate AND kept for the
        # audit trail); the kept-id semi-join preserves corpus columns.
        from transmog_spark.operators.nb import nb_gate, nb_model

        nbm = nb_model(
            corpus, args.id_col, args.text_col, args.source_col, train_pct=100
        )
        for frame in nbm:
            frame.persist()
            persisted.append(frame)
        kept_ids = nb_gate(
            corpus,
            args.id_col,
            args.text_col,
            args.source_col,
            target=args.classifier_target,
            min_margin=args.classifier_margin,
            model=nbm,
        ).select(args.id_col)
        corpus = corpus.join(kept_ids, args.id_col)
        # no count() telemetry here: two extra full-corpus actions for a
        # log line is exactly the redundant-pass shape the scan audit
        # hunts; admitted totals fall out of the shard manifests anyway
        print(
            f"[curate] classifier gate: target={args.classifier_target!r} "
            f"margin>={args.classifier_margin}"
        )
    kept = curate_batch(
        corpus,
        id_col=args.id_col,
        text_col=args.text_col,
        source_col=args.source_col,
        lm_model=lm_model,
        benchmark=bench,
        contamination_max=args.contamination_max,
        near_threshold=args.near_threshold,
        persisted=persisted,
    )
    if args.coreset_per_cell > 0:
        # budgeted coreset stage: per-embedding-cluster greedy MMR picks
        # the representative-yet-diverse survivors (diverse_sample —
        # SemDeDup's dual). The pick frame is nlist x per_cell rows, so
        # the admission semi-join broadcasts.
        if not args.embeddings:
            raise SystemExit("--coreset-per-cell requires --embeddings")
        from transmog_spark.operators.similarity import diverse_sample

        emb = spark.read.parquet(args.embeddings).select(
            F.col("vec_id").alias(args.id_col), "embedding"
        )
        surviving = emb.join(kept.select(args.id_col), args.id_col)
        picks = diverse_sample(
            surviving, id_col=args.id_col, vec_col="embedding",
            dim=args.coreset_dim, nlist=args.coreset_nlist,
            per_cell=args.coreset_per_cell, lam=args.coreset_lam,
        ).select(args.id_col)
        kept = kept.join(F.broadcast(picks), args.id_col)
        print(
            f"[curate] coreset stage: <= "
            f"{args.coreset_nlist * args.coreset_per_cell} docs "
            f"(nlist={args.coreset_nlist} x per_cell={args.coreset_per_cell}, "
            f"lam={args.coreset_lam})"
        )
    order = training_order(
        kept, args.id_col, n_shards=args.n_shards, seed=args.seed,
        ntok_col="n_tok",
    )
    sharded = kept.join(
        order.select(args.id_col, "shard", "shard_pos", "tok_offset"),
        args.id_col,
    )

    try:
        manifest = shard_manifest(
            kept, args.id_col, n_shards=args.n_shards, seed=args.seed,
            ntok_col="n_tok",
        )
        write_table(
            manifest, os.path.join(args.output, "manifests"), mode="overwrite"
        )

        write_slices(
            ckpt, sharded, os.path.join(args.output, "data"),
            partition_col="shard", keys=list(range(args.n_shards)),
            run_id=run_id,
        )
    finally:
        for frame in persisted:
            frame.unpersist()
        for frame in lm_model:
            frame.unpersist()
    print(f"[curate {run_id}] done")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
