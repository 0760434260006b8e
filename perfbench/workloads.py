"""The three benchmark workloads.

Each workload generates its inputs from the seed, runs one operation at a
time through the library's public functions, and checks every operation's
output. ``trace`` re-runs one operation layer by layer: each layer's inputs
are first written to temporary parquet, then the layer alone runs into the
noop sink under its own job group, so its task metrics are its own.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from statistics import median

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import corpus
from status import StatusReader

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the seed whose output digests are pinned below
DEFAULT_SEED = 1


@dataclass
class OpResult:
    """One timed operation: wall time, job-group metrics and output facts."""

    wall_s: float
    exec: dict
    facts: dict = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)
    #: share of the machine's runnable CPU time the hypervisor took away
    steal_frac: float = 0.0

    @property
    def unshared_wall_s(self) -> float:
        """Wall time with the hypervisor's stolen share taken out."""
        return self.wall_s * (1.0 - self.steal_frac)


def digest(df: DataFrame) -> F.Column:
    """Order-independent digest: the sum of a 64-bit row hash over all rows."""
    return F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)"))


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class Workload:
    name = ""
    #: docs per operation at full size
    default_docs = 0
    #: operations run before the measured window (see run.py)
    warmup_ops = 1
    #: digest of every operation's output at DEFAULT_SEED and full size
    pinned_digest: int | None = None

    def __init__(self, spark, reader: StatusReader, seed: int, work: str, n_docs: int | None):
        self.spark = spark
        self.reader = reader
        self.seed = seed
        self.work = work
        self.n_docs = n_docs or self.default_docs
        self.digests: list[int] = []

    # -- to implement -------------------------------------------------
    def prepare(self) -> None:
        """Generate and write this seed's inputs."""

    def operation(self, k: int) -> OpResult:
        raise NotImplementedError

    def quality(self, results: list[OpResult]) -> dict:
        """Workload-specific end-to-end values (ratios of the checked output)."""
        return {}

    def layers(self, results: list[OpResult]) -> dict:
        """Per-layer values that come from the untraced operations."""
        return {}

    def trace(self, tracer) -> None:
        raise NotImplementedError

    # -- shared -------------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check_digest(self, value: int, problems: list[str], full_size: bool) -> None:
        """Same digest as every other operation of the run, and as the pinned
        value when the run uses the default seed at full size."""
        if self.digests and value != self.digests[0]:
            problems.append(f"digest {value} differs from first operation's {self.digests[0]}")
        self.digests.append(value)
        if full_size and self.seed == DEFAULT_SEED and self.pinned_digest is not None:
            if value != self.pinned_digest:
                problems.append(f"digest {value} != pinned {self.pinned_digest}")

    def timed(self, name: str, fn):
        """Run ``fn`` under a fresh job group; (seconds, result, group metrics)."""
        with self.reader.group(name) as gid:
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
        return wall, out, self.reader.metrics(gid)


# ---------------------------------------------------------------------------
# pit_features: pipeline.token_features into an aggregate sink
# ---------------------------------------------------------------------------


class PitFeatures(Workload):
    """flatten -> as-of -> sessionize -> lag/lead -> token re-attach."""

    name = "pit_features"
    default_docs = 100_000
    warmup_ops = 3
    pinned_digest = 1393565087785817428760

    @property
    def synth_seed(self) -> str:
        return f"pf{self.seed}"

    def prepare(self) -> None:
        from transmog_spark.sources import synth

        meta = synth.sequence_meta(self.spark, self.n_docs, seed=self.synth_seed)
        self.expected_rows = meta.agg(F.sum(F.size("meta.revisions"))).collect()[0][0]

    @staticmethod
    def _sink(df: DataFrame) -> dict:
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("feature_ts") > F.col("ts")).cast("long")).alias("leaks"),
            F.sum(F.col("feature_ts").isNotNull().cast("long")).alias("matched"),
            digest(df).alias("digest"),
        ).collect()[0]
        return row.asDict()

    def operation(self, k: int) -> OpResult:
        from transmog_spark.pipeline import token_features

        t0 = time.perf_counter()
        df = token_features(self.spark, self.n_docs, seed=self.synth_seed)
        build = time.perf_counter() - t0
        wall, f, ex = self.timed("pit_features", lambda: self._sink(df))
        r = OpResult(build + wall, ex, f)
        if f["rows"] != self.expected_rows:
            r.problems.append(f"rows {f['rows']} != generated revisions {self.expected_rows}")
        if f["leaks"]:
            r.problems.append(f"{f['leaks']} rows with feature_ts > ts")
        self.check_digest(int(f["digest"]), r.problems, self.n_docs == self.default_docs)
        return r

    def layers(self, results):
        return {"asof.matched_frac": median([r.facts["matched"] / r.facts["rows"] for r in results])}

    def trace(self, tr) -> None:
        from transmog_spark.config import EngineConfig
        from transmog_spark.operators.asof import asof_join
        from transmog_spark.operators.flatten import flatten
        from transmog_spark.operators.windows import sessionize, with_lag_lead
        from transmog_spark.pipeline import token_features
        from transmog_spark.sources import synth

        sp, n, s = self.spark, self.n_docs, self.synth_seed
        tr.build(lambda: token_features(sp, n, seed=s + "-plan"))
        # Same calls, arguments and order as pipeline.token_features.
        with tr.stage("inputs"):
            seqs = tr.persist(
                synth.sequences(sp, n, seed=s).select("doc_id", "tokens", "n_tok", "source"), "seqs"
            )
            meta = tr.persist(synth.sequence_meta(sp, n, seed=s), "meta")
            feats = tr.persist(
                synth.feature_events(sp, n, seed=s).select("doc_id", "ts", "feature_v"), "feats"
            )

        def build_revs():
            cfg = EngineConfig(
                id_generation="natural", id_field="doc_id", time_field=None, validate_natural=False
            )
            flat = flatten(meta, "sequences", cfg)
            return flat.tables["sequences_meta_revisions"].select(
                F.col("_parent_id").alias("doc_id"),
                F.col("rev"),
                F.col("editor"),
                F.col("ts"),
                F.col("n_tok").alias("rev_n_tok"),
            )

        revs = tr.layer("flatten", build_revs, rows_key="flatten.rows_out")
        pit = tr.layer(
            "asof",
            lambda: asof_join(
                revs, feats, on="doc_id", value_cols=["feature_v"], matched_ts_col="feature_ts"
            ),
        )

        def build_windows():
            w = sessionize(pit, "doc_id", ["ts", "rev"], gap_seconds=6 * 3600.0)
            return with_lag_lead(w, "doc_id", ["ts", "rev"], ["rev_n_tok"])

        win = tr.layer("windows", build_windows)
        cols = [
            "doc_id", "source", "rev", "ts", "rev_n_tok", "feature_v", "feature_ts",
            "session_index", "rev_n_tok_lag1", "rev_n_tok_lead1", "tokens", "n_tok",
        ]
        out = win.join(seqs, "doc_id", "inner").select(*cols)
        facts = tr.layer("pipeline.join", lambda: out, sink=self._sink)
        tr.expect_digest(int(facts["digest"]), self.digests[0])


# ---------------------------------------------------------------------------
# pit_backfill: jobs/backfill_features.main, then a resume
# ---------------------------------------------------------------------------


def _backfill_module():
    spec = importlib.util.spec_from_file_location(
        "backfill_features", os.path.join(REPO, "jobs", "backfill_features.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class PitBackfill(Workload):
    """Per-slice as-of/window features written as partitioned parquet."""

    name = "pit_backfill"
    default_docs = 30_000
    warmup_ops = 2
    synth_sources = 1
    pinned_digest = -721402485192688557186

    def prepare(self) -> None:
        from transmog_spark.sources import synth

        self.bf = _backfill_module()
        s = f"pb{self.seed}"
        synth.sequences(self.spark, self.n_docs, n_sources=self.synth_sources, seed=s).write.parquet(
            self.path("in", "sequences")
        )
        synth.feature_events(self.spark, self.n_docs, seed=s).write.parquet(self.path("in", "events"))
        self.n_slices = self.synth_sources + 1

    def _args(self, k: int) -> list[str]:
        return [
            "--sequences", self.path("in", "sequences"),
            "--events", self.path("in", "events"),
            "--output", self.path(f"op{k}", "out"),
            "--checkpoint", self.path(f"op{k}", "ckpt"),
        ]

    def operation(self, k: int) -> OpResult:
        from transmog_spark.checkpoint import CheckpointStore

        shutil.rmtree(self.path(f"op{k - 1}"), ignore_errors=True)
        args = self._args(k)
        # the job reports progress on stdout; the last stdout line is ours
        with contextlib.redirect_stdout(sys.stderr):
            wall, _, ex = self.timed("backfill", lambda: self.bf.main(args))
            rwall, _, rex = self.timed("backfill.resume", lambda: self.bf.main(args))
        out = self.path(f"op{k}", "out")
        written = self.spark.read.parquet(out)
        facts = written.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("feature_ts") > F.col("ts")).cast("long")).alias("leaks"),
            F.sum(F.col("feature_ts").isNotNull().cast("long")).alias("matched"),
            digest(written).alias("digest"),
        ).collect()[0].asDict()
        nbytes, files = _dir_bytes(out)
        commits = CheckpointStore(self.spark, self.path(f"op{k}", "ckpt")).read()
        walls = [r["wall_ms"] for r in commits.select("wall_ms").collect()]
        facts.update(
            bytes=nbytes, files=files, commits=len(walls), slice_wall_ms=median(walls),
            resume_s=rwall, resume_jobs=rex["jobs"], resume_writes=rex["output_records"],
        )
        r = OpResult(wall + rwall, _sum_exec(ex, rex), facts)
        if facts["rows"] != self.n_docs:
            r.problems.append(f"rows {facts['rows']} != generated docs {self.n_docs}")
        if facts["leaks"]:
            r.problems.append(f"{facts['leaks']} rows with feature_ts > ts")
        if facts["commits"] != self.n_slices:
            r.problems.append(f"{facts['commits']} commits after resume, expected {self.n_slices}")
        if facts["resume_writes"]:
            r.problems.append(f"resume wrote {facts['resume_writes']} records")
        self.check_digest(int(facts["digest"]), r.problems, self.n_docs == self.default_docs)
        return r

    def quality(self, results):
        return {"out_bytes_per_row": median([r.facts["bytes"] / r.facts["rows"] for r in results])}

    def layers(self, results):
        last = results[-1].facts
        return {
            "asof.matched_frac": last["matched"] / last["rows"],
            "tables.write.bytes": last["bytes"],
            "tables.write.files": last["files"],
            "tables.write.rows": last["rows"],
            "checkpoint.commits": last["commits"],
            "backfill.slice_wall_ms": median([r.facts["slice_wall_ms"] for r in results]),
            "backfill.resume_s": median([r.facts["resume_s"] for r in results]),
            "backfill.resume_jobs": median([r.facts["resume_jobs"] for r in results]),
        }

    def trace(self, tr) -> None:
        from transmog_spark.checkpoint import CheckpointStore
        from transmog_spark.operators.asof import asof_join
        from transmog_spark.operators.windows import sessionize, with_lag_lead
        from transmog_spark.sources.tables import read_table, write_table

        bf = self.bf
        args = bf.parse_args(self._args(0))
        args.output, args.checkpoint = tr.path("out"), tr.path("ckpt")
        seqs, events = bf.build_inputs(self.spark, args)
        store = CheckpointStore(self.spark, args.checkpoint)
        with tr.stage("inputs"):
            keys = [r[0] for r in seqs.select("source").distinct().orderBy("source").collect()]
            events = tr.persist(events, "events")
        tr.build(lambda: [bf.feature_frame(seqs.where(F.col("source") == k), events, args) for k in keys])
        for pk in keys:
            t0 = time.monotonic()
            with tr.stage(f"slice.{pk}"):
                part = tr.persist(seqs.where(F.col("source") == pk), f"part_{pk}")
            # the two halves of backfill_features.feature_frame
            value_cols = [c for c in events.columns if c not in {"doc_id", "ts"} | set(part.columns)]
            pit = tr.layer(
                "asof",
                lambda: asof_join(
                    part, events, on="doc_id", value_cols=value_cols,
                    salt_buckets=args.salt_buckets, matched_ts_col="feature_ts",
                ),
            )
            win = tr.layer(
                "windows",
                lambda: with_lag_lead(
                    sessionize(pit, "doc_id", ["ts"], gap_seconds=args.gap_seconds),
                    "doc_id", ["ts"], ["n_tok"],
                ),
            )
            tr.action(
                "tables.write",
                lambda: write_table(
                    win.repartitionByRange(F.col("ts")).sortWithinPartitions("doc_id", "ts"),
                    args.output, mode="overwrite_partitions", partition_by=["source"],
                ),
            )

            def commit():
                written = read_table(self.spark, args.output).where(F.col("source") == pk)
                st = written.agg(F.max("ts").alias("mx"), F.count(F.lit(1)).alias("n")).collect()[0]
                store.commit(pk, st["mx"], rows_in=st["n"], rows_out=st["n"], run_id="trace", started_at=t0)

            tr.action("checkpoint", commit)
        written = self.spark.read.parquet(args.output)
        got = written.agg(digest(written)).collect()[0][0]
        tr.expect_digest(int(got), self.digests[0])


# ---------------------------------------------------------------------------
# dedup_pack: exact dedup -> MinHash LSH -> components -> pack_concat
# ---------------------------------------------------------------------------

#: LSH verify threshold (minhash_near_duplicates' default); the planted
#: copies at or above it are the truth recall and precision are measured on.
JACCARD_THRESHOLD = 0.8
BUDGET = 512


class DedupPack(Workload):
    name = "dedup_pack"
    default_docs = 600
    pinned_digest = 6294697899028935760

    def prepare(self) -> None:
        docs, truth = corpus.generate(self.spark, corpus.CorpusSpec(self.n_docs, self.seed))
        docs.write.parquet(self.path("in", "docs"))
        truth.write.parquet(self.path("in", "truth"))
        t = self.spark.read.parquet(self.path("in", "truth"))
        self.truth = {r[0] for r in t.where(F.col("jaccard") >= JACCARD_THRESHOLD).select("doc_id").collect()}
        self.all_ids = {corpus.ID_FORMAT % i for i in range(self.n_docs)}

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.path("in", "docs"))

    def _run_chain(self, k: int) -> None:
        from transmog_spark.operators.dedup import dedupe_exact, dedupe_near, minhash_near_duplicates
        from transmog_spark.operators.packing import pack_concat

        ex = dedupe_exact(self.docs(), "doc_id", "text")
        pairs = minhash_near_duplicates(ex, "doc_id", "text", threshold=JACCARD_THRESHOLD)
        dedupe_near(ex, pairs, "doc_id").write.parquet(self.path(f"op{k}", "kept"))
        kept = self.spark.read.parquet(self.path(f"op{k}", "kept"))
        pack_concat(kept, "doc_id", "n_tok", "source", budget=BUDGET).write.parquet(
            self.path(f"op{k}", "packed")
        )

    def _facts(self, kept: DataFrame, packed: DataFrame) -> dict:
        """Output facts from two small collects (kept docs, packed spans)."""
        kept_rows = kept.select("doc_id", "n_tok").collect()
        spans = packed.select("source", "seq_id", "doc_id", "seq_offset", "doc_offset", "span_len").collect()
        per_seq: dict[tuple, int] = {}
        for r in spans:
            per_seq[(r[0], r[1])] = per_seq.get((r[0], r[1]), 0) + r[5]
        kept_ids = {r[0] for r in kept_rows}
        return {
            "sequences": len(per_seq),
            "packed_tokens": sum(per_seq.values()),
            "max_seq_tokens": max(per_seq.values()),
            "kept_tokens": sum(r[1] for r in kept_rows),
            "removed_ids": self.all_ids - kept_ids,
            "digest": _py_digest(sorted(kept_ids), sorted(tuple(r) for r in spans)),
        }

    def operation(self, k: int) -> OpResult:
        shutil.rmtree(self.path(f"op{k - 1}"), ignore_errors=True)
        wall, _, ex = self.timed("dedup_pack", lambda: self._run_chain(k))
        facts = self._facts(
            self.spark.read.parquet(self.path(f"op{k}", "kept")),
            self.spark.read.parquet(self.path(f"op{k}", "packed")),
        )
        r = OpResult(wall, ex, facts)
        self._check(facts, r.problems)
        self.check_digest(facts["digest"], r.problems, self.n_docs == self.default_docs)
        return r

    @staticmethod
    def _check(f: dict, problems: list[str]) -> None:
        if f["packed_tokens"] != f["kept_tokens"]:
            problems.append(f"packed {f['packed_tokens']} tokens != kept {f['kept_tokens']}")
        if f["max_seq_tokens"] > BUDGET:
            problems.append(f"a sequence holds {f['max_seq_tokens']} > {BUDGET} tokens")

    def quality(self, results):
        f = results[-1].facts
        hit = len(f["removed_ids"] & self.truth)
        return {
            "fill_ratio": f["packed_tokens"] / (f["sequences"] * BUDGET),
            "dedup_recall": hit / len(self.truth),
            "dedup_precision": hit / max(1, len(f["removed_ids"])),
        }

    def layers(self, results):
        return {"packing.sequences": results[-1].facts["sequences"]}

    def trace(self, tr) -> None:
        from transmog_spark.operators.dedup import dedupe_exact, dedupe_near, minhash_near_duplicates
        from transmog_spark.operators.packing import pack_concat

        docs = self.docs()

        def build():
            ex = dedupe_exact(docs, "doc_id", "text")
            minhash_near_duplicates(ex, "doc_id", "text", threshold=JACCARD_THRESHOLD)
            pack_concat(ex, "doc_id", "n_tok", "source", budget=BUDGET)

        tr.build(build)
        ex = tr.layer("dedup.exact", lambda: dedupe_exact(docs, "doc_id", "text"), rows_key="dedup.exact.rows_out")
        pairs = tr.layer(
            "dedup.lsh",
            lambda: minhash_near_duplicates(ex, "doc_id", "text", threshold=JACCARD_THRESHOLD),
            rows_key="dedup.lsh.pairs",
        )
        kept = tr.layer("dedup.components", lambda: dedupe_near(ex, pairs, "doc_id"))
        packed = tr.layer("packing", lambda: pack_concat(kept, "doc_id", "n_tok", "source", budget=BUDGET))
        f = self._facts(kept, packed)
        tr.expect_digest(f["digest"], self.digests[0])
        tr.values["dedup.exact.removed"] = self.n_docs - tr.values["dedup.exact.rows_out"]
        tr.values["dedup.lsh.pairs_per_doc"] = tr.values["dedup.lsh.pairs"] / tr.values["dedup.exact.rows_out"]


WORKLOADS = {w.name: w for w in (PitFeatures, PitBackfill, DedupPack)}


def _py_digest(*parts) -> int:
    """64-bit digest of small collected outputs (already in a fixed order)."""
    return int(hashlib.sha256(repr(parts).encode()).hexdigest()[:16], 16)


def _sum_exec(a: dict, b: dict) -> dict:
    out = {}
    for k, v in a.items():
        out[k] = max(v, b[k]) if k == "peak_exec_mem_bytes" else v + b[k]
    return out
