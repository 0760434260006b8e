#!/usr/bin/env python
"""N-vs-4N throughput-scaling evidence (BASELINE.json north rule, >= 0.8).

A 10^12-sequence run would compare N and 4N *executors*; on one machine
the proxy is the same job at two parallelism levels, ``local[n // 4]`` and
``local[n]`` for the n CPUs this process may run on, each in a FRESH JVM
over identical deterministic input:

    efficiency = (throughput_hi / throughput_lo) / (hi / lo)

Method, the same for every subject:
  * both levels run a fixed 64 shuffle/input partitions (the cluster
    posture: partitions follow data volume, scaling only adds cores);
  * each child builds the plan once and keeps the best of 4 noop
    executions, so one-time codegen/JIT is not billed as scaling loss;
  * levels are interleaved over 2 rounds (lo, hi, lo, hi) so host timing
    bursts hit both, and the best child per level is kept;
  * corpus subjects read an input materialized outside the timed region
    (inline synthesis is bandwidth-bound and would measure the host bus,
    BENCH/membw.json), cached per subject, size, partition count and
    generator shape. ``token_features`` and ``pack_concat`` generate their
    input inside the plan through ``sources.synth``, as they always have.

Usage:
  python scripts/scale_bench.py SUBJECT [--docs N]
  python scripts/scale_bench.py --child SUBJECT CPUS DOCS   (internal)

Writes BENCH/<subject>_scaling.json and prints a markdown table. The
BENCH/*.md files are hand-written analysis; this script never writes them.
The 8M/20M token_features/pack_concat defaults keep the ~3-4 s per-job
serial component under ~15% of the wall (Amdahl); raise the driver heap
(SPARK_GRAFT_DRIVER_MEM) for them.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PARTITIONS = 64
ROUNDS = 2
RUNS = 4
CACHE = os.path.join(tempfile.gettempdir(), "transmog_scale_bench")

# the common-word pool; bpe draws from all 66 words, the other corpora
# from the first 50
COMMON = (
    "the of and to in is that it for was with as on at by an be this have "
    "from or one had not but what all were when we there can said use each "
    "which she do how their if will up other about out many then them these "
    "so some her would make like him into time has look two more write go see"
).split()

FUZZY_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu apple berry cedar dune ember flint grove"
).split()

BOILER_LINES = (
    "subscribe to our newsletter for the latest updates and offers",
    "all rights reserved terms of service apply privacy policy",
)
# 12-word span variants, repeated into 16-word blocks
BOILER_SPANS = (
    BOILER_LINES[0] + " today now",
    BOILER_LINES[1] + " cookie notice here",
)


# -- deterministic corpora, generated JVM-side (no RNG, no Python) ----------


def _hash(mod: int, *keys: Column) -> Column:
    return F.pmod(F.xxhash64(*keys), F.lit(mod))


def _pick(words: list[str], *keys: Column) -> Column:
    """One of ``words``, chosen by the xxhash64 of ``keys``."""
    pool = F.array(*[F.lit(w) for w in words])
    return F.element_at(pool, (_hash(len(words), *keys) + 1).cast("int"))


def _word(*js: int, pool: int = 50, rare: bool = True) -> Column:
    """A common-pool word hashed from (id, *js); with ``rare``, one draw in
    three carries a hashed 0..65520 suffix (a wide, Zipf-ish tail)."""
    keys = (F.col("id"), *[F.lit(j) for j in js])
    base = _pick(COMMON[:pool], *keys)
    if not rare:
        return base
    suffixed = F.concat(base, _hash(65521, F.lit("s"), *keys).cast("string"))
    return F.when(_hash(3, F.lit("r"), *keys) == 0, suffixed).otherwise(base)


def _wide_or_common(prefix: Column, tag: str, j: int) -> Column:
    """50/50 a common word or ``prefix`` + a hashed 65521-word-space id."""
    wide = F.concat(prefix, _hash(65521, F.lit(tag), F.col("id"), F.lit(j)).cast("string"))
    pick = _hash(2, F.lit("p"), F.col("id"), F.lit(j))
    return F.when(pick == 0, wide).otherwise(_word(j, rare=False))


def _docs(spark, n: int, partitions: int, text: Column, *extra: Column) -> DataFrame:
    return spark.range(0, n, 1, partitions).select(
        F.col("id").alias("doc_id"), *extra, text.alias("text")
    )


def bpe_docs(spark, n, partitions, *, words, pool):
    """Common words with 1/3 rare suffixes: a wide vocabulary to encode."""
    text = F.concat_ws(" ", *[_word(j, pool=pool) for j in range(words)])
    return _docs(spark, n, partitions, text)


def cooc_docs(spark, n, partitions, *, words):
    """Hot common pair keys for the map-side combiner plus near-unique
    wide-vocabulary (w{h}) pair keys for the shuffle wire."""
    text = F.concat_ws(" ", *[_wide_or_common(F.lit("w"), "ww", j) for j in range(words)])
    return _docs(spark, n, partitions, text)


def nb_docs(spark, n, partitions, *, classes, words):
    """label = hash(id) % classes; words are 50/50 shared common words or
    class-specific c{label}w{h} tokens: separable, wide vocabulary."""
    label = _hash(classes, F.lit("l"), F.col("id")).cast("string")
    prefix = F.concat(F.lit("c"), label, F.lit("w"))
    text = F.concat_ws(" ", *[_wide_or_common(prefix, "cw", j) for j in range(words)])
    return _docs(spark, n, partitions, text, F.concat(F.lit("src"), label).alias("source"))


def lines_docs(spark, n, partitions, *, lines, words):
    """Every 3rd doc swaps one line (hashed position) for one of two
    boilerplate lines; filler lines stay (mostly) unique."""
    filler = F.array(
        *[F.concat_ws(" ", *[_word(i, j) for j in range(words)]) for i in range(lines)]
    )
    pos = _hash(lines, F.lit("o"), F.col("id")).cast("int")
    boiler = F.when(F.pmod(F.col("id"), F.lit(6)) == 0, F.lit(BOILER_LINES[0])).otherwise(
        F.lit(BOILER_LINES[1])
    )
    dup = F.pmod(F.col("id"), F.lit(3)) == 0
    text = F.concat_ws("\n", F.transform(filler, lambda x, i: F.when(dup & (i == pos), boiler).otherwise(x)))
    return _docs(spark, n, partitions, text)


def spans_docs(spark, n, partitions, *, words):
    """Every 4th doc splices a 16-word boilerplate block (two variants)
    into its filler at a hashed offset: the duplicated spans."""
    blocks = [F.array(*[F.lit(w) for w in b.split() + b.split()[:4]]) for b in BOILER_SPANS]
    n_fill = words - 20
    fill = F.array(*[_word(j) for j in range(n_fill)])
    cut = (_hash(n_fill - 1, F.lit("o"), F.col("id")) + 1).cast("int")
    block = F.when(F.pmod(F.col("id"), F.lit(8)) == 0, blocks[0]).otherwise(blocks[1])
    spliced = F.concat(F.slice(fill, 1, cut), block, F.slice(fill, cut + 1, n_fill))
    text = F.concat_ws(" ", F.when(F.pmod(F.col("id"), F.lit(4)) == 0, spliced).otherwise(fill))
    return _docs(spark, n, partitions, text)


def fuzzy_keys(spark, n, partitions, *, mutant_every):
    """Short keys (two pool words + a hashed 0..996 suffix); every
    ``mutant_every``-th row also gets a 1-deletion mutant at id + n."""
    key = F.concat_ws(
        "-",
        _pick(FUZZY_WORDS, F.lit("a"), F.col("id")),
        _pick(FUZZY_WORDS, F.lit("b"), F.col("id")),
        _hash(997, F.lit("n"), F.col("id")).cast("string"),
    )
    base = spark.range(0, n, 1, partitions).select(F.col("id").alias("doc_id"), key.alias("key"))
    mutants = base.where(F.col("doc_id") % mutant_every == 0).select(
        (F.col("doc_id") + n).alias("doc_id"), F.expr("substring(key, 2)").alias("key")
    )
    return base.unionByName(mutants)


# -- subjects ---------------------------------------------------------------


def _token_features(spark, n, partitions):
    from transmog_spark.pipeline import token_features

    return token_features(spark, n, salt_buckets=0, partitions=partitions)


def _pack_concat(spark, n, partitions):
    from transmog_spark.operators.packing import pack_concat
    from transmog_spark.sources import synth

    seqs = synth.sequences(spark, n, partitions=partitions).select("doc_id", "source", "n_tok")
    return pack_concat(seqs, budget=2048, hash_blocks=max(n // 8192, 16))


def _bpe(docs):
    from transmog_spark.operators.bpe import bpe_tokenize, seed_merges

    return bpe_tokenize(docs, list(seed_merges()))


def _cooc(hashed_wire):
    def build(docs):
        from transmog_spark.operators.cooc import cooc_pairs

        return cooc_pairs(docs, window=2, min_count=2, k=100, hashed_wire=hashed_wire)

    return build


def _fuzzy(keys):
    from transmog_spark.operators.editsim import fuzzy_pairs

    return fuzzy_pairs(keys, "doc_id", "key", max_dist=1)


def _lines(docs):
    from transmog_spark.operators.lines import strip_duplicated_lines

    return strip_duplicated_lines(docs, min_count=2, min_chars=4)


def _nb(docs):
    from transmog_spark.operators.nb import nb_classify

    return nb_classify(docs)


def _spans(docs):
    from transmog_spark.operators.spans import strip_duplicate_spans

    return strip_duplicate_spans(docs, n=8, min_count=2)


@dataclass(frozen=True)
class Subject:
    name: str
    about: str
    unit: str  # what the throughput counts: seq, docs or rows
    docs: int  # default size
    # (spark, n, partitions) -> frame without a corpus; input -> frame with one
    op: Callable[..., DataFrame]
    corpus: Callable[..., DataFrame] | None = None  # (spark, n, partitions, **shape)
    shape: dict = field(default_factory=dict)

    def cache_path(self, n: int, partitions: int) -> str:
        shape = "_".join(f"{k}{v}" for k, v in sorted(self.shape.items()))
        return os.path.join(CACHE, f"{self.name}_{n}_{partitions}_{shape}")

    def build(self, spark, n: int, partitions: int) -> DataFrame:
        """The timed frame; a corpus is written once per cache key."""
        if self.corpus is None:
            return self.op(spark, n, partitions)
        path = self.cache_path(n, partitions)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            frame = self.corpus(spark, n, partitions, **self.shape)
            frame.write.mode("overwrite").parquet(path)
        return self.op(spark.read.parquet(path))


SUBJECTS = {s.name: s for s in (
    Subject(
        "token_features",
        "flatten -> as-of join -> sessionize -> lag/lead over tokenized sequences",
        "seq", 8_000_000, _token_features,
    ),
    Subject(
        "pack_concat",
        "two-level prefix-sum packing, budget 2048, skewed-source sequences",
        "docs", 20_000_000, _pack_concat,
    ),
    Subject(
        "bpe", "bpe_tokenize: Arrow pandas-UDF encode, map-only",
        "docs", 1_000_000, _bpe, bpe_docs, {"words": 40, "pool": 66},
    ),
    Subject(
        "cooc", "cooc_pairs window=2: string pair-count shuffle, broadcast scoring",
        "docs", 2_000_000, _cooc(False), cooc_docs, {"words": 32},
    ),
    Subject(
        "cooc_hashed", "cooc_pairs window=2, hashed_wire: 8-byte pair keys on the shuffle",
        "docs", 2_000_000, _cooc(True), cooc_docs, {"words": 32},
    ),
    Subject(
        "fuzzy", "fuzzy_pairs d=1: PassJoin block-key self-join + levenshtein verify",
        "rows", 2_000_000, _fuzzy, fuzzy_keys, {"mutant_every": 8},
    ),
    Subject(
        "lines", "strip_duplicated_lines: line-hash count, flag join, per-doc filter",
        "docs", 2_000_000, _lines, lines_docs, {"lines": 12, "words": 8},
    ),
    Subject(
        "nb", "nb_classify fused self-train: token shuffle, vocab join, argmax window",
        "docs", 2_000_000, _nb, nb_docs, {"classes": 8, "words": 32},
    ),
    Subject(
        "spans", "strip_duplicate_spans n=8: gram-hash count, flag join, island merge",
        "docs", 1_000_000, _spans, spans_docs, {"words": 60},
    ),
)}


# -- harness ----------------------------------------------------------------


def levels(cpus: int) -> tuple[int, int]:
    """The N and 4N parallelism levels for ``cpus`` usable CPUs."""
    if cpus < 4:
        raise SystemExit(
            f"scale_bench needs at least 4 CPUs for an N-vs-4N pair; this process has {cpus}"
        )
    return cpus // 4, cpus


def efficiency(lo: dict, hi: dict, unit: str) -> float:
    if lo["cpus"] == hi["cpus"]:
        raise ValueError(f"efficiency needs two distinct levels, got local[{lo['cpus']}] twice")
    key = f"{unit}_per_sec"
    return (hi[key] / lo[key]) / (hi["cpus"] / lo["cpus"])


def noop_walls(frame: DataFrame, runs: int) -> list[float]:
    """Wall seconds of ``runs`` executions of one plan into the noop sink."""
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return walls


def child(name: str, cpus: int, n: int) -> None:
    from transmog_spark.session import get_spark

    subject = SUBJECTS[name]
    spark = get_spark(f"local[{cpus}]", shuffle_partitions=PARTITIONS)
    walls = noop_walls(subject.build(spark, n, PARTITIONS), RUNS)
    best = min(walls)
    print(json.dumps({
        "cpus": cpus,
        "walls_sec": [round(w, 3) for w in walls],
        "best_sec": round(best, 3),
        f"{subject.unit}_per_sec": round(n / best, 1),
    }))


def run_child(name: str, cpus: int, n: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", name, str(cpus), str(n)],
        capture_output=True, text=True, cwd=REPO,
    )
    results = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not results:
        raise RuntimeError(
            f"{name} child local[{cpus}] printed no result (exit {proc.returncode}); "
            f"stderr tail:\n{proc.stderr[-2000:]}"
        )
    return json.loads(results[-1])


def markdown(name: str, summary: dict) -> str:
    unit = summary["unit"]
    lo, hi = summary["levels"].values()
    rows = [
        f"# {name} scaling (local[{lo['cpus']}] vs local[{hi['cpus']}], "
        f"{summary['host_cpus']} host CPUs)",
        "",
        f"{summary['about']}; {summary['docs']:,} {unit}, {PARTITIONS} partitions, "
        f"best of {ROUNDS} interleaved fresh-JVM rounds x {RUNS} executions.",
        "",
        f"| level | best wall (s) | {unit}/s |",
        "|---|---|---|",
        *(f"| local[{r['cpus']}] | {r['best_sec']} | {r[f'{unit}_per_sec']:,} |" for r in (lo, hi)),
        "",
        f"**Scaling efficiency {lo['cpus']}->{hi['cpus']}: {summary['efficiency']:.3f}**",
    ]
    return "\n".join(rows)


def main(argv: list[str]) -> None:
    if argv[:1] == ["--child"]:
        child(argv[1], int(argv[2]), int(argv[3]))
        return
    ap = argparse.ArgumentParser(description="N-vs-4N scaling efficiency of one subject.")
    ap.add_argument("subject", choices=SUBJECTS)
    ap.add_argument("--docs", type=int, help="input size (default: the subject's own)")
    args = ap.parse_args(argv)
    subject = SUBJECTS[args.subject]
    n = args.docs or subject.docs
    host_cpus = len(os.sched_getaffinity(0))
    pair = levels(host_cpus)

    best: dict[int, dict] = {}
    for r in range(ROUNDS):
        for cpus in pair:
            rec = run_child(args.subject, cpus, n)
            print(f"round {r + 1} local[{cpus}]: {rec}", file=sys.stderr)
            if cpus not in best or rec["best_sec"] < best[cpus]["best_sec"]:
                best[cpus] = rec

    lo, hi = (best[c] for c in pair)
    summary = {
        "subject": args.subject,
        "about": subject.about,
        "unit": subject.unit,
        "docs": n,
        "partitions": PARTITIONS,
        "host_cpus": host_cpus,
        "levels": {str(c): best[c] for c in pair},
        "efficiency": round(efficiency(lo, hi, subject.unit), 3),
        "generated": datetime.now(timezone.utc).isoformat(),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", f"{args.subject}_scaling.json"), "w") as fh:
        json.dump(summary, fh, indent=2)
    print(markdown(args.subject, summary))


if __name__ == "__main__":
    main(sys.argv[1:])
