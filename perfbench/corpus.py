"""Seeded document corpus with planted exact and near duplicates.

Rows come from ``spark.range`` plus hash expressions, so generation is
distributed and a pure function of (seed, size). Word ids follow a
log-uniform (Zipf-like) law over the vocabulary, so common words and
common shingles recur across unrelated documents, as in real text.

Layout by row id, so the min-id member of every duplicate cluster is the
original and the truth is known without running any dedup code:

* ``[0, n_orig)``            originals;
* ``[n_orig, n_orig+n_exact)`` byte-identical copies of a hashed original;
* the rest                  near copies: a hashed original with each word
  replaced at one of ``MUTATION_PERMILLE`` rates.

The truth table records every planted copy with its word 3-shingle Jaccard
to its original, computed here from the word arrays (independently of the
library's shingling).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Per-word replacement rates (per mille) of near copies, picked per copy;
# with ~170 words they span 3-shingle Jaccard ~0.95 down to ~0.6.
MUTATION_PERMILLE = (10, 20, 40, 80)
#: shares of the corpus that are byte-identical and near copies
EXACT_SHARE = 0.05
NEAR_SHARE = 0.10
VOCAB = 20_000
MIN_WORDS, MAX_WORDS = 120, 220
#: share of docs in the hot source; the rest spread over N_SOURCES others
N_SOURCES = 12
HOT_SHARE = 0.4
#: doc id of row i: zero-padded, so string order is row order
ID_FORMAT = "d%08d"


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    seed: int

    @property
    def n_exact(self) -> int:
        return int(self.n_docs * EXACT_SHARE)

    @property
    def n_near(self) -> int:
        return int(self.n_docs * NEAR_SHARE)

    @property
    def n_orig(self) -> int:
        return self.n_docs - self.n_exact - self.n_near


def _h(seed: str, *cols) -> F.Column:
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _words(spec: CorpusSpec, doc: F.Column) -> F.Column:
    """array<string> of the original document ``doc``'s words."""
    s = f"c{spec.seed}"
    span = MAX_WORDS - MIN_WORDS + 1
    n = MIN_WORDS + (_h(s + ":len", doc) % span)
    log_v = math.log(VOCAB)

    def word(j):
        u = (_h(s + ":w", doc, j) % 1_000_000).cast("double") / 1_000_000.0
        return F.concat(F.lit("w"), F.floor(F.exp(u * F.lit(log_v))).cast("string"))

    return F.transform(F.sequence(F.lit(1), n.cast("int")), word)


def _shingles(words: F.Column) -> F.Column:
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 3),
            lambda j: F.concat_ws(" ", words[j], words[j + 1], words[j + 2]),
        )
    )


def generate(spark: SparkSession, spec: CorpusSpec) -> tuple[DataFrame, DataFrame]:
    """(docs, truth) frames.

    docs: (doc_id, text, n_tok, source); truth: (doc_id, src_id, kind,
    jaccard) for every planted copy.
    """
    s = f"c{spec.seed}"
    rid = F.col("id")
    n_orig, first_near = spec.n_orig, spec.n_orig + spec.n_exact
    src = F.when(rid < n_orig, rid).otherwise(_h(s + ":src", rid) % n_orig)
    kind = (
        F.when(rid < n_orig, F.lit("orig"))
        .when(rid < first_near, F.lit("exact"))
        .otherwise(F.lit("near"))
    )
    rates = F.array(*[F.lit(r) for r in MUTATION_PERMILLE])
    rate = F.element_at(rates, (_h(s + ":rate", rid) % len(MUTATION_PERMILLE) + 1).cast("int"))
    base = spark.range(0, spec.n_docs, 1, spark.sparkContext.defaultParallelism).select(
        rid, src.alias("src"), kind.alias("kind"), rate.alias("rate")
    )
    orig_words = _words(spec, F.col("src"))

    def mutate(w, j):
        hit = (_h(s + ":mut", F.col("id"), j) % 1000) < F.col("rate")
        fresh = F.concat(F.lit("x"), (_h(s + ":new", F.col("id"), j) % VOCAB).cast("string"))
        return F.when((F.col("kind") == "near") & hit, fresh).otherwise(w)

    hot = (_h(s + ":hot", rid) % 1000) < int(HOT_SHARE * 1000)
    source = F.when(hot, F.lit("s_hot")).otherwise(
        F.format_string("s_%02d", (_h(s + ":srcn", rid) % N_SOURCES).cast("int"))
    )
    rows = base.select(
        F.format_string(ID_FORMAT, rid).alias("doc_id"),
        F.format_string(ID_FORMAT, F.col("src")).alias("src_id"),
        "kind",
        orig_words.alias("orig"),
        F.transform(orig_words, mutate).alias("words"),
        source.alias("source"),
    )
    docs = rows.select(
        "doc_id",
        F.concat_ws(" ", "words").alias("text"),
        F.size("words").alias("n_tok"),
        "source",
    )
    a, b = _shingles(F.col("words")), _shingles(F.col("orig"))
    truth = rows.where(F.col("kind") != "orig").select(
        "doc_id",
        "src_id",
        "kind",
        (F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))).alias("jaccard"),
    )
    return docs, truth
