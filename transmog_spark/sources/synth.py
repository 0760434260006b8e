"""Deterministic synthetic north-rule tables (FIXTURES.md §B).

Everything derives from ``spark.range`` + hash expressions — generated
*distributed* (no driver-side materialization, so the same generator works
at 10^12 rows on a cluster) and *deterministic* (pure functions of the row
id and a seed literal; no wall-clock, no RNG state).

Tables:
* ``sequences``      — (doc_id, tokens:array<int>, n_tok:int, source, ts)
                       with a zipf-ish skew: one hot source holds ~50% of
                       rows to exercise salting / AQE skew handling.
* ``sequence_meta``  — hierarchical metadata (struct + revisions array) to
                       exercise the flatten family on B-shaped data.
* ``feature_events`` — as-of join right side (doc_id, ts, feature_v, source).
* ``query_points``   — as-of join left side (doc_id, ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transmog_spark.artifacts import memoized_plan

EPOCH = "2024-01-01 00:00:00"  # fixed basis; no wall-clock (determinism)
EPOCH_S = 1704067200  # unix seconds of EPOCH (UTC session) — mirrored in SQL


def _h(seed: str, *cols, mode: str = "xxhash") -> F.Column:
    """Non-negative deterministic hash of (seed, *cols).

    ``xxhash`` (default): 63-bit, codegen'd, the cheap scale path.
    ``md5``: the 60-bit cross-engine hash (functions.hashing.md5_long over
    ``seed|col|col…``) — bit-reproducible in DuckDB, so an oracle can
    regenerate the synthetic tables in pure SQL (oracle.token_pipeline_sql).
    """
    if mode == "md5":
        from transmog_spark.functions.hashing import md5_long

        return md5_long(F.concat_ws("|", F.lit(seed), *[c.cast("string") for c in cols]))
    return F.abs(F.xxhash64(F.lit(seed), *cols))


# sequences()/sequence_meta() are prepared-plan memos (the
# pipeline.token_features posture): the generator tree re-derives
# identically per call; every execution regenerates rows from spark.range.
@memoized_plan
def sequences(
    spark: SparkSession,
    n_docs: int,
    *,
    vocab: int = 50_000,
    min_len: int = 8,
    max_len: int = 64,
    n_sources: int = 20,
    hot_share: float = 0.5,
    seed: str = "tmg",
    partitions: int | None = None,
    hash_mode: str = "xxhash",
) -> DataFrame:
    df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    def h(s, *c):
        return _h(s, *c, mode=hash_mode)
    span = max_len - min_len + 1
    doc_id = F.format_string("doc%012d", F.col("id"))
    hot = (h(seed + ":src", F.col("id")) % 1000) < int(hot_share * 1000)
    source = F.when(hot, F.lit("src_hot")).otherwise(
        F.format_string("src_%02d", (h(seed + ":srcn", F.col("id")) % n_sources).cast("int"))
    )
    n_tok = (min_len + (h(seed + ":len", F.col("id")) % span)).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda i: (h(seed + ":tok", F.col("id"), i) % vocab).cast("int"),
    )
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(EPOCH)) + (h(seed + ":ts", F.col("id")) % (86400 * 30))
    )
    return df.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
        ts.alias("ts"),
    )


@memoized_plan
def sequence_meta(
    spark: SparkSession,
    n_docs: int,
    *,
    n_revisions: int = 3,
    seed: str = "tmg",
    partitions: int | None = None,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """Nested metadata per doc: struct<lang, quality, revisions:array<struct>>."""
    df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    def h(s, *c):
        return _h(s, *c, mode=hash_mode)
    doc_id = F.format_string("doc%012d", F.col("id"))
    langs = ["en", "de", "fr", "es", "zh"]
    lang = F.element_at(
        F.array(*[F.lit(x) for x in langs]),
        ((h(seed + ":lang", F.col("id")) % len(langs)) + 1).cast("int"),
    )
    quality = (h(seed + ":q", F.col("id")) % 1000).cast("double") / 1000.0
    n_rev = (1 + (h(seed + ":nrev", F.col("id")) % n_revisions)).cast("int")
    revisions = F.transform(
        F.sequence(F.lit(1), n_rev),
        lambda r: F.struct(
            r.cast("int").alias("rev"),
            F.format_string(
                "editor_%02d", (h(seed + ":ed", F.col("id"), r) % 10).cast("int")
            ).alias("editor"),
            F.timestamp_seconds(
                F.unix_timestamp(F.lit(EPOCH))
                + (h(seed + ":rts", F.col("id"), r) % (86400 * 30))
            ).alias("ts"),
            (8 + (h(seed + ":rnt", F.col("id"), r) % 57)).cast("int").alias("n_tok"),
        ),
    )
    hot = (h(seed + ":src", F.col("id")) % 1000) < 500
    source = F.when(hot, F.lit("src_hot")).otherwise(
        F.format_string("src_%02d", (h(seed + ":srcn", F.col("id")) % 20).cast("int"))
    )
    return df.select(
        doc_id.alias("doc_id"),
        source.alias("source"),
        F.struct(lang.alias("lang"), quality.alias("quality"), revisions.alias("revisions")).alias(
            "meta"
        ),
    )


def feature_events(
    spark: SparkSession,
    n_docs: int,
    *,
    events_per_doc: int = 4,
    seed: str = "tmg",
    partitions: int | None = None,
    hash_mode: str = "xxhash",
) -> DataFrame:
    n = n_docs * events_per_doc
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    def h(s, *c):
        return _h(s, *c, mode=hash_mode)
    doc = (F.col("id") % n_docs).cast("long")
    doc_id = F.format_string("doc%012d", doc)
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(EPOCH)) + (h(seed + ":fts", F.col("id")) % (86400 * 30))
    )
    feature_v = (h(seed + ":fv", F.col("id")) % 100000).cast("double") / 1000.0
    hot = (h(seed + ":src", doc) % 1000) < 500
    source = F.when(hot, F.lit("src_hot")).otherwise(
        F.format_string("src_%02d", (h(seed + ":srcn", doc) % 20).cast("int"))
    )
    return df.select(
        doc_id.alias("doc_id"), ts.alias("ts"), feature_v.alias("feature_v"), source.alias("source")
    )


def query_points(
    spark: SparkSession,
    n_docs: int,
    *,
    queries_per_doc: int = 2,
    seed: str = "tmg",
    partitions: int | None = None,
    hash_mode: str = "xxhash",
) -> DataFrame:
    n = n_docs * queries_per_doc
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    def h(s, *c):
        return _h(s, *c, mode=hash_mode)
    doc = (F.col("id") % n_docs).cast("long")
    return df.select(
        F.format_string("doc%012d", doc).alias("doc_id"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(EPOCH)) + (h(seed + ":qts", F.col("id")) % (86400 * 30))
        ).alias("ts"),
    )
