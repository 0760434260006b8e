"""Corpus-level statistics and selection operators for training-data curation.

Beyond the reference's flatten surface: the operations a 100 TB LLM-data
pipeline runs between ingestion and training — relevance scoring (BM25 /
TF-IDF), deterministic sampling for data mixing, and distribution profiling.
All pure Column expressions + built-in aggregations; every score is
mirrored 1:1 in DuckDB (transmog_spark.oracle) for the driver's value gate.

Scale shapes:
* ``bm25_scores``: explode once -> two partial-agg groupBys (doc×term,
  term) -> one term-keyed join; global scalars (N, avgdl) ride along as a
  broadcast single-row frame, never a driver action.
* ``hash_sample``: stateless per-row predicate on a seeded 60-bit hash —
  no shuffle, reproducible across runs/engines, stable under repartition.
* ``source_percentiles``: exact interpolated percentiles via
  ``F.percentile`` (single shuffle, map-side partials).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transmog_spark.functions.hashing import md5_long
from transmog_spark.operators.text import ws_tokens

BM25_K1 = 1.5
BM25_B = 0.75


def bm25_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per (doc, term) BM25 relevance scores over whitespace tokens.

    idf = ln((N - df + 0.5) / (df + 0.5) + 1)   (BM25+ smoothing, always >0)
    score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    The expression shape is kept identical to oracle.bm25_sql so both
    engines evaluate the same IEEE operation sequence.
    """
    base = df.select(F.col(id_col).alias("doc_id"), ws_tokens(F.col(text_col)).alias("__t"))
    # explode_outer + isNotNull(term): skips the inferred generate filter
    # (scan-side re-tokenization); uniform on the shared frame so the
    # tf/df ReuseExchange branches stay canonically equal
    exploded = base.select(
        "doc_id", F.size("__t").alias("dl"), F.explode_outer("__t").alias("term")
    ).where(F.col("term").isNotNull())
    tf = exploded.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df = count of tf rows per term, written as sum(tf > 0) so the branch
    # REFERENCES the tf value: a plain count(1) lets Catalyst elide the
    # count from this branch's inner aggregate, the partial-agg subtrees
    # stop being canonically equal, and ReuseExchange re-scans the corpus
    # for the document frequencies instead of reusing the tf shuffle
    # (1 corpus scan for tf+df, pinned in tests/test_plan_quality.py)
    dfreq = tf.groupBy("term").agg(
        F.sum(F.when(F.col("tf") > 0, 1).otherwise(0)).cast("long").alias("df")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("__t")).alias("avgdl")
    )
    joined = tf.join(dfreq, "term").crossJoin(F.broadcast(stats))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    score = idf * (F.col("tf") * (k1 + 1.0)) / denom
    return joined.select(
        "doc_id", "term", "tf", F.round(score, 4).alias("bm25")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k document retrieval for a term query: per-doc relevance is the
    sum of the query terms' BM25 scores (missing terms contribute 0).

    The per-doc sum uses exact scaled-integer arithmetic
    (``sum(round(bm25·1e4))``) so the score is independent of addition
    order — floating-point summation order would otherwise flip ranks
    between engines at the round(·,4) boundary.

    Scale shape: the per-(doc, term) score frame is filtered to the query's
    terms BEFORE any aggregation (a handful of keys), the per-doc sum is
    map-side combined, and the global top-k is ``orderBy().limit(k)`` — a
    TakeOrdered (per-partition top-k + driver merge of k rows), never a
    whole-corpus single-partition ranking window; ``rank`` is then a window
    over only the k collected rows.
    """
    terms = sorted({t.lower() for t in query_terms})
    scores = bm25_scores(df, id_col, text_col, k1=k1, b=b)
    hits = scores.where(F.col("term").isin(terms))
    return _topk_from_hits(hits, k)


def _topk_from_hits(hits: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail: exact scaled-integer per-doc score sum (addition-
    order independent), TakeOrdered global top-k, rank window over k rows."""
    per_doc = hits.groupBy("doc_id").agg(
        (
            F.sum(F.round(F.col("bm25") * 10000).cast("long")).cast("double") / 10000.0
        ).alias("score"),
        F.count(F.lit(1)).alias("terms_matched"),
    )
    topk = per_doc.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", F.round("score", 4).alias("score"), "terms_matched", "rank"
    )


def _term_bucket_py(term: str, term_buckets: int) -> int:
    """Driver-side twin of the index's term_bucket column: 60-bit md5
    (functions.hashing.md5_long formula) mod term_buckets — lets the query
    side compute which partitions to prune to without any Spark job."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % term_buckets


def _bm25_postings(
    df: DataFrame, id_col: str, text_col: str, term_buckets: int
) -> DataFrame:
    """(doc_id, dl, term, tf, term_bucket) — the per-document facts of the
    index. tf and dl never change when OTHER documents arrive, which is
    what makes the index incrementally updatable."""
    base = df.select(
        F.col(id_col).alias("doc_id"), ws_tokens(F.col(text_col)).alias("__t")
    )
    exploded = base.select(
        "doc_id", F.size("__t").alias("dl"), F.explode_outer("__t").alias("term")
    ).where(F.col("term").isNotNull())
    return (
        exploded.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "term_bucket", (md5_long(F.col("term")) % term_buckets).cast("int")
        )
    )


def _bm25_delta_stats(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[int, int, int]:
    """(n_docs, sum_dl, n_texts) of a frame — exact integers. n_docs counts
    every row (``bm25_scores``' count(1)); avg(size) skips NULL-text rows,
    so the avgdl denominator is the separate non-null count n_texts."""
    row = df.select(ws_tokens(F.col(text_col)).alias("__t")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("__t")).alias("s"),
        F.count("__t").alias("nt"),
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0), int(row["nt"])


def bm25_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k1: float = BM25_K1,
    b: float = BM25_B,
    term_buckets: int = 64,
) -> str:
    """Materialize a persistent, term-partitioned, INCREMENTALLY UPDATABLE
    BM25 retrieval index.

    ``bm25_topk`` recomputes tf/df/avgdl from raw text on every query; a
    production retrieval surface pays that corpus scan ONCE and answers
    queries from the index. Layout (v2):

    * ``<path>/postings/`` — (doc_id, dl, term, tf) partitioned by
      ``term_bucket = md5_long(term) % term_buckets``. Per-DOCUMENT facts:
      immutable once written, so a corpus delta only APPENDS files.
    * ``<path>/termdf/`` — (term, df) under the same bucket partitioning:
      the per-term document frequencies, rewritten per touched bucket on
      update (``overwrite_partitions``) — vocabulary-sized, never
      corpus-sized.
    * ``<path>/_bm25_index_meta.json`` — term_buckets/k1/b plus the two
      exact global counters (n_docs, sum_dl).

    Scores are computed AT READ TIME from (tf, dl, df, n_docs, sum_dl) —
    all exact integers — which is why an index built in increments is
    bit-identical to a full rebuild: BM25's global terms (idf, avgdl)
    depend on every document, so a materialized per-row score would go
    stale corpus-wide on ANY delta, while the factored form stays exact
    and the per-query math is a handful of Column ops over the pruned
    partitions. (Hash buckets rather than raw-term partitions keep the
    directory count fixed; the bucket hash is the engine's 60-bit md5 so
    the query side computes bucket ids driver-side in pure Python,
    ``_term_bucket_py``, with zero Spark work.)
    """
    import json
    import os

    postings = _bm25_postings(df, id_col, text_col, term_buckets)
    postings.write.partitionBy("term_bucket").mode("overwrite").parquet(
        os.path.join(path, "postings")
    )
    termdf = postings.groupBy("term_bucket", "term").agg(
        F.count(F.lit(1)).alias("df")
    )
    termdf.write.partitionBy("term_bucket").mode("overwrite").parquet(
        os.path.join(path, "termdf")
    )
    n_docs, sum_dl, n_texts = _bm25_delta_stats(df, id_col, text_col)
    meta = {
        "version": 2,
        "term_buckets": term_buckets,
        "k1": k1,
        "b": b,
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "n_texts": n_texts,
    }
    with open(os.path.join(path, "_bm25_index_meta.json"), "w") as fh:
        json.dump(meta, fh)
    return path


def bm25_index_update(
    spark,
    delta: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Fold a document DELTA into an existing index at cost ∝ |delta|, not
    |corpus|: append the delta's postings files into their term_buckets,
    rewrite ONLY the touched buckets of the (vocabulary-sized) termdf
    table via dynamic partition overwrite, and bump the two meta counters.
    The result is bit-identical to rebuilding from scratch on the union
    corpus (pinned by tests/test_corpus.py) because scoring happens at
    read time from the exact integer counters.

    Contract: delta doc_ids must be NEW documents (append-only corpus) —
    re-submitting an already-indexed doc double-counts it, exactly as it
    would in a full rebuild over a duplicated input.
    """
    import json
    import os

    from transmog_spark.sources.tables import write_table

    meta_path = os.path.join(index_path, "_bm25_index_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    if meta.get("version") != 2:
        raise ValueError(f"not a v2 incremental index: {index_path}")
    term_buckets = meta["term_buckets"]

    postings = _bm25_postings(delta, id_col, text_col, term_buckets)
    postings.write.partitionBy("term_bucket").mode("append").parquet(
        os.path.join(index_path, "postings")
    )
    delta_df = postings.groupBy("term_bucket", "term").agg(
        F.count(F.lit(1)).alias("df")
    )
    touched = sorted(
        r["term_bucket"]
        for r in delta_df.select("term_bucket").distinct().collect()
    )
    old = (
        spark.read.parquet(os.path.join(index_path, "termdf"))
        .where(F.col("term_bucket").isin(touched))
        .select("term", F.col("df").alias("__df_old"))
    )
    merged = (
        delta_df.select("term", F.col("df").alias("__df_new"))
        .join(old, "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce("__df_old", F.lit(0)) + F.coalesce("__df_new", F.lit(0))
            ).alias("df"),
            (md5_long(F.col("term")) % term_buckets).cast("int").alias(
                "term_bucket"
            ),
        )
    )
    write_table(
        merged,
        os.path.join(index_path, "termdf"),
        mode="overwrite_partitions",
        partition_by=["term_bucket"],
    )
    dn, dsum, dnt = _bm25_delta_stats(delta, id_col, text_col)
    meta["n_docs"] += dn
    meta["sum_dl"] += dsum
    meta["n_texts"] += dnt
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)
    return index_path


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_terms: list[str],
    *,
    k: int = 10,
) -> DataFrame:
    """Top-k retrieval served FROM the materialized index: scans only the
    query terms' partitions of postings and termdf (partition pruning on
    ``term_bucket`` + pushed ``term IN (...)`` filter at both parquet
    scans — plan-pinned), broadcast-joins the (tiny) pruned df slice, and
    evaluates the exact ``bm25_scores`` formula per row — query latency is
    decoupled from corpus-stats recompute entirely, and the scores reflect
    every increment folded in so far.

    Identical output contract (and oracle) as ``bm25_topk`` over the same
    corpus.
    """
    import json
    import os

    with open(os.path.join(index_path, "_bm25_index_meta.json")) as fh:
        meta = json.load(fh)
    k1, b = meta["k1"], meta["b"]
    terms = sorted({t.lower() for t in query_terms})
    buckets = sorted({_term_bucket_py(t, meta["term_buckets"]) for t in terms})
    prune = lambda df: df.where(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
    )
    post = prune(spark.read.parquet(os.path.join(index_path, "postings")))
    tdf = prune(spark.read.parquet(os.path.join(index_path, "termdf")))
    joined = post.join(F.broadcast(tdf.select("term", "df")), "term")
    # EXACT bm25_scores mirror: same expression shape on the same types
    # (n_docs/df long, avgdl the same IEEE double a Spark avg() computes —
    # the integer sum is exact below 2^53, so sum/count here ≡ avg there)
    n_docs = F.lit(meta["n_docs"]).cast("long")
    # max(1, ·): an index built from an empty/all-null-text corpus has
    # n_texts == 0 (and no postings — the result is empty either way);
    # the guard keeps the query path from raising ZeroDivisionError until
    # a non-empty delta arrives. Non-degenerate stores are unaffected.
    avgdl = F.lit(meta["sum_dl"] / max(1, meta["n_texts"]))
    idf = F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    score = idf * (F.col("tf") * (k1 + 1.0)) / denom
    hits = joined.select("doc_id", "term", F.round(score, 4).alias("bm25"))
    return _topk_from_hits(hits, k)


def hash_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    fraction: float,
    seed: str = "smpl",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic hash sampling: keep rows whose seeded 60-bit md5 of the
    id lands under ``fraction`` of the bucket space.

    Unlike ``DataFrame.sample`` this is reproducible across runs, engines,
    partitionings, and cluster sizes — the property a training-data mix
    needs (re-running the pipeline must select the same documents).
    """
    threshold = int(fraction * buckets)
    h = md5_long(F.concat(F.lit(f"{seed}#"), F.col(id_col).cast("string")))
    return df.where((h % buckets) < threshold)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    *,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: str = "smpl",
    buckets: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic sampling (data mixing): each stratum keeps
    its own fraction, unlisted strata keep ``default_fraction``."""
    thr: F.Column = F.lit(int(default_fraction * buckets))
    for k, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == k, F.lit(int(frac * buckets))).otherwise(thr)
    h = md5_long(F.concat(F.lit(f"{seed}#"), F.col(id_col).cast("string")))
    return df.where((h % buckets) < thr)


def source_percentiles(
    df: DataFrame,
    strata_col: str = "source",
    value_col: str = "n_chars",
    *,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact interpolated percentiles per stratum (distribution profiling
    for corpus QA — spotting length collapse / outlier strata)."""
    aggs = [
        F.round(F.percentile(value_col, p), 4).alias(f"p{int(p * 100)}")
        for p in percentiles
    ]
    return df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"), *aggs
    )


def ngram_hashes(text: Column, n: int = 5) -> Column:
    """Distinct 60-bit hashes of word n-grams (decontamination unit)."""
    from transmog_spark.operators.dedup import word_shingles

    return F.transform(word_shingles(text, n), md5_long)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: word-n-gram overlap of each corpus doc
    against a held-out benchmark set.

    The canonical pre-training hygiene pass (GPT-3 §C / Gopher §A.5.2):
    any document sharing n-grams with an eval benchmark is flagged so the
    trainer can drop or downweight it. Scale shape: the benchmark side is
    tiny by construction (eval suites, not corpora) — its distinct n-gram
    hashes are broadcast; the corpus side is one explode + one map-side-
    combinable groupBy. No corpus shuffle keyed on anything wider than
    ``id_col``; 100 TB corpus cost = one pass + one agg.

    Output per corpus doc: ``n_ngrams`` (distinct n-grams), ``n_hit``
    (n-grams also present in the benchmark), ``contamination`` (hit
    fraction, rounded — stable across engines).
    """
    bench_grams = (
        benchmark.select(
            F.explode_outer(ngram_hashes(F.col(text_col), n)).alias("g")
        )
        .where(F.col("g").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.explode_outer(ngram_hashes(F.col(text_col), n)).alias("g")
    ).where(F.col("g").isNotNull())
    joined = corpus_grams.join(F.broadcast(bench_grams), "g", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(F.sum("hit"), F.lit(0)) / F.count(F.lit(1)), 4
        ).alias("contamination"),
    )


def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy benchmark decontamination: max per-item overlap of each corpus
    document against any SINGLE benchmark item.

    ``decontaminate`` scores aggregate n-gram overlap against the benchmark
    as a whole — the right gate for span contamination, but it dilutes: a
    long document that embeds one full eval example still scores a low
    overall hit fraction. The per-item fuzzy form (the Dolma/Llama-recipe
    decontamination measure: flag a training doc when it is a near-duplicate
    of an individual benchmark item) catches exactly that case.

    Candidates are ranked by CONTAINMENT — the fraction of the benchmark
    item's shingles present in the document (|A∩B| / |B|) — because Jaccard
    dilutes symmetrically: a 10k-token page that embeds a whole 30-token
    eval question verbatim has Jaccard ≈ 0.003 but containment 1.0, and it
    is exactly the doc a decontamination pass must flag. Jaccard is still
    reported (it distinguishes "contains the item" from "is the item").
    Per corpus doc: best-matching bench item (max containment, Jaccard then
    bench id as tie-breaks), its ``containment`` and ``jaccard``;
    ``contaminated`` = containment ≥ ``threshold``.

    Scale shape: the benchmark is tiny by contract (eval suites, not
    corpora) — its per-item shingle-hash rows and set sizes are BROADCAST.
    The corpus pays one shingle explode; candidate (corpus doc × bench item)
    pairs exist only where a shingle hash matches, counted by a map-side-
    combined groupBy on (corpus id, bench id); the per-doc argmax runs over
    those candidates only (row_number window — supports string ids, ties
    break to the smallest bench id). Non-overlapping docs never enter the
    candidate shuffle; a final left join from the skinny per-doc spine
    restores them with overlap 0. 100 TB corpus cost = one explode + one
    bounded candidate agg; nothing wider than (id, 8-byte hash) on the wire.

    Shingle semantics follow ``dedup.word_shingles`` (distinct word
    ``shingle_n``-grams; whole doc as one shingle when shorter), hashed with
    the DuckDB-parity 60-bit md5 so oracle candidates match bit-for-bit.
    """
    from pyspark.sql import Window

    from transmog_spark.operators.dedup import word_shingles

    def prep(df: DataFrame, tag: str) -> tuple[DataFrame, DataFrame]:
        sh = df.select(
            F.col(id_col).alias(tag), word_shingles(F.col(text_col), shingle_n).alias("__sh")
        )
        sizes = sh.select(tag, F.size("__sh").alias(f"{tag}_n"))
        # explode_outer + isNotNull: inner explode's inferred generate
        # filter would re-evaluate the shingle expression at the scan
        # (dedup.minhash_signatures note)
        grams = (
            sh.select(tag, F.explode_outer("__sh").alias("__s"))
            .where(F.col("__s").isNotNull())
            .select(tag, md5_long(F.col("__s")).alias("g"))
        )
        return grams, sizes

    corp_g, corp_sz = prep(corpus, "__cid")
    ben_g, ben_sz = prep(benchmark, "__bid")

    inter = (
        corp_g.join(F.broadcast(ben_g), "g")
        .groupBy("__cid", "__bid")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    jac = (
        inter.join(F.broadcast(ben_sz), "__bid")
        .join(corp_sz, "__cid")
        .withColumn(
            "__cont",
            F.round(F.col("__i").cast("double") / F.col("__bid_n"), 4),
        )
        .withColumn(
            "__j",
            F.round(
                F.col("__i").cast("double")
                / (F.col("__cid_n") + F.col("__bid_n") - F.col("__i")),
                4,
            ),
        )
    )
    w = Window.partitionBy("__cid").orderBy(
        F.col("__cont").desc(), F.col("__j").desc(), F.col("__bid").asc()
    )
    best = (
        jac.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("__cid", "__bid", "__cont", "__j")
    )
    cont = F.coalesce(F.col("__cont"), F.lit(0.0))
    return corp_sz.join(best, "__cid", "left").select(
        F.col("__cid").alias(id_col),
        F.col("__cid_n").cast("long").alias("n_shingles"),
        F.col("__bid").cast("long").alias("bench_id"),
        cont.alias("containment"),
        F.coalesce(F.col("__j"), F.lit(0.0)).alias("jaccard"),
        (cont >= F.lit(threshold)).cast("int").alias("contaminated"),
    )


def epoch_mixture(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    *,
    weights: dict[str, float],
    default_weight: float = 1.0,
    seed: str = "mix",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Epoch-weighted training mixture: replicate/subsample each stratum by
    a fractional weight.

    Weight ``w`` means every document appears ``floor(w)`` times, and a
    deterministic ``frac(w)`` share of documents (chosen by seeded hash,
    stable across runs/engines/partitionings) appears once more — the
    standard fractional-epoch semantics of pre-training data mixes
    (w=2.5: every doc twice, half the docs a third time; w=0.3: 30% of
    docs once). Adds ``epoch`` (0-based copy index).

    Scale shape: stateless per-row expression + explode — no shuffle, no
    driver state; replication multiplies rows exactly where the mix says,
    never materializing an intermediate copy of the corpus.
    """
    base: F.Column = F.lit(int(default_weight))
    thr: F.Column = F.lit(int(round((default_weight - int(default_weight)) * buckets)))
    for k, w in sorted(weights.items()):
        if w < 0:
            raise ValueError(f"negative weight for {k!r}")
        is_k = F.col(strata_col) == k
        base = F.when(is_k, F.lit(int(w))).otherwise(base)
        thr = F.when(is_k, F.lit(int(round((w - int(w)) * buckets)))).otherwise(thr)
    h = md5_long(F.concat(F.lit(f"{seed}#"), F.col(id_col).cast("string"))) % buckets
    n_copies = (base + F.when(h < thr, 1).otherwise(0)).cast("int")
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn("epoch", F.explode(copies))


def alpha_mixture_weights(
    df: DataFrame,
    strata_col: str = "source",
    *,
    alpha: float = 0.3,
    budget_factor: float = 1.0,
) -> DataFrame:
    """Temperature-scaled mixture weights from natural source shares — the
    multilingual α-sampling rule (mT5 §3.2, XLM-R): sample stratum ``s``
    with probability ``q_s ∝ p_s^α`` where ``p_s`` is its natural share.
    α = 1 keeps the natural mix, α → 0 approaches uniform; 0.3 is the mT5
    default that upweights tail sources without drowning the head.

    Returns one row per stratum: (``strata_col``, n_docs, p_nat, q_target,
    weight) where ``weight = budget_factor · q_s / p_s`` is the fractional
    epoch multiplier that realizes the target mix — feed it straight into
    ``epoch_mixture`` (Σ n_s·weight_s = budget_factor · N in expectation,
    so the default preserves corpus size while reshaping shares).

    ``N^α`` cancels in ``q_s = n_s^α / Σ n_t^α``, so everything is exact
    integer counts plus one pow per stratum. Scale shape: one map-side-
    combined count per stratum, totals broadcast back as a single-row
    frame — no driver action, no shuffle beyond the |strata|-row agg.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_docs"))
    powa = F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    scored = counts.withColumn("__powa", powa)
    totals = scored.agg(
        F.sum("n_docs").alias("__n"), F.sum("__powa").alias("__s")
    )
    return (
        scored.crossJoin(F.broadcast(totals))
        .select(
            strata_col,
            "n_docs",
            F.round(F.col("n_docs") / F.col("__n"), 6).alias("p_nat"),
            F.round(F.col("__powa") / F.col("__s"), 6).alias("q_target"),
            F.round(
                F.lit(float(budget_factor))
                * F.col("__powa")
                * F.col("__n")
                / (F.col("__s") * F.col("n_docs")),
                6,
            ).alias("weight"),
        )
    )


def alpha_mixture(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    *,
    alpha: float = 0.3,
    budget_factor: float = 1.0,
    seed: str = "mix",
) -> DataFrame:
    """Apply the α-sampling mix: derive per-stratum weights with
    ``alpha_mixture_weights`` and replicate/subsample via
    ``epoch_mixture``'s fractional-epoch semantics.

    The weights frame is |strata| rows by construction — the one driver
    collect here is bounded by the number of sources in the corpus, the
    same contract as every mixture table in this family.
    """
    w = {
        r[strata_col]: float(r["weight"])
        for r in alpha_mixture_weights(
            df, strata_col, alpha=alpha, budget_factor=budget_factor
        ).collect()
    }
    return epoch_mixture(
        df, strata_col, id_col, weights=w, default_weight=0.0, seed=seed
    )


def vocab_stats(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level vocabulary statistics per stratum: token volume,
    distinct vocabulary size, type-token ratio, and the share of the single
    most frequent token — the corpus-QA counterparts of the per-document
    repetition profile (a collapsing TTR or a spiking top-token share flags
    template spam or a broken extractor upstream).

    Scale shape: one explode -> groupBy (stratum, token_hash) with map-side
    combine -> one per-stratum pivot; 8-byte hashes on the wire, never
    token strings. Same 60-bit md5 as the DuckDB oracle.
    """
    from transmog_spark.operators.text import ws_tokens

    toks = df.select(
        F.col(strata_col),
        F.explode_outer(ws_tokens(F.col(text_col))).alias("t"),
    ).where(F.col("t").isNotNull()).select(
        strata_col, md5_long(F.col("t")).alias("th")
    )
    cnt = toks.groupBy(strata_col, "th").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    return cnt.groupBy(strata_col).agg(
        total.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.round(F.count(F.lit(1)) / total, 4).alias("type_token_ratio"),
        F.round(F.max("c") / total, 4).alias("top_token_share"),
    )


def training_order(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    n_shards: int = 4,
    seed: str = "",
    ntok_col: str | None = None,
) -> DataFrame:
    """Deterministic global training order + shard assignment.

    Every training run needs the corpus in a reproducible pseudo-random
    order, split into shards a data loader can consume independently. The
    permutation key is md5(seed # id) — changing ``seed`` reshuffles,
    same seed replays bit-identically on any cluster size or engine (no
    RNG state, no partition-order dependence). shard = key mod
    ``n_shards``; shard_pos = 0-based rank of the key inside the shard.
    With ``ntok_col``, also passes the count through as ``n_tok`` and
    emits ``tok_offset`` — the exclusive running token total before each
    row in its shard — so a loader can seek into packed shard files
    without scanning.

    Scale shape: one hash shuffle on shard + a per-shard sort (the
    row_number window). A global permutation cannot cost less than one
    sort of the keys; sharding bounds each sort to corpus/n_shards rows —
    ``n_shards`` is the scale knob (pick >= cluster write parallelism).
    No driver actions; 8-byte keys.
    """
    from pyspark.sql import Window

    key = md5_long(F.concat(F.lit(f"{seed}#"), F.col(id_col).cast("string")))
    out = df.withColumn("__key", key).withColumn(
        "shard", F.pmod(F.col("__key"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy(F.col("__key").asc(), F.col(id_col).asc())
    cols = [
        F.col(id_col),
        F.col("shard"),
        (F.row_number().over(w) - 1).alias("shard_pos"),
    ]
    if ntok_col is not None:
        prev = w.rowsBetween(Window.unboundedPreceding, -1)
        cols.append(F.col(ntok_col).cast("long").alias("n_tok"))
        cols.append(
            F.coalesce(F.sum(F.col(ntok_col)).over(prev), F.lit(0))
            .cast("long")
            .alias("tok_offset")
        )
    return out.select(*cols)


def shard_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    n_shards: int = 4,
    seed: str = "",
    ntok_col: str | None = None,
) -> DataFrame:
    """Per-shard manifest for the ``training_order`` split: row count,
    token total (when ``ntok_col`` given), and an order-sensitive md5
    digest of the shard's id sequence — enough to verify a written shard
    byte-for-byte without re-reading the corpus. One groupBy; the digest
    folds ids in shard order via the same sorted-assembly idiom as the
    packing operators (collect_list is bounded by corpus/n_shards ids —
    size ``n_shards`` so id lists fit; a writer at 100 TB would fold the
    digest streamingly instead)."""
    ordered = training_order(
        df, id_col, n_shards=n_shards, seed=seed, ntok_col=ntok_col
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("shard_pos", F.col(id_col).alias("i")))
                    ),
                    lambda s: s["i"].cast("string"),
                ),
            )
        ).alias("ids_md5"),
    ]
    if ntok_col is not None:
        aggs.insert(1, F.sum("n_tok").cast("long").alias("tok_total"))
    return ordered.groupBy("shard").agg(*aggs)


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    val_fraction: float = 0.1,
    seed: str = "split",
    buckets: int = 10_000,
    max_iterations: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """Near-dup-aware train/validation split: hash the duplicate-CLUSTER
    representative, not the document, so near-duplicates always land in
    the same split and validation never scores memorized training text
    (the contamination mode Lee et al. 2022 §6 measure — eval near-dups of
    train members inflate scores).

    ``pairs`` is a duplicate edge list (minhash_lsh_pairs / simhash_pairs
    / embedding_neardup output); unclustered documents key on their own
    id. Returns (``id_col``, split_key, split) with split ∈
    {'train', 'val'} — a verdict table, so callers filter with one
    semi-join and the assignment stays auditable. Deterministic across
    runs, engines, partitionings and cluster sizes (the ``hash_sample``
    hash on the cluster key).

    Scale shape: components are the bounded ``duplicate_components``
    machinery (only clustered docs appear in the frame — tiny vs the
    corpus), the key join is one left join (broadcast-eligible whenever
    the dup set fits), and the split decision is a stateless per-row
    expression. No shuffle beyond the component rounds.
    """
    from transmog_spark.operators.dedup import duplicate_components

    comps = duplicate_components(
        pairs, max_iterations=max_iterations, algorithm=algorithm
    ).withColumnsRenamed({"doc_id": "__cid_doc", "cluster_id": "__cluster"})
    keyed = df.select(F.col(id_col)).join(
        comps, F.col(id_col) == F.col("__cid_doc"), "left"
    )
    # Hash the STRING form of the key: a long cast here would NULL out
    # non-numeric string ids (a contract pack_* explicitly supports) and
    # silently send every unclustered doc to 'train'. String-casting a
    # numeric id yields the identical hash input, so numeric behavior is
    # unchanged.
    key_str = F.coalesce(
        F.col("__cluster").cast("string"), F.col(id_col).cast("string")
    )
    from pyspark.sql import types as T

    id_numeric = isinstance(df.schema[id_col].dataType, T.NumericType)
    split_key = (
        F.coalesce(F.col("__cluster"), F.col(id_col).cast("long"))
        if id_numeric
        else key_str
    )
    h = md5_long(F.concat(F.lit(f"{seed}#"), key_str))
    threshold = int(val_fraction * buckets)
    return keyed.select(
        F.col(id_col),
        split_key.alias("split_key"),
        F.when(h % buckets < threshold, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def cap_per_source(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    *,
    cap: int,
    seed: str = "cap",
    rank_by: Column | None = None,
) -> DataFrame:
    """Per-source document quota (the FineWeb/Dolma domain-cap step):
    keep at most ``cap`` documents per source, chosen by a deterministic
    seeded-hash rank so the SAME documents survive on any cluster size,
    partitioning, or engine.

    Web-scale corpora are dominated by a few giant domains; capping
    per-domain document counts before mixing is a standard curation step
    (RefinedWeb §3.4 caps URL-duplicate mass; Dolma's dedupe/mixer config
    exposes per-source quotas). ``DataFrame.sample`` cannot express it
    (non-deterministic, no per-key bound); this is the reproducible form.

    Returns the full inventory (``id_col``, ``source_col``, src_rank,
    kept) — 1-based rank inside the source by md5(seed#id), kept =
    rank <= cap — so the audit (how much each domain lost) is one
    aggregation and the apply is one ``.where(F.col('kept'))``.

    ``rank_by`` switches the selection from uniform (seeded hash) to
    MERIT order — the FineWeb-Edu shape ("keep the best N per domain by
    classifier score"): documents rank by ``rank_by`` DESCENDING, with
    the seeded hash and id as deterministic tie-breaks. Pass a score
    already on a rounding grid (e.g. ``F.round(score, 4)``) when the
    result must reproduce across engines — raw-double ties are the usual
    cross-engine rank hazard.

    Scale shape: one hash shuffle on source + a per-source sort — the
    same window cost profile as ``training_order``; 8-byte rank keys. A
    pathologically hot source makes a hot partition; at 100 TB pre-split
    such sources upstream or raise ``cap`` granularity (e.g. cap per
    (source, month)). No driver actions.
    """
    from pyspark.sql import Window

    key = md5_long(F.concat(F.lit(f"{seed}#"), F.col(id_col).cast("string")))
    order = [key.asc(), F.col(id_col).asc()]
    if rank_by is not None:
        order = [rank_by.desc()] + order
    w = Window.partitionBy(source_col).orderBy(*order)
    return df.select(
        F.col(id_col),
        F.col(source_col),
        F.row_number().over(w).alias("src_rank"),
        (F.row_number().over(w) <= cap).alias("kept"),
    )


def tfidf_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 5,
) -> DataFrame:
    """Top-k TF-IDF keywords per document (smooth-idf, sklearn form).

    score = tf * (ln((1 + N) / (1 + df)) + 1)

    Returns (doc_id, term, tf, score, rank) with rank 1..k per document;
    ties at the round(score*1e4) grid break on ascending term, so the
    ranking is deterministic and engine-independent (the lm.py
    scaled-integer idiom — both engines rank the same longs, never raw
    doubles). Oracle: ``oracle.tfidf_keywords_sql``.

    Scale shape: one token explode feeds a map-side-combined (doc, term)
    count; document frequency is a second aggregation over the already-
    reduced pairs (at most one row per (doc, term), never one per
    occurrence); N is a broadcast one-row aggregate (the bm25_scores
    pattern); the per-document top-k window's state is bounded by
    distinct-terms-per-document. No global sort, no driver actions.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"), ws_tokens(F.col(text_col)).alias("__t")
    )
    tf = (
        base.select("doc_id", F.explode_outer("__t").alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # sum(tf > 0) = count, but referencing tf keeps this branch's partial
    # aggregate identical to the tf branch so ReuseExchange shares ONE
    # corpus scan between them (see bm25_scores for the full story)
    dfreq = tf.groupBy("term").agg(
        F.sum(F.when(F.col("tf") > 0, 1).otherwise(0)).cast("long").alias("df")
    )
    stats = base.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * idf * 10000).cast("long").alias("__s"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("__s").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("__s").cast("double") / 10000.0).alias("score"),
            "rank",
        )
    )


def cap_tokens_per_source(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    *,
    budget: int,
    seed: str = "tokcap",
    n_tok_col: str | None = None,
) -> DataFrame:
    """Per-source TOKEN-budget quota — the form data-mixing recipes are
    actually written in (Dolma's mixer and the RedPajama/Pile replications
    state per-source budgets in tokens, not document counts; see also
    ``epoch_mixture`` for the fractional-epoch formulation over weights).

    Documents are ranked inside their source by the same deterministic
    seeded hash as ``cap_per_source``, then admitted greedily in rank
    order while the source's RUNNING token total stays ``<= budget`` —
    the first document that would overflow the budget (and everything
    after it) is cut. Same documents survive on any cluster size,
    partitioning, or engine: the running total is an exact integer
    window sum over md5-ordered longs.

    ``n_tok_col`` selects a precomputed token-count column (the
    tokenized-sequence table's ``n_tok``); default counts whitespace
    tokens from ``text_col``.

    Returns the full inventory (``id_col``, ``source_col``, n_tok,
    src_rank, cum_tokens, kept) so the audit (tokens admitted vs cut per
    source) is one aggregation and the apply is one
    ``.where(F.col('kept'))``.

    Scale shape: identical to ``cap_per_source`` — one hash shuffle on
    source + a per-source sort; the window carries one long of state.
    Hot-source caveat likewise (pre-split pathological sources upstream).
    """
    from pyspark.sql import Window

    n_tok = (
        F.col(n_tok_col).cast("long")
        if n_tok_col
        else F.size(ws_tokens(F.col(text_col))).cast("long")
    )
    key = md5_long(F.concat(F.lit(f"{seed}#"), F.col(id_col).cast("string")))
    w = Window.partitionBy(source_col).orderBy(key.asc(), F.col(id_col).asc())
    cum = F.sum(n_tok).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        F.col(id_col),
        F.col(source_col),
        n_tok.alias("n_tok"),
        F.row_number().over(w).alias("src_rank"),
        cum.alias("cum_tokens"),
        (cum <= F.lit(int(budget))).alias("kept"),
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    source_col: str = "source",
    n: int = 5,
    threshold: float = 0.0,
) -> DataFrame:
    """Per-source benchmark-contamination telemetry: how much of each
    source trips the n-gram decontamination filter — the hygiene-audit
    table that accompanies the per-doc ``decontaminate`` verdicts (GPT-3
    §C reports exactly this per dataset).

    Docs that emit no n-grams (fewer than ``n`` tokens) are counted as
    clean — the spine left-joins the decontamination frame and coalesces
    contamination to 0, so short docs can never vanish from the
    denominator (the same hazard the streaming gate fixed). Flagged =
    contamination strictly above ``threshold`` on the round-4 grid.

    Scale shape: ``decontaminate``'s documented one-pass shape (broadcast
    benchmark grams) plus one id-keyed join and a |sources|-row agg.
    Output: (source, n_docs, n_flagged, flag_rate, max_contamination).
    """
    dec = decontaminate(corpus, benchmark, id_col, text_col, n=n)
    spine = corpus.select(F.col(id_col), F.col(source_col))
    j = spine.join(dec, id_col, "left").select(
        F.col(source_col),
        F.coalesce(F.col("contamination"), F.lit(0.0)).alias("__c"),
    )
    return j.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("__c") > threshold, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.round(
            F.sum(F.when(F.col("__c") > threshold, 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("flag_rate"),
        F.round(F.max("__c"), 4).alias("max_contamination"),
    )


def leakage_folds(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    n_folds: int = 5,
    seed: str = "folds",
    max_iterations: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """Near-dup-aware k-fold assignment: ``leakage_safe_split`` generalized
    from a train/val cut to cross-validation — the fold hash keys on the
    duplicate-cluster representative, so near-duplicates always share a
    fold and no fold's held-out slice ever scores another fold's memorized
    text (the Lee et al. 2022 §6 contamination mode, k ways).

    Returns (``id_col``, split_key, fold) with fold ∈ [0, n_folds) — a
    verdict table; callers pick fold i's train set with one ``fold != i``
    filter. Deterministic across runs, engines and partitionings (seeded
    60-bit md5 of the cluster key), and changing ``seed`` redraws every
    assignment.

    Scale shape: identical to ``leakage_safe_split`` — bounded component
    rounds over the (tiny) duplicate edge set, one broadcast-eligible left
    join, stateless per-row fold expression.
    """
    if n_folds < 2:
        raise ValueError("n_folds must be >= 2")
    from transmog_spark.operators.dedup import duplicate_components

    comps = duplicate_components(
        pairs, max_iterations=max_iterations, algorithm=algorithm
    ).withColumnsRenamed({"doc_id": "__cid_doc", "cluster_id": "__cluster"})
    keyed = df.select(F.col(id_col)).join(
        comps, F.col(id_col) == F.col("__cid_doc"), "left"
    )
    # string-form hash key: long-casting a string id would NULL out and
    # collapse every unclustered doc into fold hash(NULL) — same hazard
    # leakage_safe_split documents
    key_str = F.coalesce(
        F.col("__cluster").cast("string"), F.col(id_col).cast("string")
    )
    from pyspark.sql import types as T

    id_numeric = isinstance(df.schema[id_col].dataType, T.NumericType)
    split_key = (
        F.coalesce(F.col("__cluster"), F.col(id_col).cast("long"))
        if id_numeric
        else key_str
    )
    h = md5_long(F.concat(F.lit(f"{seed}#"), key_str))
    return keyed.select(
        F.col(id_col),
        split_key.alias("split_key"),
        F.pmod(h, F.lit(n_folds)).cast("int").alias("fold"),
    )


def source_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    *,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-source n-gram overlap matrix: for every source pair, how much
    of each source's distinct shingle vocabulary the other one contains.

    The curation question this answers: which sources are re-crawls /
    mirrors / subsets of each other? Per-document near-dup dedup
    (``dedupe_near``) removes individual copies; this is the corpus-level
    telemetry that tells you an ENTIRE source is redundant before you pay
    to process it (RefinedWeb §5 measures exactly this between CC snapshots).

    Output, one row per unordered pair (source_a < source_b):
    ``shared_grams``, ``grams_a``, ``grams_b`` (distinct-shingle counts),
    ``jaccard`` = shared/(a+b-shared), ``containment_a`` = shared/a (how
    much of a lives inside b), ``containment_b`` = shared/b — rounded to 4
    (the cross-engine double grid).

    Scale shape: shingles ship as 60-bit md5 longs; ONE wide shuffle — the
    gram-keyed groupBy with map-side-combined ``collect_set(source)``
    (state bounded by the number of sources, not documents). Pair
    expansion is a per-gram double posexplode over that bounded source
    list (≤ n_sources² rows per gram), and the per-pair/per-source counts
    are map-side-combined aggs over longs. The totals join is broadcast
    (one row per source). No driver actions.
    """
    from transmog_spark.operators.dedup import word_shingles

    # explode_outer + isNotNull (see dedup.minhash_signatures) — no
    # inferred scan-side filter, and no NULL gram grouped across sources
    grams = (
        df.select(
            F.col(source_col).alias("__src"),
            F.explode_outer(word_shingles(F.col(text_col), shingle_n)).alias("__g"),
        )
        .where(F.col("__g").isNotNull())
        .select("__src", md5_long(F.col("__g")).alias("__gh"))
    )
    # one shuffle: per-gram distinct source set (bounded by #sources)
    per_gram = grams.groupBy("__gh").agg(
        F.sort_array(F.collect_set("__src")).alias("__srcs")
    )
    totals = (
        per_gram.select(F.explode("__srcs").alias("__src"))
        .groupBy("__src")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    pairs = (
        per_gram.where(F.size("__srcs") >= 2)
        .select(F.posexplode("__srcs").alias("__ia", "source_a"), "__srcs")
        .select(
            "source_a", "__ia", F.posexplode("__srcs").alias("__ib", "source_b")
        )
        .where(F.col("__ia") < F.col("__ib"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    ta = F.broadcast(totals.withColumnsRenamed({"__src": "source_a", "__n": "grams_a"}))
    tb = F.broadcast(totals.withColumnsRenamed({"__src": "source_b", "__n": "grams_b"}))
    shared = F.col("shared_grams").cast("double")
    return (
        pairs.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "grams_a",
            "grams_b",
            F.round(
                shared / (F.col("grams_a") + F.col("grams_b") - shared), 4
            ).alias("jaccard"),
            F.round(shared / F.col("grams_a"), 4).alias("containment_a"),
            F.round(shared / F.col("grams_b"), 4).alias("containment_b"),
        )
    )


def phrase_search(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    phrase: str,
) -> DataFrame:
    """Exact-phrase occurrence search — the positional query BM25's
    bag-of-words scoring cannot express ("new york" as a unit, not two
    terms).

    Align-and-count: posexplode tokens, keep only rows whose token appears
    in the phrase (a pushable IN filter — at 100 TB only the phrase's
    terms leave the explode), emit (doc, pos - j) for every phrase slot j
    the token matches, then count DISTINCT slots per (doc, aligned start):
    an exact occurrence is a start offset covering all ``len(phrase)``
    slots. ONE explode + ONE map-side-combined groupBy + one per-doc agg;
    repeated tokens inside the phrase are handled by the DISTINCT-slot
    count (each slot is its own obligation).

    Output: one row per matching document — ``n_matches`` (occurrence
    count, overlaps allowed) and ``first_pos`` (0-based token offset of
    the earliest match).
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    m = len(terms)
    from transmog_spark.operators.text import ws_tokens

    toks = df.select(
        F.col(id_col), F.posexplode(ws_tokens(F.col(text_col))).alias("pos", "t")
    ).where(F.col("t").isin(*sorted(set(terms))))
    # one row per (token occurrence, phrase slot it could fill)
    slots = F.array(
        *[
            F.when(F.col("t") == term, F.lit(j)).otherwise(F.lit(None))
            for j, term in enumerate(terms)
        ]
    )
    aligned = toks.select(
        id_col,
        F.col("pos"),
        F.explode(F.filter(slots, lambda s: s.isNotNull())).alias("j"),
    ).select(id_col, (F.col("pos") - F.col("j")).alias("start"), "j")
    starts = (
        aligned.where(F.col("start") >= 0)
        .groupBy(id_col, "start")
        .agg(F.countDistinct("j").alias("n_slots"))
        .where(F.col("n_slots") == m)
    )
    return starts.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("start").cast("long").alias("first_pos"),
    )


def near_search(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    terms: list[str] | tuple[str, ...],
    window: int = 8,
) -> DataFrame:
    """Proximity search: documents where ALL ``terms`` co-occur inside some
    ``window`` consecutive tokens, any order — the Lucene slop query
    (phrase_search's order-free sibling).

    Same align-and-count idiom: each term hit at position p covers the
    candidate window starts [p−window+1, p] (a plan-time sequence explode,
    O(window)/hit), and a start covering all |terms| DISTINCT terms is a
    proximity match. ONE explode with the pushed term IN filter + ONE
    map-side-combined groupBy; ``window`` is the per-hit fan-out knob.

    Output: one row per matching doc — ``n_windows`` (distinct qualifying
    start offsets) and ``first_pos`` (earliest start).
    """
    want = sorted({t for t in (x.lower() for x in terms) if t})
    if not want or window < 1:
        raise ValueError("terms must be non-empty and window >= 1")
    from transmog_spark.operators.text import ws_tokens

    hits = df.select(
        F.col(id_col), F.posexplode(ws_tokens(F.col(text_col))).alias("pos", "t")
    ).where(F.col("t").isin(*want))
    starts = hits.select(
        id_col,
        "t",
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - (window - 1), F.lit(0)), F.col("pos")
            )
        ).alias("start"),
    )
    wins = (
        starts.groupBy(id_col, "start")
        .agg(F.countDistinct("t").alias("n_terms"))
        .where(F.col("n_terms") == len(want))
    )
    return wins.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.min("start").cast("long").alias("first_pos"),
    )


def interleave_sources(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    *,
    target_shares: dict[str, float] | None = None,
    seed: str = "",
) -> DataFrame:
    """Deterministic weighted source interleaving — the mixture SCHEDULE
    (HF interleave_datasets / Pile-style mixing): an order key under which
    every sorted prefix's source composition tracks ``target_shares``, so
    training sees the configured mixture from step one instead of only in
    full-corpus expectation (``training_order``'s uniform permutation
    guarantees the latter, not the former, when shares must differ from
    natural).

    Key = u / w_s on the 1e-6 grid, where u = md5-uniform(seed # id) and
    w_s = target_share / natural_share: P(key ≤ t) ∝ n_s · w_s · t, so
    prefix shares ∝ target. Deterministic (no RNG state), replayable on
    any cluster size/engine; changing ``seed`` redraws the schedule.
    target_shares=None interleaves at natural proportions (w_s = 1).

    Scale shape: natural shares are one |sources|-row aggregate broadcast
    back; the key is a pure Column expression — NO global sort and NO
    per-source window (a rank-based stride would put each source in one
    window partition: the skew trap). Consumers shard/sort by the key
    exactly as with ``training_order``. Output: (id, source,
    interleave_key) with the key a scaled-integer BIGINT.
    """
    from pyspark.sql import Window

    shares = (
        df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__p", F.col("__n") / F.sum("__n").over(Window.partitionBy()))
    )
    if target_shares is not None:
        total = sum(target_shares.values())
        if total <= 0:
            raise ValueError("target_shares must sum to a positive value")
        qmap = F.create_map(
            *[
                F.lit(x)
                for kv in target_shares.items()
                for x in (kv[0], kv[1] / total)
            ]
        )
        w = qmap[F.col(source_col)] / F.col("__p")
    else:
        w = F.lit(1.0)
    weighted = shares.select(
        source_col, F.round(w * 1000000.0).cast("long").alias("__w_grid")
    )
    u = (
        md5_long(F.concat(F.lit(f"{seed}#"), F.col(id_col).cast("string")))
        % 1000003
    )
    out = df.join(F.broadcast(weighted), source_col)
    if target_shares is not None:
        out = out.where(F.col("__w_grid") > 0)  # zero-share sources drop out
    # exact BIGINT grid: u < 1000003, so u·1e12 < 2^63 stays exact in long,
    # and integer DIV is bit-identical cross-engine (double division would
    # lose precision past 2^53 and hash-diverge)
    return (
        out.withColumn("__u", u)
        .withColumn(
            "interleave_key",
            F.expr("CAST((__u * 1000000000000) DIV __w_grid AS BIGINT)"),
        )
        .select(id_col, source_col, "interleave_key")
    )


def token_budget_select(
    df: DataFrame,
    id_col: str = "doc_id",
    ntok_col: str = "n_tok",
    *,
    budget: int,
    rank_by: Column | None = None,
    seed: str = "budget",
    hash_buckets: int = 4096,
) -> DataFrame:
    """Global training-token budget selection — the "fit exactly N tokens,
    keep the best" step of a data recipe (the corpus-level sibling of the
    per-source ``cap_tokens_per_source``): select the maximal PREFIX of a
    deterministic merit order whose token sum stays within ``budget``.

    Order: (merit DESC NULLS LAST, seeded 60-bit md5 of the id, id) —
    ``rank_by`` is any Column evaluated over the input row (a quality
    score, a DSIR weight); omitted, the order is the pure seeded hash,
    i.e. a uniform random subsample trimmed to the budget. Prefix
    semantics: documents are taken strictly in order and selection STOPS
    at the first document that would overflow — the selected set is
    identical on any cluster size, partitioning, or engine (DuckDB mirror
    = full sort + running sum).

    Scale shape — NO global sort of the corpus: one scan aggregates
    (merit_grid, hash_bucket) histogram cells (n_docs, sum_tokens;
    ≤ |merit grid| × ``hash_buckets`` rows — bounded, independent of
    corpus size); one window over that CELL frame (the only sort, cell-
    frame-sized) computes each cell's cumulative token start and flags
    full/boundary/overflow cells; the BOUNDARY cell's members (≈ corpus /
    cells — bounded by construction of the two-level key) resolve exactly
    with a cell-local window; full cells and the resolved boundary join
    back broadcast. Merit lands on the round-6 grid (1e6 scaled BIGINT)
    so cell identity is engine-exact.

    Output: (id_col, n_tok, selected) — a verdict frame; filter with one
    semi-join. Rows with NULL/negative token counts are excluded
    (selected = false). Zero-token docs cost nothing and select wherever
    the order places them.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    merit = (
        F.round(rank_by * 1_000_000).cast("long")
        if rank_by is not None
        else F.lit(0).cast("long")
    )
    h = md5_long(F.concat(F.lit(f"{seed}#"), F.col(id_col).cast("string")))
    base = df.select(
        F.col(id_col),
        F.col(ntok_col).cast("long").alias("__nt"),
        merit.alias("__m"),
        h.alias("__h"),
        (h % hash_buckets).alias("__hb"),
    ).where(F.col(ntok_col).isNotNull() & (F.col(ntok_col) >= 0))

    from pyspark.sql import Window

    cells = base.groupBy("__m", "__hb").agg(
        F.sum("__nt").alias("__cell_tok"),
    )
    # the ONLY corpus-independent sort: cell frame, bounded
    wc = Window.orderBy(
        F.col("__m").desc_nulls_last(), F.col("__hb").asc()
    )
    cells = cells.select(
        "__m",
        "__hb",
        "__cell_tok",
        F.coalesce(
            F.sum("__cell_tok").over(
                wc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__tok_start"),
    )
    # full: whole cell fits. boundary: the FIRST cell that doesn't —
    # prefix semantics means nothing after the boundary cell selects.
    cells = cells.select(
        "__m",
        "__hb",
        "__tok_start",
        (F.col("__tok_start") + F.col("__cell_tok") <= budget).alias("__full"),
        (
            (F.col("__tok_start") <= budget)
            & (F.col("__tok_start") + F.col("__cell_tok") > budget)
        ).alias("__boundary"),
    )
    j = base.join(F.broadcast(cells), ["__m", "__hb"])
    wb = Window.partitionBy("__m", "__hb").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    run = F.coalesce(
        F.sum("__nt").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    # within the boundary cell, walk the cell-local order until the
    # remaining budget is exceeded; stop-at-first-overflow is cell-local
    # cumulative-sum + a "no prior overflow" flag
    over = (F.col("__tok_start") + run + F.col("__nt") > budget).cast("int")
    first_over = F.sum(over).over(
        wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel_boundary = F.col("__boundary") & (first_over == 0)
    return j.select(
        F.col(id_col),
        F.col("__nt").alias(ntok_col),
        (F.col("__full") | sel_boundary).alias("selected"),
    )
