"""Deduplication for training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket
join), SimHash, n-gram Jaccard verification, embedding-cosine near-dup.
All candidate generation is *bucketed* — the engine never goes O(n²) on the
full corpus; pairwise work happens only inside LSH buckets. That is the
property that survives a 100 TB corpus: shuffle volume is O(n · bands), and
bucket sizes are bounded by hash dispersion (plus an explicit cap).

All hashes route through functions.hashing.md5_long so the DuckDB oracle
can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transmog_spark.functions.hashing import md5_long


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_dups, keep_id)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def dedupe_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per identical text (one shuffle, map-side combine)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
    )


# --------------------------------------------------------------------------
# shingling + MinHash + LSH
# --------------------------------------------------------------------------

def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text.

    O(tokens·n) construction: zip the token array against its k-shifted
    slices (k = 1..n-1) — ``concat`` nulls out the tail positions that have
    no full n-gram, which a final filter drops. (The naive per-position
    ``slice`` inside ``transform`` is O(tokens²) per row and was the
    dominant cost of MinHash/LSH end-to-end.) Short texts (< n tokens)
    fall back to one whole-text shingle, matching the DuckDB oracle.
    """
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")
    size = F.size(toks)
    grams = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(size - k, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.filter(grams, lambda x: x.isNotNull())
    out = F.when(size >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(out)


def shingle_frame(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    """(__id, __sh: array<string>) — distinct word shingles, computed ONCE."""
    return df.select(
        F.col(id_col).alias("__id"),
        word_shingles(F.col(text_col), shingle_n).alias("__sh"),
    )


def minhash_signatures(
    sh: DataFrame, num_hashes: int
) -> DataFrame:
    """(__id, h0..h{k-1}) minhash signature via explode + groupBy-min.

    Plan shape at scale: narrow explode -> k tiny md5 expressions ->
    hash-aggregate with map-side partial min -> shuffle of k longs per doc.
    No shingle array ever crosses the wire.
    """
    # explode_OUTER: word_shingles never yields a NULL/empty array, so
    # outer is row-identical to inner — but inner explode makes Catalyst
    # infer a `size(__sh)>0 AND isnotnull(__sh)` filter that is pushed to
    # the SCAN, where it re-evaluates the whole shingle expression once
    # per row before the projection evaluates it again (2x the dominant
    # map cost at any scale; measured 0.7 s single-core per branch at
    # bench scale, below the adaptive spread). Outer generate infers no
    # filter (InferFiltersFromGenerate is outer=false only). The isNotNull
    # on the GENERATED column drops the NULL row outer emits for an empty
    # array, should word_shingles ever return one; it stays above the
    # generate, so the scan keeps no size(..)>0 filter.
    ex = sh.select("__id", F.explode_outer("__sh").alias("__s")).where(
        F.col("__s").isNotNull()
    )
    hashed = ex.select(
        "__id",
        *[
            md5_long(F.concat(F.lit(f"{b}#"), F.col("__s"))).alias(f"h{b}")
            for b in range(num_hashes)
        ],
    )
    return hashed.groupBy("__id").agg(
        *[F.min(f"h{b}").alias(f"h{b}") for b in range(num_hashes)]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard on distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.

    Plan shape: narrow shingle/signature projection -> explode to ``bands``
    rows/doc -> shuffle on band key -> per-bucket self-join (bounded by
    ``max_bucket``) -> exact-Jaccard filter -> distinct pairs.
    Returns (id_a, id_b, jaccard_sim) with id_a < id_b.
    """
    rows = num_hashes // bands
    sh = shingle_frame(df, id_col, text_col, shingle_n)
    sig = minhash_signatures(sh, num_hashes)

    # band keys: plan-time unrolled concat of each band's hash columns —
    # band rows carry only (id, band, bkey), never the shingle arrays
    banded = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[F.col(f"h{b * rows + j}").cast("string") for j in range(rows)],
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select("__id", F.col("__band.band").alias("band"), F.col("__band.bkey").alias("bkey"))

    # Cap pathological buckets (all-identical boilerplate) to keep the
    # per-bucket join quadratic term bounded.
    wb = Window.partitionBy("band", "bkey").orderBy("__id")
    banded = banded.withColumn("__bn", F.row_number().over(wb)).where(F.col("__bn") <= max_bucket)

    a = banded.select("band", "bkey", F.col("__id").alias("id_a"))
    b = banded.select("band", "bkey", F.col("__id").alias("id_b"))
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify only the (small) candidate set with exact Jaccard: two joins
    # back to the per-doc shingle arrays. BROADCAST THE CANDIDATE SIDE
    # (bounded by the max_bucket cap) — left to size estimates the planner
    # broadcasts the shingle frame instead, which rebuilds the whole
    # text->shingle pass single-threaded inside each BroadcastExchange
    # and is the wrong side at any scale (guide §3.1).
    with_a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")).join(
        F.broadcast(cand), "id_a"
    )
    pairs = (
        sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
        .join(F.broadcast(with_a), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs, candidates blocked on the min shingle hash.

    Cheaper single-band variant of MinHash LSH: documents sharing their
    globally minimal shingle hash are candidates. Recall is lower than
    multi-band LSH; precision is exact (full Jaccard verification).
    """
    sh = shingle_frame(df, id_col, text_col, shingle_n)
    # blocking key = global min shingle hash, via explode + partial-agg min
    minh = (
        # explode_outer + isNotNull: see minhash_signatures — avoids the
        # inferred generate filter re-evaluating word_shingles at the scan
        sh.select("__id", F.explode_outer("__sh").alias("__s"))
        .where(F.col("__s").isNotNull())
        .select("__id", md5_long(F.col("__s")).alias("__h"))
        .groupBy("__id")
        .agg(F.min("__h").alias("__minh"))
    )
    wb = Window.partitionBy("__minh").orderBy("__id")
    capped = minh.withColumn("__bn", F.row_number().over(wb)).where(F.col("__bn") <= max_bucket)
    a = capped.select("__minh", F.col("__id").alias("id_a"))
    b = capped.select("__minh", F.col("__id").alias("id_b"))
    # each doc sits in exactly ONE block (its global min-shingle hash is a
    # per-doc scalar), so a pair can only form once — no dedup exchange
    # needed, unlike multi-band LSH
    cand = (
        a.join(b, "__minh")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # broadcast the capped candidate side, probe the shared shingle
    # exchange (see minhash_near_duplicates rationale)
    with_a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")).join(
        F.broadcast(cand), "id_a"
    )
    return (
        sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
        .join(F.broadcast(with_a), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(text: Column, *, bits: int = 32) -> Column:
    """SimHash signature of whitespace tokens (weight = token frequency).

    Per-row cost O(tokens × bits); entirely expression-level (the bit loop
    unrolls at plan time since shiftright needs a literal shift).
    """
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")
    hashes = F.transform(toks, lambda t: md5_long(t))

    def bit_term(j: int) -> Column:
        weight = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda w, h: w + (F.shiftright(h, j) % 2) * 2 - 1,
        )
        return F.when(weight > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))

    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + bit_term(j)
    return out


def simhash_frame(df: DataFrame, id_col: str, text_col: str, *, bits: int = 32) -> DataFrame:
    """(id, simhash) via explode + groupBy bit-weight sums — the scale path.

    The Column form above inlines the token-hash array into every one of the
    ``bits`` aggregate lambdas (huge codegen, re-evaluation); this form hashes
    each token once and computes the ``bits`` weights as map-side-combined
    sums. Empty-text docs get signature 0 (no tokens -> all weights 0).
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")).alias(
            "__t"
        ),
    )
    hashed = toks.select("__id", md5_long(F.col("__t")).alias("__h"))
    agg = hashed.groupBy("__id").agg(
        *[
            F.sum((F.shiftright(F.col("__h"), j) % 2) * 2 - 1).alias(f"w{j}")
            for j in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(F.col(f"w{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    signed = agg.select("__id", sig.alias("simhash"))
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(signed, "__id", "left")
        .select(F.col("__id").alias(id_col), F.coalesce("simhash", F.lit(0)).alias("simhash"))
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 32,
    max_hamming: int = 3,
    band_bits: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs: band on signature bytes, verify Hamming distance.

    With ``bits/band_bits`` bands, any pair within ``bands-1`` differing
    bands shares at least one identical band (pigeonhole) — standard
    SimHash blocking.
    """
    bands = bits // band_bits
    base = simhash_frame(df, id_col, text_col, bits=bits).select(
        F.col(id_col).alias("__id"), F.col("simhash").alias("__sg")
    )
    # band loop unrolls at plan time: shiftright requires a literal shift
    banded = base.select(
        "__id",
        "__sg",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col("__sg"), b * band_bits)
                            % F.lit(1 << band_bits).cast("long")
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__b"),
    ).select("__id", "__sg", F.col("__b.band").alias("band"), F.col("__b.bkey").alias("bkey"))
    wb = Window.partitionBy("band", "bkey").orderBy("__id")
    banded = banded.withColumn("__bn", F.row_number().over(wb)).where(F.col("__bn") <= max_bucket)
    a = banded.select("band", "bkey", F.col("__id").alias("id_a"), F.col("__sg").alias("sg_a"))
    b = banded.select("band", "bkey", F.col("__id").alias("id_b"), F.col("__sg").alias("sg_b"))
    hamming = F.bit_count(F.col("sg_a").bitwiseXOR(F.col("sg_b")))
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays (zip_with dot; JVM-side)."""
    # cast BEFORE multiplying: float*float then widen loses bits vs the
    # all-double math the DuckDB oracle does on ::DOUBLE[] lists
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    max_bucket: int = 2000,
) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane LSH bucket, cosine verify.

    Hyperplane weights derive deterministically from md5 (plane, dim) — no
    RNG state, reproducible across engines and runs. ``dim`` is explicit
    (plane literals need it at plan time; array columns carry no length in
    the schema, and probing a row would be a driver-side action).
    """
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    sig = _hyperplane_signature(F.col("__v"), dim, n_planes)
    base = base.withColumn("__bkey", sig)
    wb = Window.partitionBy("__bkey").orderBy("__id")
    base = base.withColumn("__bn", F.row_number().over(wb)).where(F.col("__bn") <= max_bucket)
    a = base.select("__bkey", F.col("__id").alias("id_a"), F.col("__v").alias("v_a"))
    b = base.select("__bkey", F.col("__id").alias("id_b"), F.col("__v").alias("v_b"))
    return (
        a.join(b, "__bkey")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_sim(F.col("v_a"), F.col("v_b")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iterations: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """Connected components over a duplicate-pair edge list: every document
    in a near-dup cluster gets ``cluster_id`` = the smallest doc id reachable
    from it — the canonical-representative step that turns pairwise dedup
    output into keep/drop decisions.

    Two algorithms behind one contract (identical output):

    * ``algorithm='label'`` — iterative min-label propagation (each node
      takes the min of its own label and its neighbors') until fixpoint —
      converges in ``diameter`` rounds; near-dup clusters are near-cliques,
      so typically 2-3. Each round is one join + one partial-agg groupBy on
      the (small relative to the corpus) edge list.
    * ``algorithm='star'`` — alternating large-star/small-star rounds
      (Kiveris et al., "Connected Components in MapReduce and Beyond"),
      which contract paths toward the component minimum and converge in
      O(log n) rounds regardless of diameter — the trillion-edge path for
      high-diameter graphs (long chains), where label propagation would
      need diameter rounds.

    Both are inherently iterative — the per-round convergence check is a
    driver action by design; ``localCheckpoint`` truncates the growing plan
    lineage each round.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # materialize the edge list once: the pair source is typically an
    # expensive LSH query, and every round joins against it — without this
    # the whole candidate generation re-runs per iteration
    sym = edges.union(edges.select(F.col("dst"), F.col("src"))).distinct().localCheckpoint()
    if algorithm == "label":
        labels, _rounds, converged, detail = _propagate_components(sym, max_iterations)
    elif algorithm == "star":
        labels, _rounds, converged, detail = _star_components(sym, max_iterations)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r} (use 'label' or 'star')")
    if not converged:
        # a component needing more rounds than max_iterations would
        # otherwise silently emit split clusters and fail the exact
        # transitive-closure oracle in a hard-to-diagnose way
        import warnings

        warnings.warn(
            f"duplicate_components({algorithm!r}) did not converge in "
            f"{max_iterations} iterations ({detail}) — cluster_id is a "
            "refinement of the true components; raise max_iterations"
            + (" or use algorithm='star' for high-diameter graphs" if algorithm == "label" else ""),
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def _propagate_components(sym: DataFrame, max_iterations: int):
    """Min-label propagation body. Returns (labels, rounds, converged, detail)."""
    # initialization already performs round 1 (label = min of self and
    # direct neighbors): pair/triangle clusters — the common near-dup case —
    # then converge on the first fixpoint check
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("__mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__mn")).alias("label"),
        )
        .localCheckpoint()
    )
    changed = -1
    rounds = 1
    for _ in range(max_iterations):
        msgs = sym.join(labels, sym.dst == labels.node).select(
            F.col("src").alias("node"), F.col("label")
        )
        new_labels = (
            labels.unionByName(msgs).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint()
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "__old"), "node")
            .where(F.col("label") != F.col("__old"))
            .count()
        )
        labels = new_labels
        rounds += 1
        if changed == 0:
            break
    return labels, rounds, changed == 0, f"{changed} labels still changing"


def _star_components(sym: DataFrame, max_iterations: int):
    """Alternating large-star/small-star rounds (Kiveris et al. 2014).

    Invariant maintained on the (symmetric-input) edge list, kept directed
    as (hi > lo) pairs between rounds:

    * large-star: every node u with neighborhood N(u) connects its LARGER
      neighbors {w in N(u) : w > u} to m = min(N(u) ∪ {u}) — long paths
      halve because grandchildren re-attach to the local minimum.
    * small-star: every node u connects its smaller-or-equal neighbors
      (plus itself) to m — stars flatten onto the component minimum.

    Each round is one partial-agg groupBy (min) + one broadcast-eligible
    join + distinct on the edge list — no full-graph label table, and edge
    count never grows beyond the input (edges only re-point). Converges in
    O(log n) rounds regardless of diameter; termination = edge set fixpoint,
    checked with a (count, xor-of-hashes) driver fetch per round.

    Returns (labels, rounds, converged, detail).
    """
    # directed hi->lo representation (self-loops impossible: src != dst)
    edges = (
        sym.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def _sig(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # order-independent set fingerprint; bit_xor over 64-bit hashes
            F.expr("CAST(bit_xor(xxhash64(u, v)) AS LONG)").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    converged = False
    rounds = 0
    sig = _sig(edges)
    for _ in range(max_iterations):
        # NOTE both "emit two rows per input row" steps use explode(array(
        # struct, struct)) rather than a self-union: unioning two branches of
        # the same self-join lineage trips a Catalyst internal error in
        # PruneFilters ("key not found: v#NNL") on Spark 4.x. Explode keeps a
        # single linear lineage and is also one fewer scan of the input.
        # ---- large-star: neighborhoods over BOTH directions ----
        both = edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                    F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
                )
            ).alias("__e")
        ).select(F.col("__e.a").alias("u"), F.col("__e.b").alias("v"))
        # self-joins of derived frames: rename the agg side's key so the
        # join condition never reuses the parent's expression ids (Catalyst
        # otherwise hits internal attribute-dedup errors intermittently)
        mins = (
            both.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select(
                F.col("u").alias("__mu"), F.least(F.col("__mn"), F.col("u")).alias("m")
            )
        )
        large = (
            both.join(mins, both.u == mins.__mu)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: hi->lo only; m = min neighbor (all < u) ----
        smins = (
            large.groupBy("u")
            .agg(F.min("v").alias("m"))
            .select(F.col("u").alias("__su"), "m")
        )
        small = large.join(smins, large.u == smins.__su).select(
            F.col("v").alias("w"), F.col("m"), F.col("u").alias("hi")
        )
        new_edges = (
            small.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.greatest("w", "m").alias("a"),
                            F.least("w", "m").alias("b"),
                        ),
                        F.struct(F.col("hi").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("__e")
            )
            .select(F.col("__e.a").alias("u"), F.col("__e.b").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        rounds += 1
        new_sig = _sig(new_edges)
        edges = new_edges
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    # at fixpoint the edges form stars: u -> component minimum
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("label"))
        .select(F.col("u").alias("node"), "label")
        .unionByName(
            edges.select(F.col("v").alias("node"), F.col("v").alias("label")).distinct()
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return labels, rounds, converged, "edge set still changing"


def dedupe_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iterations: int = 25,
    algorithm: str = "label",
    rank_by: Column | None = None,
    descending: bool = True,
) -> DataFrame:
    """Apply near-dup clustering to the corpus: keep ONE representative per
    duplicate cluster and every unclustered document.

    Default keep rule is the min-id member. With ``rank_by`` (a Column over
    ``df``, e.g. a quality score or ``n_chars``) the keeper is instead the
    cluster member with the BEST merit (largest when ``descending``,
    smallest otherwise; ties break on ascending id) — the production rule:
    when near-duplicates differ, keep the cleanest/most complete copy, not
    the one that happened to get the smallest id (Penedo et al. 2024
    FineWeb keeps by quality within dup clusters). For engine-exact
    replay, pass a merit that is integer or already rounded to a fixed
    grid — raw doubles can flip ties between engines.

    This is the ``dedupe_exact`` analog for near-duplicates — the step every
    dedup user actually ends at: ``pairs`` (from ``minhash_lsh_pairs`` /
    ``simhash_pairs`` / ``embedding_neardup``) → connected components →
    filter the corpus. Scale shape: the components frame is tiny relative
    to the corpus (only clustered docs appear in it), so the keep/drop
    decision is one LEFT ANTI join against the non-representative members —
    broadcast-eligible whenever the dup set fits, shuffle-join otherwise.
    With ``rank_by`` the merit lookup broadcasts the components INTO the
    corpus scan (inner broadcast-hash join keeps only clustered rows), so
    the per-cluster argmax window runs over the tiny clustered slice, never
    the corpus.
    """
    comps = duplicate_components(
        pairs, id_a, id_b, max_iterations=max_iterations, algorithm=algorithm
    )
    if rank_by is None:
        drops = comps.where(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias(id_col)
        )
    else:
        members = df.select(
            F.col(id_col).alias("__m_id"), rank_by.alias("__merit")
        ).join(
            F.broadcast(comps.select(F.col("doc_id").alias("__m_id"), "cluster_id")),
            "__m_id",
        )
        # NULL merit always ranks WORST (a null-scored doc never beats a
        # scored one) — pinned explicitly because Spark's desc() is
        # NULLS LAST while DuckDB/Postgres DESC is NULLS FIRST
        order = (
            F.col("__merit").desc_nulls_last()
            if descending
            else F.col("__merit").asc_nulls_last()
        )
        w = Window.partitionBy("cluster_id").orderBy(order, F.col("__m_id").asc())
        drops = (
            members.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") > 1)
            .select(F.col("__m_id").alias(id_col))
        )
    return df.join(drops, id_col, "left_anti")


def dedup_report(
    df: DataFrame,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    id_col: str = "doc_id",
    group_col: str = "source",
    max_iterations: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """Per-group near-dup telemetry — the report every production dedup run
    emits before anyone trusts its output: for each ``group_col`` value
    (source/domain/shard), how many documents exist, how many sit inside a
    duplicate cluster, how many the min-id keep rule would drop, and the
    resulting drop rate. A source whose drop_rate spikes between crawls is
    the standard early signal of a scraper loop or a mirror site entering
    the crawl (the telemetry CCNet/FineWeb publish per dump).

    Scale shape: ONE corpus scan — the components frame (clustered docs
    only, tiny by contract) broadcasts into it as a LEFT join, then a
    map-side-combined groupBy on ``group_col``; counts are conditional
    sums so no second pass or join ever touches the corpus. Output is
    |groups| rows.

    Output: (group_col, n_docs, n_clustered, n_dropped, drop_rate) with
    drop_rate on the round-4 grid for engine-exact replay.
    """
    comps = duplicate_components(
        pairs, id_a, id_b, max_iterations=max_iterations, algorithm=algorithm
    )
    tagged = df.select(F.col(id_col), F.col(group_col)).join(
        F.broadcast(
            comps.select(F.col("doc_id").alias(id_col), "cluster_id")
        ),
        id_col,
        "left",
    )
    clustered = F.col("cluster_id").isNotNull()
    dropped = clustered & (F.col(id_col) != F.col("cluster_id"))
    return tagged.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(clustered, 1).otherwise(0)).alias("n_clustered"),
        F.sum(F.when(dropped, 1).otherwise(0)).alias("n_dropped"),
        F.round(
            F.sum(F.when(dropped, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("drop_rate"),
    )


def cluster_size_histogram(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iterations: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """Duplicate-cluster size distribution: (cluster_size, n_clusters).

    The other half of the dedup report: a long tail of size-2 clusters is
    healthy near-dup noise; a single size-10⁶ cluster means a template
    page or an over-aggressive LSH threshold is about to delete a million
    documents — inspect before applying ``dedupe_near``. Two tiny
    map-side-combined aggregations over the components frame (clustered
    docs only); the corpus is never touched.
    """
    comps = duplicate_components(
        pairs, id_a, id_b, max_iterations=max_iterations, algorithm=algorithm
    )
    sizes = comps.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


def hyperplane_weights(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic hyperplanes from md5 (no RNG state): w in [-1, 1].

    Same 60-bit md5 formula as functions.hashing.md5_long, computed on the
    driver so the executors see plain literals.
    """
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def _hyperplane_signature(vec: Column, dim: int, n_planes: int) -> Column:
    """Bit-packed signs of dot(vec, plane_p); plane weights are literals."""
    planes = hyperplane_weights(dim, n_planes)
    sig = F.lit(0).cast("long")
    for p, weights in enumerate(planes):
        warr = F.array(*[F.lit(w) for w in weights])
        dot = F.aggregate(
            F.zip_with(vec, warr, lambda x, w: (x * w).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT near-dup pairs — the subset/quote
    detector Jaccard structurally misses: a 30-token notice embedded in a
    3,000-token page has Jaccard ~0.01 but containment(small in big)
    ~1.0 (the same dilution argument as ``decontaminate_fuzzy``, applied
    corpus-internally). Candidates come from the same min-shingle-hash
    blocking as ``ngram_jaccard_pairs`` (shared recall envelope, exact
    verification); a pair survives when EITHER direction's containment
    |A∩B| / |A| reaches ``threshold``.

    Output: (id_a, id_b, containment_ab, containment_ba, jaccard_sim) —
    containment_ab = fraction of a's shingles present in b, round-4.

    Scale shape: identical to ngram_jaccard_pairs — one explode +
    partial-min for the block key, capped buckets, shingle arrays only
    rejoined for verified candidates.
    """
    sh = shingle_frame(df, id_col, text_col, shingle_n)
    minh = (
        # explode_outer + isNotNull: see minhash_signatures — avoids the
        # inferred generate filter re-evaluating word_shingles at the scan
        sh.select("__id", F.explode_outer("__sh").alias("__s"))
        .where(F.col("__s").isNotNull())
        .select("__id", md5_long(F.col("__s")).alias("__h"))
        .groupBy("__id")
        .agg(F.min("__h").alias("__minh"))
    )
    wb = Window.partitionBy("__minh").orderBy("__id")
    capped = minh.withColumn("__bn", F.row_number().over(wb)).where(
        F.col("__bn") <= max_bucket
    )
    a = capped.select("__minh", F.col("__id").alias("id_a"))
    b = capped.select("__minh", F.col("__id").alias("id_b"))
    # each doc sits in exactly ONE block (its global min-shingle hash is a
    # per-doc scalar), so a pair can only form once — no dedup exchange
    # needed, unlike multi-band LSH
    cand = (
        a.join(b, "__minh")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # broadcast the capped candidate side, probe the shared shingle
    # exchange (see minhash_near_duplicates rationale)
    with_a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")).join(
        F.broadcast(cand), "id_a"
    )
    j = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")).join(
        F.broadcast(with_a), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    c_ab = F.when(
        F.size("sh_a") > 0, F.round(inter / F.size("sh_a"), 4)
    ).otherwise(F.lit(0.0))
    c_ba = F.when(
        F.size("sh_b") > 0, F.round(inter / F.size("sh_b"), 4)
    ).otherwise(F.lit(0.0))
    return (
        j.select(
            "id_a",
            "id_b",
            c_ab.alias("containment_ab"),
            c_ba.alias("containment_ba"),
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
        )
        .where(
            F.greatest(F.col("containment_ab"), F.col("containment_ba"))
            >= threshold
        )
    )
