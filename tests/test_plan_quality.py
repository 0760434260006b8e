"""Physical-plan regression tests: the plans we want, not just plans that pass.

Locks in: predicate pushdown to the parquet scan, column pruning, broadcast
joins on dims, shuffle counts, and the zero-shuffle flatten.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from transmog_spark import artifacts


def _plan(spark, sf_dir, name, mode: str = "formatted") -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _exchanges(plan: str) -> int:
    # formatted mode: exchanges are "(n) Exchange" nodes (shuffles);
    # broadcast exchanges are named BroadcastExchange and counted separately.
    # RoundRobinPartitioning exchanges are the scale-ADAPTIVE small-scan
    # spread (__spark_entry__._t): they exist only when a scan has fewer
    # splits than cores (never at production scale), so the pins keep
    # counting the operator's own data movement without them.
    total = len(re.findall(r"\(\d+\) Exchange\b", plan))
    spread = len(
        re.findall(r"Arguments: RoundRobinPartitioning", plan)
    )
    return total - spread


def _sorts(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Sort\b", plan))


def test_tpch_q1_pushdown_pruning_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert _exchanges(plan) == 1  # map-side partial agg, one shuffle
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_comment" not in m.group(1)  # pruned to the used columns
    assert len(m.group(1).split(",")) == 6  # qty, extprice, discount, flag, status, shipdate


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 3  # customer/nation/region
    assert _exchanges(plan) == 1  # only the final groupBy shuffles


def test_flatten_is_narrow(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flatten_props")
    assert _exchanges(plan) == 0
    assert "BroadcastExchange" not in plan


def test_window_family_single_sort(spark, sf_dir):
    for q in ("lag_lead", "sessionize", "running_sum"):
        plan = _plan(spark, sf_dir, q)
        assert _exchanges(plan) == 1, q
        assert _sorts(plan) == 1, q


def test_asof_is_one_window_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "asof_clicks")
    # union-sentinel: shuffles bounded (≤1 per input side), exactly one sort
    assert _sorts(plan) == 1
    assert _exchanges(plan) <= 2
    assert "SortMergeJoin" not in plan  # no join operator: it IS the window


def test_flagship_session_stats_reuse_partitioning(spark, sf_dir):
    # session aggregates are window sums over (user_id, session_index): the
    # existing hashpartitioning(user_id) satisfies that clustering, so they
    # add ZERO exchanges. The whole flagship pipeline is exactly two
    # shuffles — clicks pre-agg + the single user_id window family — where
    # the old groupBy + self-join formulation re-shuffled the wide frame.
    plan = _plan(spark, sf_dir, "flagship_pipeline")
    assert _exchanges(plan) == 2
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan  # no join operator anywhere in the pipeline


def test_ivf_assignment_is_expression_argmax(spark, sf_dir):
    # corpus→list assignment is a per-row argmax over centroid literals and
    # the probe side is broadcast: the ONLY shuffle in the whole query is the
    # final per-query top-k window (was: corpus×nlist crossJoin through a
    # row_number exchange — nlist copies of the corpus at 100× scale)
    plan = _plan(spark, sf_dir, "embedding_topk_ivf")
    assert _exchanges(plan) == 1
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1  # probes only


def test_lsh_topk_single_rank_shuffle(spark, sf_dir):
    # bucket join on signature + per-query rank; the corpus is never crossed
    # with queries and never replicated
    plan = _plan(spark, sf_dir, "embedding_topk_lsh")
    assert "CartesianProduct" not in plan and "CrossJoin" not in plan
    # probe side is EXPLICITLY broadcast (like ivf_topk): exactly one
    # BroadcastExchange, and the corpus is never hash-partitioned on the
    # ≤2^n_planes-distinct signature key — that shuffle would funnel a
    # 10^12-row corpus through ≤256 partitions if auto-broadcast declined
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    for ex in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "__bkey" not in ex.group(1)


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    # global top-k must be a TakeOrdered (per-partition top-k + driver merge
    # of k rows), never a whole-corpus single-partition ranking window
    plan = _plan(spark, sf_dir, "bm25_topk")
    tree = plan.split("\n\n")[0]  # operator tree (details repeat node names)
    assert "TakeOrderedAndProject" in tree
    # the only Window is the rank assignment over the k collected rows,
    # ABOVE the TakeOrdered — never a ranking window on the corpus subtree
    assert tree.count("Window") == 1
    assert tree.index("Window") < tree.index("TakeOrderedAndProject")
    # the term filter is pushed below every aggregation: only the query's
    # terms leave the explode
    assert "IN (spark,vector,window)" in plan


def test_pack_assemble_bounded_shuffles(spark, sf_dir):
    # spans plan (2 narrow shuffles) + doc-id join + assembly groupBy; the
    # token arrays must never be crossed or replicated
    plan = _plan(spark, sf_dir, "pack_assemble")
    assert "CartesianProduct" not in plan and "CrossJoin" not in plan
    assert _exchanges(plan) <= 6


def test_minhash_shuffles_longs_not_shingles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "minhash_pairs")
    # the signature aggregate must have a map-side partial (partial_min)
    assert "partial_min" in plan or "HashAggregate" in plan
    # shingle arrays never appear in an exchange's output schema
    for ex in re.finditer(r"Exchange hashpartitioning[^\n]*\n", plan):
        assert "__sh" not in ex.group(0)
    # the null-gram guard filters the generated column above the outer
    # explode; no inferred size(..) > 0 filter re-shingles at the scan
    conds = re.findall(r"Condition : ([^\n]*)", plan)
    assert any("isnotnull(__s#" in c for c in conds)
    assert not any("size(" in c for c in conds)


def test_whole_stage_codegen_everywhere(spark, sf_dir):
    # AQE hides codegen until the final plan; disable it for this check.
    # The prepared-plan memo (entry `_prepared`, held in the session-artifact
    # registry) would hand back frames whose physical plan was already
    # derived under AQE, so release it on both sides of the conf toggle to
    # plan fresh each way.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    artifacts.release()
    try:
        for q in ("tpch_q1", "lag_lead", "event_type_stats"):
            plan = _plan(spark, sf_dir, q, mode="codegen")
            m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
            assert m and int(m.group(1)) >= 1, q
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        artifacts.release()


def test_token_chunks_is_narrow(spark, sf_dir):
    # stateless explode: no exchange anywhere
    plan = _plan(spark, sf_dir, "token_chunks")
    assert _exchanges(plan) == 0
    assert "BroadcastExchange" not in plan


def test_pack_concat_broadcasts_block_offsets(spark, sf_dir):
    # two-level scan: fine-grained (source, block) window + tiny block-total
    # cumsum joined back via broadcast — never a whole-source window
    plan = _plan(spark, sf_dir, "pack_concat")
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert _exchanges(plan) <= 3
    # the full-size frame is partitioned by (source, block) — never by
    # source alone (the skew hazard the two-level scan avoids). Exactly one
    # source-only partitioning survives: the one-row-per-block totals frame.
    src_parts = re.findall(r"hashpartitioning\(source#\d+[^)]*\)", plan)
    assert src_parts, plan
    assert sum("block" not in p for p in src_parts) == 1, src_parts


def test_pack_greedy_single_exchange(spark, sf_dir):
    # one shuffle into (source, block) groups for the applyInPandas fill
    plan = _plan(spark, sf_dir, "pack_greedy")
    assert _exchanges(plan) == 1
    assert "FlatMapGroupsInPandas" in plan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    # benchmark n-gram set broadcast; corpus side shuffles only on doc_id
    plan = _plan(spark, sf_dir, "decontaminate")
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert _exchanges(plan) <= 2
    assert "SortMergeJoin" not in plan


def test_repetition_profile_two_exchanges_no_joins(spark, sf_dir):
    # union of gram sizes -> one hashed-gram count shuffle -> one per-doc
    # pivot shuffle; no join operators, no gram strings on the wire
    plan = _plan(spark, sf_dir, "repetition_profile")
    assert _exchanges(plan) == 2
    assert "Join" not in plan


def test_bm25_indexed_prunes_partitions_and_pushes_terms(spark, sf_dir):
    # the materialized-index query must touch only the query terms' buckets
    # (partition pruning on term_bucket) and push term IN (...) to BOTH
    # index scans (postings + the vocabulary-sized termdf slice)
    plan = _plan(spark, sf_dir, "bm25_topk_indexed")
    parts = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert parts and all("term_bucket" in p for p in parts), plan[:2000]
    assert re.search(r"PushedFilters: \[[^\]]*In\(term", plan), plan[:2000]
    # no corpus-stats recompute: the tiny pruned termdf slice broadcasts;
    # never a shuffle join
    assert "SortMergeJoin" not in plan
    # exactly two file sources (postings + termdf) — node names repeat in
    # the detail section, so count scan *locations*, not name occurrences
    assert plan.count("Location: InMemoryFileIndex") == 2
    assert "TakeOrderedAndProject" in plan  # global top-k, not a full sort


def _arrow_nodes(plan: str) -> int:
    # detail headers appear once per node (the tree line is "Name (id)")
    return len(re.findall(r"\(\d+\) ArrowEvalPython", plan))


def test_pii_scan_is_map_only(spark, sf_dir):
    # regex scan + redaction ride whole-stage codegen: no shuffle, no UDF
    plan = _plan(spark, sf_dir, "pii_scan")
    assert _exchanges(plan) == 0
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bpe_tokenize_single_udf_map_only(spark, sf_dir):
    # pretokenize (JVM regex) -> ONE Arrow encoder pass -> md5; no shuffle
    plan = _plan(spark, sf_dir, "bpe_tokenize")
    assert _exchanges(plan) == 0
    assert _arrow_nodes(plan) == 1


def test_unigram_tokenize_single_udf_map_only(spark, sf_dir):
    # pretokenize (JVM regex) -> ONE Arrow Viterbi pass -> md5; no shuffle
    plan = _plan(spark, sf_dir, "unigram_tokenize")
    assert _exchanges(plan) == 0
    assert _arrow_nodes(plan) == 1


def test_wordpiece_tokenize_single_udf_map_only(spark, sf_dir):
    # word split (JVM regex) -> ONE Arrow greedy-encode pass -> JVM piece
    # counting + md5; no shuffle
    plan = _plan(spark, sf_dir, "wordpiece_tokenize")
    assert _exchanges(plan) == 0
    assert _arrow_nodes(plan) == 1


def test_length_batches_single_exchange_shared_spine(spark, sf_dir):
    # the (bucket) hash partitioning satisfies the (bucket, batch) window's
    # clustered distribution, so rank + per-batch max share ONE Exchange
    plan = _plan(spark, sf_dir, "length_batches")
    assert _exchanges(plan) == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_fim_transform_zero_exchange_no_udf(spark, sf_dir):
    # seeded cuts + three slices + concat: one narrow per-row projection
    plan = _plan(spark, sf_dir, "fim_transform")
    assert _exchanges(plan) == 0
    assert _arrow_nodes(plan) == 0
    assert "BatchEvalPython" not in plan


def test_token_budget_bounded_cell_frame_broadcast(spark, sf_dir):
    # corpus scans feed a bounded (merit, hash-bucket) cell histogram; the
    # cell frame and its cumulative decisions come back via BROADCAST —
    # the corpus is never globally sorted
    plan = _plan(spark, sf_dir, "token_budget")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 1
    assert _exchanges(plan) <= 4


def test_c4_clean_zero_exchange_no_udf(spark, sf_dir):
    # the C4 line/page rules are pure Column regexps over one narrow pass
    plan = _plan(spark, sf_dir, "c4_clean")
    assert _exchanges(plan) == 0
    assert _arrow_nodes(plan) == 0
    assert "BatchEvalPython" not in plan


def test_sft_render_zero_exchange_no_udf(spark, sf_dir):
    # chat rendering + loss masking is one narrow per-row projection:
    # no shuffle, no Python execution node
    plan = _plan(spark, sf_dir, "sft_render")
    assert _exchanges(plan) == 0
    assert _arrow_nodes(plan) == 0
    assert "BatchEvalPython" not in plan


def test_bpe_chunks_single_udf_map_only(spark, sf_dir):
    # the single_eval barrier keeps the encoder at ONE evaluation even
    # though token_chunks references the token array in a filter AND a
    # projection (without it: 2 ArrowEvalPython nodes, encoder runs twice)
    plan = _plan(spark, sf_dir, "bpe_chunks")
    assert _exchanges(plan) == 0
    assert _arrow_nodes(plan) == 1


def test_lm_perplexity_broadcast_stats_no_cartesian(spark, sf_dir):
    # count-table joins shuffle on gram/context keys; the single-row vocab
    # frame broadcasts; nothing crosses
    plan = _plan(spark, sf_dir, "lm_perplexity")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 1
    assert _exchanges(plan) <= 8


def test_importance_no_cartesian_bounded_exchanges(spark, sf_dir):
    # two models (target + raw) double the count joins; still no cross and
    # both vocab singles broadcast
    plan = _plan(spark, sf_dir, "importance")
    assert "CartesianProduct" not in plan
    assert _exchanges(plan) <= 13


def test_quality_gate_no_cartesian(spark, sf_dir):
    # fused: one tagged-gram explode feeding text/repetition/LM aggregates
    # + one raw-text pass; join strategy is size-based (broadcast here,
    # SMJ at scale) — pin the absence of crosses and the exchange bound
    plan = _plan(spark, sf_dir, "quality_gate")
    assert "CartesianProduct" not in plan
    assert _exchanges(plan) <= 12


def test_quality_gate_two_corpus_scans(spark, sf_dir):
    # the verdict table costs exactly TWO passes over the corpus when the
    # LM model is pre-trained (the production / streaming shape): the
    # tagged-gram token pass and the chars/punct/PII raw-text pass.
    # Self-training adds only the two bounded ngram_lm_counts passes.
    from transmog_spark.operators.lm import ngram_lm_counts
    from transmog_spark.operators.quality import quality_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = ngram_lm_counts(
        spark.createDataFrame(
            [(1, "the cat sat on the mat of the house")],
            "doc_id long, text string",
        ),
        train_pct=100,
    )
    df = quality_gate(docs, lm_model=model)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan[:2000]
    assert "CartesianProduct" not in plan
    # self-trained form: 2 scoring + 3 training scans (ngram_lm_counts's
    # bigram frame feeds both the count join and the context derivation),
    # down from the unfused composition's 11
    df2 = quality_gate(docs)
    plan2 = spark._jvm.PythonSQLUtils.explainString(
        df2._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan2)) <= 5


def test_semdedup_cluster_local_no_cartesian(spark, sf_dir):
    # assignment is an expression argmax over centroid literals (no join);
    # the pairwise pass self-joins on cluster_id (hash shuffle, exchange
    # reused for both sides); verdict join on vec_id — never a cross
    plan = _plan(spark, sf_dir, "semdedup")
    assert "CartesianProduct" not in plan
    assert _exchanges(plan) <= 6


def test_dup_spans_hash_join_no_strings_in_exchange(spark, sf_dir):
    # gram stream ships (id, pos, 8-byte hash); the dup-gram join is a hash
    # shuffle of longs; span merge is one per-doc window — no cross, no UDF
    plan = _plan(spark, sf_dir, "dup_spans")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # no gram STRINGS cross any exchange: every Exchange's argument schema
    # carries only ids/positions/hashes (__g never survives past the hash)
    assert "__g#" not in "".join(
        line for line in plan.splitlines() if "Arguments" in line and "Exchange" in line
    )
    assert _exchanges(plan) <= 4


def test_fuzzy_pairs_hashed_block_key_no_cartesian(spark, sf_dir):
    # PassJoin candidates join on the 60-bit hashed block key (__bk, a
    # long) — segment/probe STRINGS never cross an exchange; verification
    # is the JVM levenshtein, no Python node, no cross product
    plan = _plan(spark, sf_dir, "fuzzy_pairs")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "levenshtein" in plan
    ex_args = "".join(
        line
        for line in plan.splitlines()
        if "Arguments" in line and "Exchange" in line
    )
    assert "__key#" not in ex_args and "key#" not in ex_args


def test_embedding_outliers_corpus_never_shuffles(spark, sf_dir):
    # one posexplode (group, dim) partial agg builds centroids; the corpus
    # re-enters only through BROADCAST joins (centroid + stats frames are
    # |groups| rows) — no corpus-keyed exchange, no cross product, no UDF
    plan = _plan(spark, sf_dir, "embedding_outliers")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 2
    assert plan.count("partial_") >= 1  # map-side-combined centroid agg


def test_pq_zero_corpus_shuffle_broadcast_queries(spark, sf_dir):
    # codebooks are plan-time literals: encoding + ADC are one narrow map
    # pass over the corpus; the only shuffle is the per-query top-k window
    plan = _plan(spark, sf_dir, "embedding_topk_pq")
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert _exchanges(plan) <= 1


def test_curation_pipeline_pins_stage_boundaries(spark, sf_dir):
    # the composed flagship re-executes multiply-consumed subtrees unless
    # the stage boundaries (keep/ded/nded) are persisted: ReuseExchange
    # never fires across differing projections (measured: 224 scans / 129
    # exchanges and 9-15x the wall at sf0.01 without persists). Pin the
    # persist points and the absence of cartesian products.
    plan = _plan(spark, sf_dir, "curation_pipeline")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 3


def test_ivfpq_zero_corpus_shuffle_broadcast_probes(spark, sf_dir):
    # coarse centroids AND PQ codebooks are plan-time literals: assignment,
    # residual, encoding and ADC are one narrow corpus pass; the probe side
    # (queries×nprobe residuals) is explicitly broadcast; the only shuffle
    # is the per-query top-k window
    plan = _plan(spark, sf_dir, "embedding_topk_ivfpq")
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert _exchanges(plan) == 1
    assert "CartesianProduct" not in plan


def test_rerank_broadcasts_candidates_zero_corpus_shuffle(spark, sf_dir):
    # candidates (|Q|·R rows) and queries broadcast into the corpus scan:
    # non-candidate vectors never leave the scan, and the only exchange is
    # the per-query top-k window's
    plan = _plan(spark, sf_dir, "rerank_topk")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 2
    assert "SortMergeJoin" not in plan


def test_mmr_fused_single_corpus_scan_greedy_arrow_batched(spark, sf_dir):
    # fused default path: queries broadcast into ONE scoring pass over the
    # corpus (the intentional |C|·|Q| nested-loop, same as embedding_topk),
    # vectors carried through the top-R window — no brute-stage-then-rejoin
    # double scan; the greedy is ONE FlatMapGroupsInPandas keyed like the
    # window, so query_id partitioning is reused
    plan = _plan(spark, sf_dir, "mmr_topk")
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python
    # one full corpus scan + the pushed-filter query scan, nothing else
    assert len(re.findall(r"Location: InMemoryFileIndex", plan)) <= 2


def test_diverse_sample_single_pandas_pass_no_joins(spark, sf_dir):
    # the coreset pick is the cached assignment frame -> ONE cluster-keyed
    # FlatMapGroupsInPandas; no join, no cartesian, no per-row Python
    plan = _plan(spark, sf_dir, "diverse_sample")
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ann_indexed_prunes_cells_broadcasts_probes(spark, sf_dir):
    # persisted IVF index: the vectors scan prunes to the probed cells'
    # partitions, the (|Q|·nprobe)-row probe frame broadcasts — the corpus
    # slice never shuffles (mirror of the bm25_topk_indexed pin)
    plan = _plan(spark, sf_dir, "embedding_topk_indexed")
    parts = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert parts and all("cell" in p for p in parts), plan[:2000]
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 1
    # one exchange only: the per-query top-k window's
    assert _exchanges(plan) <= 1


def test_winnow_pairs_no_cartesian_hash_only_exchanges(spark, sf_dir):
    # the fingerprint stream ships (id, pos, 8-byte hash) longs; pair
    # generation is a hash bucket join — never a cartesian product, and no
    # gram strings cross an exchange
    plan = _plan(spark, sf_dir, "winnow_pairs")
    assert "CartesianProduct" not in plan
    for frag in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "__g" not in frag  # hashes only, not gram strings


def test_cms_bounded_grid_broadcasts(spark, sf_dir):
    # the depth×width grid (bounded state) broadcasts into the vocab probe;
    # the corpus is scanned once into a map-side-combined term rollup
    plan = _plan(spark, sf_dir, "cms_heavy_hitters")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 1


def test_dsir_resample_is_take_ordered(spark, sf_dir):
    # weighted sampling is a stateless key expression + global top-n:
    # TakeOrderedAndProject (per-partition top-n, driver merge), never a
    # global sort materialization
    plan = _plan(spark, sf_dir, "dsir_resample")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_centroid_classify_broadcasts_centroids(spark, sf_dir):
    # the labels×dim centroid table broadcasts into the corpus feature
    # pass; the argmax is a per-doc window — no sort-merge joins anywhere
    plan = _plan(spark, sf_dir, "centroid_classify")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 1


def test_hll_single_corpus_pass_bounded_agg(spark, sf_dir):
    # one token-explode pass into an m-row register rollup + one
    # countDistinct pass; no joins of corpus-sized relations
    plan = _plan(spark, sf_dir, "hll_distinct")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_minhash_probe_never_shuffles_store_rows(spark, sf_dir):
    # persisted band store, micro-batch admission regime (prune=False):
    # the probe frame and the hot-bucket census broadcast — full store
    # rows (signatures) never cross an exchange; the only hash exchanges
    # carry (kb, band, bkey) census keys or final match pairs, never sig
    plan = _plan(spark, sf_dir, "minhash_probe")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 2
    for frag in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "sig" not in frag


def test_minhash_probe_point_lookup_prunes_partitions(spark, sf_dir, tmp_path):
    # interactive point-lookup regime (prune=True, the default): a small
    # probe's bucket ids collect driver-side and the store scan prunes to
    # those kb partitions
    from pyspark.sql import functions as F

    from transmog_spark.operators.minhash_index import (
        minhash_index,
        minhash_probe,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "mh_plan_idx")
    minhash_index(d.where(F.col("doc_id") % 2 == 0), path)
    probe = d.where(F.col("doc_id") == 1)
    out = minhash_probe(spark, path, probe, threshold=0.5)
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    parts = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert parts and all("kb" in p for p in parts), plan[:2000]
    assert "SortMergeJoin" not in plan


def test_dup_lines_ships_hashes_not_line_text(spark, sf_dir):
    # the duplicated-line census shuffles (hash, doc) longs with map-side
    # partial counts — line strings never cross an exchange
    plan = _plan(spark, sf_dir, "dup_lines")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    for frag in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "__l" not in frag  # 8-byte hashes, not line text


def test_strip_dup_lines_no_udf_no_cartesian(spark, sf_dir):
    # removal is pure Column work: candidate stream ships (id, pos, hash)
    # longs; reassembly is one id join + a higher-order filter — no Python
    # execution nodes anywhere
    plan = _plan(spark, sf_dir, "strip_dup_lines")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_rolling_agg_single_exchange_single_sort(spark, sf_dir):
    """Both trailing frames (inclusive + strictly-prior) and both aggs
    share ONE hash exchange + ONE sort on (user_id, unix_micros(ts))."""
    plan = _plan(spark, sf_dir, "rolling_agg")
    assert _exchanges(plan) == 1
    assert _sorts(plan) == 1


def test_hdr_quantiles_bounded_state_plan(spark, sf_dir):
    """The sketch path is groupBy/window only: no broadcast-nested-loop,
    no cartesian, and the (group, bucket) rollup is map-side combined
    (partial HashAggregate before its exchange)."""
    plan = _plan(spark, sf_dir, "hdr_quantiles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"partial_count", plan)  # map-side combine on buckets


def test_cap_tokens_per_source_one_exchange(spark, sf_dir):
    """Quota = one hash shuffle on source + one per-source sort; the
    running token total adds no extra exchange over cap_per_source."""
    plan = _plan(spark, sf_dir, "cap_tokens_per_source")
    assert _exchanges(plan) == 1
    assert _sorts(plan) == 1


def test_vocab_kl_single_scan_via_exchange_reuse(spark, sf_dir):
    # four consumers of the (source, token) count frame (per-key counts,
    # corpus-wide counts, per-source totals, grand total) must collapse to
    # ONE corpus scan: the explicit isNotNull filters on both key columns
    # make every branch canonically identical, so ReuseExchange dedupes
    # them. Regression: without the filters the joins push isnotnull()
    # into only the joined branches and the corpus is scanned 4x.
    df = entrymod.queries()["vocab_kl"](spark, sf_dir)
    df.collect()  # reuse lands in the ADAPTIVE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Final Plan")[-1]
    cut = final.find("== Initial Plan ==")
    if cut > 0:
        final = final[:cut]
    assert final.count("FileScan") == 1, final[:2000]
    assert final.count("ReusedExchange") == 3, final[:2000]


def test_nb_classify_fused_training_scan(spark, sf_dir):
    # self-train NB (the OPERATOR default, still used by nb_confusion /
    # nb_gate) derives training token counts FROM the scoring
    # pre-aggregate: the token explode is ONE text scan shared via
    # ReuseExchange (min(__fl) carries the split so the predicate can't
    # be pushed below the shared aggregate; the no-op __fl >= 0 filter
    # defeats aggregate elision on the scoring side). Budget: 4 scans of
    # documents total — 2 reading text (explode + spine), 2 thin
    # (doc_id, source) from the two broadcast expansions of the C-row
    # class frame.
    from transmog_spark.operators.nb import nb_classify

    df = nb_classify(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    df.collect()  # reuse lands in the ADAPTIVE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Final Plan")[-1]
    cut = final.find("== Initial Plan ==")
    if cut > 0:
        final = final[:cut]
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", final)
    assert len(scans) <= 4, final[:2000]
    assert sum("text" in s for s in scans) <= 2, scans
    assert "CartesianProduct" not in final
    assert final.count("ReusedExchange") >= 1, final[:2000]


def test_nb_classify_entry_scores_with_cached_model(spark, sf_dir):
    # the ENTRY's nb_classify is the train-once/score-many posture: the
    # memoized model pair joins broadcast into the scoring pass — no
    # cartesian, and the scoring side reads text in <= 2 scans (token
    # explode + the n_tok spine)
    plan = _plan(spark, sf_dir, "nb_classify")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the model pair reads from the session cache (its lineage under
    # InMemoryRelation is printed but not re-executed)
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]


def test_decontaminate_fuzzy_broadcasts_benchmark_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "decontaminate_fuzzy")
    assert "CartesianProduct" not in plan
    # benchmark gram rows and set sizes ship broadcast; the candidate join
    # is a BroadcastHashJoin, never a corpus-side shuffle on the gram key
    assert plan.count("BroadcastExchange") >= 2, plan[:2000]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 5, plan[:2000]


def test_pack_stats_two_exchanges(spark, sf_dir):
    # one map-side-combined agg on the key greedy packing already grouped
    # by, one per-source agg — plus greedy packing's own single exchange
    plan = _plan(spark, sf_dir, "pack_stats")
    assert "CartesianProduct" not in plan
    assert _exchanges(plan) <= 3, plan[:2000]


def test_lm_context_counts_reuse_bigram_shuffle(spark, sf_dir):
    # context counts re-aggregate the bigram-count shuffle; the explicit
    # base null filters in ngram_lm_counts keep both branches canonically
    # equal so the train split is scanned ONCE for both count tables
    # (plus the separate vocab pass and the doc-gram pass = 3 total).
    # Pins the OPERATOR's self-train path; the entry now scores against
    # the session-cached model (next test).
    from transmog_spark.operators.lm import lm_score

    df = lm_score(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Final Plan")[-1]
    cut = final.find("== Initial Plan ==")
    if cut > 0:
        final = final[:cut]
    assert final.count("FileScan") == 3, final[:2000]
    assert final.count("ReusedExchange") >= 1, final[:2000]


def test_lm_perplexity_entry_scores_with_cached_model(spark, sf_dir):
    # the ENTRY's lm_perplexity is the train-once/score-many posture: the
    # memoized count-table triple joins into the doc-gram pass from the
    # session cache (its InMemoryRelation lineage is printed but not
    # re-executed, so FileScan counts are not meaningful here)
    plan = _plan(spark, sf_dir, "lm_perplexity")
    assert plan.count("InMemoryTableScan") >= 3, plan[:2000]


def test_hashfeat_corpus_features_computed_once(spark, sf_dir):
    # the corpus-side hashed-feature frame feeds norms + dots (topk) and
    # centroids + norms + dots (classify); uniform isNotNull filters keep
    # the branches canonical so ReuseExchange scans the corpus once per
    # feature build instead of once per consumer
    for name, max_scans in (("hash_embed_topk", 3), ("centroid_classify", 5)):
        df = entrymod.queries()[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Final Plan")[-1]
        cut = final.find("== Initial Plan ==")
        if cut > 0:
            final = final[:cut]
        assert final.count("FileScan") <= max_scans, (name, final[:2000])
        assert final.count("ReusedExchange") >= 1, (name, final[:2000])


def test_bm25_tfidf_df_reuses_tf_shuffle(spark, sf_dir):
    # document frequencies re-aggregate the tf shuffle (written as
    # sum(tf > 0) so the tf count survives in both partial aggregates);
    # the only other corpus read is the avgdl/n_docs stats pass
    for name in ("bm25", "tfidf_keywords"):
        df = entrymod.queries()[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Final Plan")[-1]
        cut = final.find("== Initial Plan ==")
        if cut > 0:
            final = final[:cut]
        assert final.count("FileScan") <= 2, (name, final[:2000])
        assert final.count("ReusedExchange") >= 1, (name, final[:2000])


def test_hybrid_topk_take_ordered_and_broadcast_tiers(spark, sf_dir):
    # both tiers' global top-depth are TakeOrdered (per-partition top-k +
    # driver merge), never a corpus-wide single-partition ranking window;
    # the final fused top-k is TakeOrdered likewise -> 3 total
    plan = _plan(spark, sf_dir, "hybrid_topk")
    tree = plan.split("\n\n")[0]
    assert tree.count("TakeOrderedAndProject") == 3
    # the only Windows are rank assignments over already-collected top-R
    # rows (one per tier, one fused) -- each sits above its TakeOrdered
    assert tree.count("Window") == 3
    # the semantic tier's single query vector rides a BroadcastExchange
    # into the embeddings scan: the corpus is never shuffled to meet it
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastExchange" in plan
    for ex in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in ex.group(1)


def test_hard_negatives_single_pass_two_tiers(spark, sf_dir):
    # hard (score order) and random (seeded-md5 order) tiers are selected
    # in ONE windowed pass over ONE corpus scan: a union of two rank
    # filters would duplicate the scored subplan and re-scan the corpus
    plan = _plan(spark, sf_dir, "hard_negatives")
    tree = plan.split("\n\n")[0]
    assert "Union" not in tree
    # one Exchange carries the scored stream (query_id partitioning); the
    # only other Exchange is the contract-small positives distinct
    assert _exchanges(plan) <= 2
    # queries and positives broadcast into the corpus scan
    assert "BroadcastNestedLoopJoin Cross BuildRight" in tree
    assert "BroadcastHashJoin LeftAnti BuildRight" in tree
    # both window orders run over the same partitioning -> exactly 2 Sorts
    assert _sorts(plan) == 2


def test_dedup_report_single_scan_broadcast_comps(spark, sf_dir):
    # per-source telemetry costs ONE corpus scan: components broadcast in
    # as a left join (never a shuffle join against the corpus), counts are
    # conditional sums inside a map-side-combined aggregate (exactly one
    # shuffle: the |sources| groupBy)
    plan = _plan(spark, sf_dir, "dedup_report")
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "BroadcastHashJoin LeftOuter BuildRight" in tree
    assert "SortMergeJoin" not in tree
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2  # partial+final
    assert _exchanges(plan) == 1


def test_dedupe_near_best_windows_clustered_slice_only(spark, sf_dir):
    # the merit keep rule broadcasts the (tiny) components frame INTO the
    # corpus scan (static plan already BroadcastHashJoin Inner), the
    # per-cluster argmax window runs over the clustered slice only, and the
    # final keep/drop anti join lands as broadcast once AQE sees the drops
    # side's true (tiny) size at runtime
    df = entrymod.queries()["dedupe_near_best"](spark, sf_dir)
    static = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin Inner BuildRight" in static  # merit lookup
    df.collect()  # AQE finalizes the anti join with runtime stats
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]  # AQE's pre-stats plan trails
    assert re.search(r"BroadcastHashJoin .*LeftAnti", final)
    assert "SortMergeJoin" not in final


def test_entropy_profile_one_scan_two_count_exchanges(spark, sf_dir):
    # chars+tokens ride ONE tagged explode of ONE corpus scan; counting is
    # two map-side-combined exchanges (unit counts, per-doc pivot) plus the
    # spine join's; unit strings never ship — only 8-byte hashes
    plan = _plan(spark, sf_dir, "entropy_profile")
    assert plan.count("Location: InMemoryFileIndex") <= 2  # corpus + spine
    assert _exchanges(plan) <= 4
    assert "SortMergeJoin" not in plan or "Exchange" in plan  # no cartesian
    assert "CartesianProduct" not in plan


def test_strip_html_narrow_zero_exchanges(spark, sf_dir):
    # pure Column expression: single scan, zero shuffles, no Python eval.
    # (The adaptive small-scan spread wraps the plan in AdaptiveSparkPlan,
    # whose pre-execution explain does not print codegen ids — the old
    # "codegen id" assertion only held for exchange-free final plans.)
    plan = _plan(spark, sf_dir, "strip_html")
    assert _exchanges(plan) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_url_profile_narrow_zero_exchanges(spark, sf_dir):
    plan = _plan(spark, sf_dir, "url_profile")
    assert _exchanges(plan) == 0
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_cooc_pairs_broadcast_scoring_joins(spark, sf_dir):
    # pair + unigram counts are map-side-combined shuffles; the scoring
    # joins ride broadcasts (vocabulary-bounded frames) — never a
    # shuffle join; global top-k over the min_count-floored pair table
    plan = _plan(spark, sf_dir, "cooc_pairs")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("partial_count") >= 2  # pairs + unigrams combine map-side


def test_ngram_diversity_single_scan_one_agg_spine(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ngram_diversity")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan


def test_boundary_chunks_single_scan_no_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "boundary_chunks")
    assert _exchanges(plan) == 0
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_cooc_pairs_hashed_wire_ships_longs(spark, sf_dir):
    # the wide (pair-occurrence) shuffle must carry the 8-byte __ph hash,
    # never the token-pair strings; string recovery rides a broadcast
    # semi-join over qualifying hashes only
    plan = _plan(spark, sf_dir, "cooc_pairs_hashed")
    for ex in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = ex.group(1)
        assert "__ph" in keys or "tok" not in keys, keys
    assert "SortMergeJoin" not in plan


def test_phrase_search_pushes_nothing_past_the_term_filter(spark, sf_dir):
    # only the phrase's terms leave the explode (the IN filter sits on the
    # exploded rows before any shuffle); one scan, no joins
    plan = _plan(spark, sf_dir, "phrase_search")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert re.search(r"t#\d+ IN \(part,table\)|t#\d+ IN \(table,part\)", plan), plan[:3000]


def test_interleave_sources_no_sort_broadcast_shares(spark, sf_dir):
    # the schedule key is a pure expression over a broadcast |sources|-row
    # weight frame: no global sort, no per-source ranking window, and the
    # only exchanges belong to the bounded share aggregate
    plan = _plan(spark, sf_dir, "interleave_sources")
    assert _sorts(plan) <= 1  # the |sources|-row window's own tiny sort
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
