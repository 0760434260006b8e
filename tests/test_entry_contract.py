"""Driver-contract smoke: entry() runs, every queries() entry produces rows,
oracle_sql() covers the queries it claims."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod

# Queries allowed to return zero rows at sf0.001 (near-dup pairs may not
# exist in tiny samples — driver treats >=0 rows as pass for those).
MAY_BE_EMPTY = {
    "minhash_pairs",
    "ngram_jaccard",
    "dedup_exact",
    "embedding_neardup",
    "simhash_pairs",
}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_runs_and_yields_rows(spark, sf_dir, name):
    fn = entrymod.queries()[name]
    df = fn(spark, sf_dir)
    n = df.count()
    if name in MAY_BE_EMPTY:
        assert n >= 0
    else:
        assert n > 0, f"{name} returned no rows at {sf_dir}"


def test_oracle_keys_subset_of_queries():
    qs = set(entrymod.queries())
    orc = set(entrymod.oracle_sql())
    assert orc <= qs
    # every oracle string is non-trivial SQL
    assert all(len(s.strip()) > 20 for s in entrymod.oracle_sql().values())


def test_release_session_caches(spark, sf_dir):
    """One teardown call releases every session-scoped artifact: persisted
    model and assignment frames are unpersisted, index directories are
    removed, and plan memos (the library's included) are dropped. Until
    then the memos hit."""
    from transmog_spark import artifacts
    from transmog_spark.pipeline import token_features

    qs = entrymod.queries()
    for name in ("semdedup", "rerank_topk", "nb_classify", "bm25_topk_indexed"):
        qs[name](spark, sf_dir).count()
    # the queries themselves filled the registry ...
    filled = set(artifacts._ENTRIES)
    for kind in ("semdedup_assign", "ivfpq_model", "nb_model", "bm25idx"):
        assert (kind, sf_dir) in filled, kind
    # ... so each lookup below hits, returning the frames they persisted
    persisted = [
        entrymod._semdedup_assigned(spark, sf_dir),
        entrymod._ivfpq_model(spark, sf_dir)[1],
        *entrymod._nb_model(spark, sf_dir),
    ]
    index_dir = entrymod._bm25_index_cached(spark, sf_dir)
    assert set(artifacts._ENTRIES) == filled
    plan = token_features(spark, 50)
    assert token_features(spark, 50) is plan
    assert all(df.is_cached for df in persisted)
    assert os.path.isdir(index_dir)

    entrymod.release_session_caches()

    assert not artifacts._ENTRIES
    assert not any(df.is_cached for df in persisted)
    assert not os.path.exists(index_dir)
    assert token_features(spark, 50) is not plan
