"""The benchmark's own tests: tiny-size smoke runs of every workload, the
corpus generator's planted truth, and a DuckDB cross-check of pit_features.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import corpus  # noqa: E402
import run  # noqa: E402

TINY = {"pit_features": 2_000, "pit_backfill": 2_000, "dedup_pack": 200}
#: near copies at or above the 0.8 verify threshold in CorpusSpec(400, seed=7)
PINNED_NEAR_AT_08 = 29


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_spark(str(tmp_path_factory.mktemp("perfbench")))
    yield s
    run.stop_spark(s)


def _spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [False, True], ids=["e2e", "traced"])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_smoke(spark, tmp_path, workload, trace):
    trace_out = str(tmp_path / "spans.json")
    out = run.run(
        spark, workload, 1, 0, trace, str(tmp_path / "work"), n_docs=TINY[workload],
        trace_out=trace_out,
    )
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    if trace:
        spans = json.load(open(trace_out))["spans"]
        assert spans[0]["name"] == "trace" and all(s["end_s"] >= s["start_s"] for s in spans)
        assert {s["name"] for s in spans if s["kind"] == "layer"}
    else:
        assert out["metrics"]["success_rate"]["value"] == 1.0


def _py_shingles(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def test_corpus_planted_truth(spark):
    spec = corpus.CorpusSpec(n_docs=400, seed=7)
    docs, truth = corpus.generate(spark, spec)
    text = {r.doc_id: r.text for r in docs.collect()}
    rows = truth.collect()
    assert len(text) == 400
    assert (spec.n_orig, spec.n_exact, spec.n_near) == (340, 20, 40)
    assert sorted(r.doc_id for r in rows) == [corpus.ID_FORMAT % i for i in range(340, 400)]
    for r in rows:
        assert r.src_id < corpus.ID_FORMAT % spec.n_orig  # every copy points at an original
        a, b = _py_shingles(text[r.doc_id]), _py_shingles(text[r.src_id])
        assert r.jaccard == pytest.approx(len(a & b) / len(a | b))
        if r.kind == "exact":
            assert text[r.doc_id] == text[r.src_id]
    # pinned for seed 7: near copies at or above the 0.8 verify threshold
    assert sum(r.kind == "near" and r.jaccard >= 0.8 for r in rows) == PINNED_NEAR_AT_08


def test_pit_features_matches_duckdb(spark):
    """pipeline.token_features in md5 hash mode equals the DuckDB replay."""
    duckdb = pytest.importorskip("duckdb")
    from pyspark.sql import functions as F

    from transmog_spark.oracle import token_pipeline_sql
    from transmog_spark.pipeline import token_features

    cols = ["doc_id", "source", "rev", "rev_n_tok", "feature_v", "session_index", "rev_n_tok_lag1", "n_tok"]
    got = token_features(spark, 300, seed="pf1", hash_mode="md5").select(
        *cols, F.unix_micros("ts").alias("ts_us"), F.size("tokens").alias("tokens_len")
    )
    want = duckdb.sql(
        f"SELECT {', '.join(cols)}, epoch_us(ts) AS ts_us, tokens_len "
        f"FROM ({token_pipeline_sql(n_docs=300, seed='pf1')})"
    ).fetchall()
    assert len(want) > 300
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)
