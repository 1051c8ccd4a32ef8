"""Engine-native non-BM25 retrieval (run_batch on the serve kernel,
LocalSearcher.search(scorer=...)) vs the numpy golden
(oracle.oracle_scored_topk): rank identity + bit-identical float32
scores for dirichlet / jm / tfidf / f2exp, mirroring the reference's
scoring-function family (DirichletScoringFunction.java:30-66,
JelinekMercerScoringFunction.java, TFIDFScoringFunction.java,
F2EXPScoringFunction.java)."""

import pytest

from ivory_spark.corpus import QUERY_SET
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.oracle import build_oracle_index, oracle_scored_topk
from ivory_spark.query.batch import Model, run_batch

from test_rank_identity import assert_matches_oracle

K = 10


@pytest.fixture(scope="module")
def oracle_index(tiny_corpus):
    return build_oracle_index(tiny_corpus.drop(columns=["sha256"]))


@pytest.fixture(scope="module")
def index(spark, tiny_corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_scored") / "default")
    build_index(spark, tiny_corpus_path, root, IndexConfig())
    return open_index(spark, root)


@pytest.mark.parametrize("scorer", ["dirichlet", "jm", "tfidf", "f2exp"])
def test_scored_topk_rank_identity(spark, oracle_index, index, scorer):
    golden = oracle_scored_topk(oracle_index, QUERY_SET, scorer=scorer, k=K)
    got = run_batch(spark, index, QUERY_SET, Model(scorer=scorer, k=K))
    assert_matches_oracle(got, golden)


def test_run_batch_dirichlet_wired(spark, oracle_index, index):
    """run_batch(model.scorer='dirichlet') no longer raises (VERDICT #3)."""
    golden = oracle_scored_topk(oracle_index, QUERY_SET[:2], scorer="dirichlet", k=K)
    got = run_batch(spark, index, QUERY_SET[:2], Model(scorer="dirichlet", k=K))
    assert_matches_oracle(got, {q["qid"]: golden[q["qid"]] for q in QUERY_SET[:2]})


def test_scored_topk_params_change_scores(spark, index):
    """mu is threaded through: different smoothing -> different scores."""
    a = run_batch(spark, index, QUERY_SET[:1], Model(scorer="dirichlet", k=3)).collect()
    b = run_batch(
        spark, index, QUERY_SET[:1], Model(scorer="dirichlet", params={"mu": 100.0}, k=3)
    ).collect()
    assert [r["score"] for r in a] != [r["score"] for r in b]


def test_scored_topk_oov_only(spark, index):
    assert (
        run_batch(spark, index, [{"qid": "x", "query": "zzzqqq_nope"}], Model(scorer="jm")).count()
        == 0
    )


def test_bm25_model_param_override(spark, oracle_index, index):
    """Model-XML k1/b overrides reach the scorer (exact-path fallback):
    rank identity vs the oracle at the overridden parameters."""
    from ivory_spark.oracle import oracle_topk

    golden = oracle_topk(oracle_index, QUERY_SET[:3], k=K, k1=2.0, b=0.4)
    got = run_batch(
        spark, index, QUERY_SET[:3], Model(scorer="bm25", params={"k1": 2.0, "b": 0.4}, k=K)
    )
    assert_matches_oracle(got, {q["qid"]: golden[q["qid"]] for q in QUERY_SET[:3]})


def test_bm25_default_params_still_wand(spark, oracle_index, index):
    from ivory_spark.oracle import oracle_topk

    golden = oracle_topk(oracle_index, QUERY_SET[:2], k=K)
    got = run_batch(spark, index, QUERY_SET[:2], Model(scorer="bm25", k=K))
    assert_matches_oracle(got, {q["qid"]: golden[q["qid"]] for q in QUERY_SET[:2]})
