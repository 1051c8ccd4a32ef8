"""Structured weighted queries (#weight), document priors, and PRF query
expansion — Spark vs oracle, float32 bit-exact."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ivory_spark.corpus import QUERY_SET
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.oracle import build_oracle_index, oracle_topk_weighted
from ivory_spark.query.exact import bm25_topk
from ivory_spark.query.expander import expand_queries, oracle_expand_queries

K = 10

WEIGHTED = [
    {"qid": "w1", "terms": [("import", 0.7), ("class", 0.2), ("return", 0.1)]},
    {"qid": "w2", "terms": [("public", 0.5), ("static", 0.5)]},
    {"qid": "w3", "terms": [("zlib_handle", 1.0), ("nonexistent_token_xyzzy", 0.4)]},
    # float32 holds neither 0.1 nor 1/3: the weights reach Spark as an
    # Arrow float32 column and must round as numpy rounds them
    {"qid": "w4", "terms": [("import", 1 / 3), ("class", 2.0), ("static", 0.1)]},
]


@pytest.fixture(scope="module")
def idx(spark, tiny_corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx") / "exp")
    build_index(spark, tiny_corpus_path, root, IndexConfig())
    return open_index(spark, root)


@pytest.fixture(scope="module")
def oi(tiny_corpus):
    return build_oracle_index(tiny_corpus.drop(columns=["sha256"]))


def _assert_match(res_df, golden):
    got = {}
    for r in res_df.collect():
        got.setdefault(r["qid"], []).append(r)
    for qid, want in golden.items():
        have = got.get(qid, [])
        assert [h["docno"] for h in have] == [w["docno"] for w in want], qid
        hb = np.array([h["score"] for h in have], dtype=np.float32).view(np.uint32)
        wb = np.array([w["score"] for w in want], dtype=np.float32).view(np.uint32)
        assert np.array_equal(hb, wb), qid


def test_weighted_rank_identity(spark, idx, oi):
    golden = oracle_topk_weighted(oi, WEIGHTED, k=K)
    _assert_match(bm25_topk(spark, idx, WEIGHTED, k=K, weighted=True), golden)


def test_priors_rank_identity(spark, idx, oi):
    # deterministic synthetic priors (spam-percentile stand-in)
    priors = {d: ((d * 37) % 100) / 100.0 for d in range(1, oi.n_docs + 1)}
    pdf = spark.createDataFrame(
        [(d, float(p)) for d, p in priors.items()], "docno long, prior float"
    )
    golden = oracle_topk_weighted(oi, WEIGHTED, k=K, priors=priors, prior_weight=2.0)
    got = bm25_topk(
        spark, idx, WEIGHTED, k=K, weighted=True, priors=pdf, prior_weight=2.0
    )
    _assert_match(got, golden)
    # priors actually change the ranking vs no-priors
    base = oracle_topk_weighted(oi, WEIGHTED, k=K)
    assert any(
        [r["docno"] for r in golden[q]] != [r["docno"] for r in base[q]]
        for q in golden
    )


def test_expansion_weights_identical(spark, idx, oi):
    qs = QUERY_SET[:4]
    got = expand_queries(spark, idx, qs, fb_docs=5, fb_terms=8, alpha=0.5)
    want = oracle_expand_queries(oi, qs, fb_docs=5, fb_terms=8, alpha=0.5)
    assert got == want  # exact float64 weight equality
    # expansion added terms beyond the originals for at least one query
    for g, q in zip(got, qs):
        orig = set(q["query"].split())
        assert set(t for t, _ in g["terms"]) >= {t for t in orig if t in oi.dictionary}


def test_expanded_retrieval_rank_identity(spark, idx, oi):
    qs = QUERY_SET[:3]
    wq = expand_queries(spark, idx, qs, fb_docs=5, fb_terms=8, alpha=0.4)
    golden = oracle_topk_weighted(oi, wq, k=K)
    _assert_match(bm25_topk(spark, idx, wq, k=K, weighted=True), golden)


def test_expansion_identity_min_df2(spark, tiny_corpus, tiny_corpus_path, tmp_path_factory):
    """min_df>1 builds: expansion must mine only dictionary terms (the tdf
    artifact is pre-filter), or the selected concepts and L1 weights
    diverge between engine and oracle (ADVICE r01)."""
    root = str(tmp_path_factory.mktemp("idx") / "mindf2")
    build_index(spark, tiny_corpus_path, root, IndexConfig(min_df=2))
    idx2 = open_index(spark, root)
    oi2 = build_oracle_index(tiny_corpus.drop(columns=["sha256"]), min_df=2)

    wq_spark = expand_queries(spark, idx2, QUERY_SET[:3], fb_docs=5, fb_terms=8)
    wq_oracle = oracle_expand_queries(oi2, QUERY_SET[:3], fb_docs=5, fb_terms=8)
    by_qid = {q["qid"]: q["terms"] for q in wq_oracle}
    for q in wq_spark:
        want = by_qid[q["qid"]]
        assert [t for t, _ in q["terms"]] == [t for t, _ in want], q["qid"]
        assert np.allclose([w for _, w in q["terms"]], [w for _, w in want],
                           rtol=0, atol=0), q["qid"]

    golden = oracle_topk_weighted(oi2, wq_oracle, k=K)
    _assert_match(bm25_topk(spark, idx2, wq_spark, k=K, weighted=True), golden)


def test_tdf_range_clustered_by_docno(idx):
    """The tdf artifact is written range-partitioned by docno
    (index/build.py tdf stage), so docno-selective readers (PRF
    feedback-doc mining) prune row groups via parquet min/max stats:
    per-file docno ranges must be pairwise disjoint."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(idx.root, "tdf", "*.parquet")))
    assert files
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        rg0 = md.row_group(0)
        ci = next(
            i for i in range(rg0.num_columns)
            if rg0.column(i).path_in_schema == "docno"
        )
        lo = min(md.row_group(g).column(ci).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(ci).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) >= 2, "need multiple non-empty files to assert clustering"
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges


def test_lce_expansion_weights_identical(spark, idx, oi):
    """LCE variant (exp(doc score)-weighted concept mining,
    UnigramLatentConceptExpander.java:159-198): engine == oracle exactly,
    and it genuinely reweights vs the RM expander."""
    qs = QUERY_SET[:4]
    got = expand_queries(spark, idx, qs, fb_docs=5, fb_terms=8, method="lce")
    want = oracle_expand_queries(oi, qs, fb_docs=5, fb_terms=8, method="lce")
    assert got == want
    rm = expand_queries(spark, idx, qs, fb_docs=5, fb_terms=8)
    assert any(g["terms"] != r["terms"] for g, r in zip(got, rm))


def test_lce_expanded_retrieval_rank_identity(spark, idx, oi):
    qs = QUERY_SET[:3]
    wq = expand_queries(spark, idx, qs, fb_docs=5, fb_terms=8, method="lce")
    golden = oracle_topk_weighted(oi, wq, k=K)
    _assert_match(bm25_topk(spark, idx, wq, k=K, weighted=True), golden)


def test_joined_flow_matches_driver_flow(spark, idx):
    """flow='joined' (distributed tdf x feedback join, per-qid fold in
    applyInPandas) must produce exactly the driver flow's weights — both
    sort records before the float64 fold."""
    from ivory_spark.query.expander import expand_queries

    qs = QUERY_SET[:3]
    for method in ("rm", "lce"):
        a = expand_queries(spark, idx, qs, fb_docs=5, fb_terms=8, method=method)
        b = expand_queries(
            spark, idx, qs, fb_docs=5, fb_terms=8, method=method, flow="joined"
        )
        assert a == b, method  # exact float64 equality, not approx
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown flow"):
        expand_queries(spark, idx, qs, flow="banana")
