"""Warm serving mode (query/serve.LocalSearcher): bit-identical to the
Spark paths and the numpy oracle, and fast enough for ad-hoc queries
(the Spark plan/schedule floor is the thing it exists to avoid)."""

import time

import numpy as np
import pytest

from ivory_spark.corpus import QUERY_SET
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.oracle import build_oracle_index, oracle_topk
from ivory_spark.query.serve import LocalSearcher

K = 10


@pytest.fixture(scope="module")
def served(spark, tiny_corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_serve") / "default")
    build_index(spark, tiny_corpus_path, root, IndexConfig())
    return LocalSearcher(root)


def test_serve_matches_oracle(served, tiny_corpus):
    oi = build_oracle_index(tiny_corpus.drop(columns=["sha256"]))
    golden = oracle_topk(oi, QUERY_SET, k=K)
    for q in QUERY_SET:
        got = served.search(q["query"], k=K)
        want = golden[q["qid"]]
        assert [g["docno"] for g in got] == [w["docno"] for w in want], q["qid"]
        assert [g["docid"] for g in got] == [w["docid"] for w in want], q["qid"]
        gb = np.array([g["score"] for g in got], dtype=np.float32).view(np.uint32)
        wb = np.array([w["score"] for w in want], dtype=np.float32).view(np.uint32)
        assert np.array_equal(gb, wb), q["qid"]


def test_serve_oov_and_empty(served):
    assert served.search("zzz_does_not_exist") == []
    assert served.search("") == []


def test_serve_warm_latency(served):
    served.search(QUERY_SET[0]["query"], k=K)  # warm the run cache
    t0 = time.perf_counter()
    n = 20
    for _ in range(n):
        served.search(QUERY_SET[0]["query"], k=K)
    per_query_ms = (time.perf_counter() - t0) / n * 1000
    # the bar is <500 ms p50 (BENCH target); warm in-process serving
    # should be orders of magnitude under it even on a loaded host
    assert per_query_ms < 200, per_query_ms


def test_serve_matches_exact_path_with_lru_churn(spark, tiny_corpus_path, tmp_path_factory):
    """Differential test against the exact Spark path on a salted
    multi-run index, with a 2-entry LRU so the cache churns between
    queries: docno, docid and float32 score bits agree for OOV tokens,
    duplicated tokens (qtf=2) and a term with df > N/2 (negative okapi
    idf). The inputs include a query mixing a cached term with uncached
    ones that overflow the cache: eviction must never drop a term the
    query needs."""
    import pyarrow.dataset as pads

    from ivory_spark.index.reader import open_index
    from ivory_spark.query.exact import bm25_topk

    root = str(tmp_path_factory.mktemp("idx_serve_salted") / "idx")
    build_index(spark, tiny_corpus_path, root, IndexConfig(salt_threshold=8, n_shards=5))
    idx = open_index(spark, root)
    n_docs = idx.properties["n_docs"]
    dic = pads.dataset(f"{root}/dictionary").to_table().to_pandas()
    top = dic.sort_values(["df", "term"], ascending=False).iloc[0]
    assert top["df"] > n_docs / 2, top  # okapi idf < 0
    runs = pads.dataset(f"{root}/postings").to_table(columns=["termid"]).to_pandas()
    assert runs["termid"].value_counts()[top["termid"]] > 1  # salted: several runs

    hi = top["term"]
    texts = ["import", QUERY_SET[0]["query"]]  # cached "import" + uncached terms
    texts += [q["query"] for q in QUERY_SET]  # OOV (q005), "def def return" (q004)
    texts += [hi, f"{hi} {hi} zzq_oov_token class", f"{hi} import import"]
    queries = [{"qid": f"d{i:02d}", "query": t} for i, t in enumerate(texts)]

    def bits(rows):
        return [(r["rank"], r["docno"], r["docid"],
                 np.float32(r["score"]).view(np.uint32).item()) for r in rows]

    want: dict = {q["qid"]: [] for q in queries}
    for r in bm25_topk(spark, idx, queries, k=K).orderBy("qid", "rank").collect():
        want[r["qid"]].append(r)
    searcher = LocalSearcher(root, cache_runs=2)
    for q in queries:
        assert bits(searcher.search(q["query"], k=K)) == bits(want[q["qid"]]), q
    assert any(any(r["score"] < 0 for r in rows) for rows in want.values())


def test_parse_model_xml_string_params():
    from ivory_spark.query.batch import parse_model_xml

    m = parse_model_xml('<model id="x" score="bm25" k1="2.0" idf="classic" hits="5"/>')
    assert m.params == {"k1": 2.0, "idf": "classic"} and m.k == 5


@pytest.fixture(scope="module")
def served_pos(spark, tiny_corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_serve_pos") / "pos")
    build_index(
        spark, tiny_corpus_path, root,
        IndexConfig(positional=True, salt_threshold=16, n_shards=5),
    )
    return root


def test_serve_sd_matches_spark_and_oracle(spark, served_pos, tiny_corpus):
    """Warm SD serving is float32 bit-identical to mrf_topk and the
    numpy oracle (shared clique + score_docs_batch kernels)."""
    from ivory_spark.index.reader import open_index
    from ivory_spark.query.mrf import MrfModel, mrf_topk, oracle_mrf_topk

    searcher = LocalSearcher(served_pos)
    idx = open_index(spark, served_pos)
    oi = build_oracle_index(tiny_corpus.drop(columns=["sha256"]))
    queries = [
        {"qid": "s1", "query": "import class"},
        {"qid": "s2", "query": "public static void"},
        {"qid": "s3", "query": "import"},
    ]
    golden = oracle_mrf_topk(oi, queries, MrfModel(dependence="sd"))
    spark_res = {}
    for r in mrf_topk(spark, idx, queries, MrfModel(dependence="sd")).collect():
        spark_res.setdefault(r["qid"], []).append(r)
    for q in queries:
        got = searcher.search_sd(q["query"], k=10)
        want = golden[q["qid"]]
        assert [g["docno"] for g in got] == [w["docno"] for w in want], q["qid"]
        gb = np.array([g["score"] for g in got], dtype=np.float32).view(np.uint32)
        wb = np.array([w["score"] for w in want], dtype=np.float32).view(np.uint32)
        assert np.array_equal(gb, wb), q["qid"]
        sp = spark_res.get(q["qid"], [])
        assert [g["docno"] for g in got] == [r["docno"] for r in sp], q["qid"]


def test_serve_sd_requires_positional(served):
    with pytest.raises(ValueError, match="positional"):
        served.search_sd("import class")


def test_serve_wsd_matches_oracle(served_pos, tiny_corpus):
    """Warm serving with a WSD model (query-dependent clique weights):
    build_cliques bakes the importance into the weights, so the serving
    tier is bit-identical to the oracle with zero extra plumbing."""
    from ivory_spark.query.importance import LinearImportanceModel, MetaFeature
    from ivory_spark.query.mrf import FeatureSpec, MrfModel, oracle_mrf_topk

    model = MrfModel(
        dependence="sd",
        features=[
            FeatureSpec("term", 0.8, importance="m"),
            FeatureSpec("od", 0.1, width=1, importance="m"),
            FeatureSpec("uw", 0.1, width=4),
        ],
        importance_models={"m": LinearImportanceModel([
            MetaFeature("cf", 0.7, {"import": 1.6, "import class": 2.5}, 0.4),
            MetaFeature("flat", 0.3, {}, 0.8),
        ])},
        normalize_importance=True,
        k=10,
    )
    oi = build_oracle_index(tiny_corpus.drop(columns=["sha256"]))
    golden = oracle_mrf_topk(oi, [{"qid": "w", "query": "import class"}], model)["w"]
    got = LocalSearcher(served_pos).search_sd("import class", k=10, model=model)
    assert len(got) > 0
    assert [g["docno"] for g in got] == [w["docno"] for w in golden]
    gb = np.array([g["score"] for g in got], dtype=np.float32).view(np.uint32)
    wb = np.array([w["score"] for w in golden], dtype=np.float32).view(np.uint32)
    assert np.array_equal(gb, wb)


def test_serve_sqe_matches_oracle(served_pos, tiny_corpus):
    """Warm structured-query serving is float32 bit-identical to the sqe
    oracle (same tree evaluator, pyarrow-read runs)."""
    from ivory_spark.query.sqe import oracle_sqe_topk

    oi = build_oracle_index(tiny_corpus.drop(columns=["sha256"]))
    searcher = LocalSearcher(served_pos)
    queries = [
        '{"#combine": [{"#weight": [0.7, "import", 0.3, "class"]}, "return"]}',
        '{"#combine": ["public class", "import"]}',  # phrase leaf
        '{"#weight": [0.8, "import", 0.2, "zzz_nonexistent"]}',  # OOV blend
    ]
    for i, q in enumerate(queries):
        golden = oracle_sqe_topk(oi, [{"qid": f"s{i}", "query": q}], k=10)[f"s{i}"]
        got = searcher.search_sqe(q, k=10)
        assert [g["docno"] for g in got] == [w["docno"] for w in golden], q
        gb = np.array([g["score"] for g in got], dtype=np.float32).view(np.uint32)
        wb = np.array([w["score"] for w in golden], dtype=np.float32).view(np.uint32)
        assert np.array_equal(gb, wb), q
        assert len(got) > 0
    # fully OOV -> empty
    assert searcher.search_sqe('{"#combine": ["zzz_nonexistent"]}') == []
