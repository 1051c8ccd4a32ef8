"""Warm serving mode (query/serve.LocalSearcher): bit-identical to the
Spark paths and the numpy oracle, and fast enough for ad-hoc queries
(the Spark plan/schedule floor is the thing it exists to avoid)."""

import json
import os
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


def _bits(rows):
    return [(r["rank"], r["docno"], r["docid"],
             np.float32(r["score"]).view(np.uint32).item()) for r in rows]


def _exact(spark, idx, queries) -> dict:
    """qid -> the exact Spark path's top-K rows, in rank order."""
    from ivory_spark.query.exact import bm25_topk

    want: dict = {q["qid"]: [] for q in queries}
    for r in bm25_topk(spark, idx, queries, k=K).orderBy("qid", "rank").collect():
        want[r["qid"]].append(r)
    return want


@pytest.fixture(scope="module")
def salted(spark, tiny_corpus_path, tmp_path_factory):
    """A salted multi-run index (salt_threshold 8) and its Index handle."""
    from ivory_spark.index.reader import open_index

    root = str(tmp_path_factory.mktemp("idx_serve_salted") / "idx")
    build_index(spark, tiny_corpus_path, root, IndexConfig(salt_threshold=8, n_shards=5))
    return root, open_index(spark, root)


def test_serve_matches_exact_path_with_lru_churn(spark, salted):
    """Differential test against the exact Spark path on a salted
    multi-run index, with a 2-entry LRU so the cache churns between
    queries: docno, docid and float32 score bits agree for OOV tokens,
    duplicated tokens (qtf=2) and a term with df > N/2 (negative okapi
    idf). The inputs include a query mixing a cached term with uncached
    ones that overflow the cache: eviction must never drop a term the
    query needs."""
    import pyarrow.dataset as pads

    root, idx = salted
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

    want = _exact(spark, idx, queries)
    searcher = LocalSearcher(root, cache_runs=2)
    for q in queries:
        assert _bits(searcher.search(q["query"], k=K)) == _bits(want[q["qid"]]), q
    assert any(any(r["score"] < 0 for r in rows) for rows in want.values())


def test_serve_postings_resident_after_first_miss(spark, salted):
    """Every miss slices the serve image's mapped postings column; no
    miss reads the parquet postings. With the postings directory renamed
    away, a searcher that has missed once (2-entry LRU, so entries are
    evicted and decoded again), one opened before the rename and one
    opened after it serve never-cached terms of every df band
    bit-identically to the exact path."""
    import pyarrow.dataset as pads

    root, idx = salted
    dic = pads.dataset(f"{root}/dictionary").to_table().to_pandas()
    by_df = dic.sort_values(["df", "term"], ascending=False)["term"].tolist()
    # every df band, salted terms to hapax ones, none requested yet
    picks = [t for t in by_df[:: max(1, len(by_df) // 40)] if t != "import"]
    texts = ["import"] + picks + [" ".join(picks[i:i + 3]) for i in range(0, 30, 3)]
    texts += [f"{picks[0]} {picks[0]} zzq_oov_token", "import"]  # import: evicted
    queries = [{"qid": f"r{i:02d}", "query": t} for i, t in enumerate(texts)]
    want = _exact(spark, idx, queries)

    searcher = LocalSearcher(root, cache_runs=2)
    assert _bits(searcher.search("import", k=K)) == _bits(want["r00"])
    unloaded = LocalSearcher(root)
    postings, away = os.path.join(root, "postings"), os.path.join(root, "postings_away")
    os.rename(postings, away)
    try:
        for s in (searcher, unloaded, LocalSearcher(root, cache_runs=2)):
            for q in queries:
                assert _bits(s.search(q["query"], k=K)) == _bits(want[q["qid"]]), q
    finally:
        os.rename(away, postings)


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    """A salted index over 120 docs grown by append_delta with 80 more,
    never refreshed: (root, base n_docs)."""
    from ivory_spark.corpus import generate_corpus
    from ivory_spark.index.compact import append_delta

    d = tmp_path_factory.mktemp("idx_serve_appended")
    full = generate_corpus(200, seed=31).drop(columns=["sha256"])
    base, delta = str(d / "base.parquet"), str(d / "delta.parquet")
    full.iloc[:120].to_parquet(base, index=False)
    full.iloc[120:].to_parquet(delta, index=False)
    root = str(d / "idx")
    build_index(spark, base, root, IndexConfig(salt_threshold=8, n_shards=5))
    with open(os.path.join(root, "properties.json")) as f:
        n_base = json.load(f)["n_docs"]
    append_delta(spark, root, delta)
    return root, n_base


def test_serve_misses_from_chunked_resident_buffer_on_appended_index(spark, appended):
    """The serve image of an appended multi-file index is written from a
    parquet blob column of several chunks. With a 2-entry LRU, queries whose
    missed terms have runs in both the base and the delta files equal the
    exact path bit for bit. Once indexed, _runs_for's frame holds exactly
    the (termid, blob) rows of the runs it decoded, in resident order
    (termid, then file order): only the missed terms' runs, none when
    every term hits."""
    import pyarrow.dataset as pads

    from ivory_spark.index.reader import open_index

    root, n_base = appended
    postings = pads.dataset(os.path.join(root, "postings"))
    tab = postings.to_table(columns=["termid", "first_docno", "blob"])
    assert tab["blob"].num_chunks > 1
    runs = tab.select(["termid", "first_docno"]).to_pandas()
    sides = (runs["first_docno"] > n_base).groupby(runs["termid"]).nunique()
    dic = pads.dataset(os.path.join(root, "dictionary")).to_table().to_pandas()
    dic = dic[dic["termid"].isin(sides.index[sides == 2])].sort_values(["df", "term"])
    both = dic["term"].tolist()[:: max(1, len(dic) // 12)]
    assert len(both) >= 6
    texts = both + [" ".join(both[i : i + 3]) for i in range(0, len(both), 3)]
    texts += [f"{both[0]} {both[0]} zzq_oov_token {both[-1]}", f"{both[1]} {both[-2]}"]
    queries = [{"qid": f"a{i:02d}", "query": t} for i, t in enumerate(texts)]
    want = _exact(spark, open_index(spark, root), queries)
    searcher = LocalSearcher(root, cache_runs=2)
    for q in queries:
        assert _bits(searcher.search(q["query"], k=K)) == _bits(want[q["qid"]]), q

    order = np.argsort(tab["termid"].to_numpy(), kind="stable")
    resident = list(zip(tab["termid"].to_numpy()[order].tolist(),
                        tab["blob"].take(order).to_pylist()))
    tids = sorted(dic["termid"].tolist()[:3])
    fresh = LocalSearcher(root, cache_runs=2)
    fresh._runs_for(tids[:1])
    out = fresh._runs_for(tids)  # tids[0] hits; the other two miss
    got = list(zip(out["termid"].tolist(), out["blob"].tolist()))
    assert got == [r for r in resident if r[0] in tids[1:]]
    assert len(out) == len(got) > 2
    assert len(fresh._runs_for(tids)["termid"]) == 0


def test_serve_override_params_never_reuse_cached_impacts(spark, appended, monkeypatch):
    """A BM25 entry caches its impacts under the index's own k1, b and
    idf. One searcher with a 2-entry LRU serves default queries, params
    equal to the index's own (a model XML's filled-in defaults) and
    k1/b, classic-idf and okapi-positive-idf overrides, interleaved over
    the same terms of the appended, never-refreshed index: one-term
    queries, a one-term qtf=2 query and a term with df > N/2 (negative
    okapi idf) among them. Every result equals bm25_topk run with the
    same params, bit for bit, so no override reads a cached impact and
    no default query reads an override's. Params equal to the index's
    read the cached impacts: with every term cached, they recompute no
    tf_part."""
    from ivory_spark.query import serve
    import pyarrow.dataset as pads

    from ivory_spark.index.reader import open_index
    from ivory_spark.query.exact import bm25_topk

    root, _ = appended
    idx = open_index(spark, root)
    dic = pads.dataset(os.path.join(root, "dictionary")).to_table().to_pandas()
    dic = dic.sort_values(["df", "term"], ascending=False)
    hi = dic["term"].iloc[0]
    assert dic["df"].iloc[0] > idx.properties["n_docs"] / 2  # okapi idf < 0
    mid, low = dic["term"].iloc[len(dic) // 20], dic["term"].iloc[len(dic) // 5]
    kb = {"k1": 0.9, "b": 0.4}
    own = {"k1": 1.2, "b": 0.75, "idf": "okapi"}  # batch._parse_feature's defaults
    props = idx.properties
    assert (props["k1"], props["b"], props["idf_mode"]) == (own["k1"], own["b"], own["idf"])
    cases = [
        (f"{hi} {mid}", None), (f"{hi} {mid}", kb), (f"{hi} {mid}", None),
        (mid, None), (mid, kb), (f"{mid} {mid}", None), (f"{mid} {mid}", kb),
        (hi, None), (hi, {"idf": "classic"}), (hi, None),
        (f"{hi} {low} {mid}", {"idf": "classic"}), (f"{hi} {low} {mid}", None),
        (f"{low} {low}", {"idf": "okapi-positive"}), (f"{low} {low}", None),
        (f"{mid} {hi} {low}", {"idf": "okapi-positive"}), (f"{mid} {hi} {hi}", None),
        (f"{low} {mid}", kb), (f"{low} {mid}", None),
        (f"{hi} {mid}", own), (f"{mid} {mid}", own), (f"{low} {mid}", own),
    ]
    want = {}
    for params in (None, kb, {"idf": "classic"}, {"idf": "okapi-positive"}, own):
        queries = [{"qid": f"o{i:02d}", "query": t} for i, (t, q) in enumerate(cases) if q == params]
        rows = bm25_topk(spark, idx, queries, k=K, params=params).orderBy("qid", "rank").collect()
        for q in queries:
            want[q["qid"]] = [r for r in rows if r["qid"] == q["qid"]]
    searcher = LocalSearcher(root, cache_runs=2)
    for i, (text, params) in enumerate(cases):
        got = searcher.search(text, k=K, params=params)
        assert got and _bits(got) == _bits(want[f"o{i:02d}"]), (text, params)
    assert any(r["score"] < 0 for r in want["o07"])

    def no_tf_part(*a, **kw):
        raise AssertionError("cached impacts not read")

    searcher.search(f"{hi} {mid} {low}", k=K)  # all three terms cached
    monkeypatch.setattr(serve, "bm25_tf_part", no_tf_part)
    for i, (text, params) in enumerate(cases[-3:], start=len(cases) - 3):
        assert _bits(searcher.search(text, k=K, params=params)) == _bits(want[f"o{i:02d}"])
        assert _bits(searcher.search(text, k=K)) == _bits(want[f"o{i:02d}"])


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


def test_serve_sd_matches_oracle(served_pos, tiny_corpus):
    """Warm SD serving is float32 bit-identical to the numpy oracle
    (shared clique + score_docs_batch kernels)."""
    from ivory_spark.query.mrf import MrfModel, oracle_mrf_topk

    searcher = LocalSearcher(served_pos)
    oi = build_oracle_index(tiny_corpus.drop(columns=["sha256"]))
    queries = [
        {"qid": "s1", "query": "import class"},
        {"qid": "s2", "query": "public static void"},
        {"qid": "s3", "query": "import"},
    ]
    golden = oracle_mrf_topk(oi, queries, MrfModel(dependence="sd"))
    for q in queries:
        got = searcher.search_sd(q["query"], k=10)
        want = golden[q["qid"]]
        assert [g["docno"] for g in got] == [w["docno"] for w in want], q["qid"]
        gb = np.array([g["score"] for g in got], dtype=np.float32).view(np.uint32)
        wb = np.array([w["score"] for w in want], dtype=np.float32).view(np.uint32)
        assert np.array_equal(gb, wb), q["qid"]


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
