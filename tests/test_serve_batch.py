"""Batch BM25 on the serve kernel (query/batch.bm25_topk_serve, the
route run_batch takes for bm25): each Spark Python worker scores its
slice of the queries with a LocalSearcher it keeps across batches. The
rows must equal the exact relational plan's (exact.bm25_topk) bit for
bit, docids included, on an appended index whose bounds were never
refreshed; a batch after an append must see the appended docs; and
past the memory budget the batch runs the exact plan. wand.bm25_topk_wand
returns the same batch once the index's bounds are refreshed."""

import re
import shutil

import numpy as np
import pytest

from ivory_spark.corpus import QUERY_SET, generate_corpus
from ivory_spark.index import build
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.compact import append_delta, refresh_bounds
from ivory_spark.index.reader import open_index
from ivory_spark.query import batch
from ivory_spark.query.batch import Model, bm25_topk_serve, run_batch
from ivory_spark.query.exact import bm25_topk
from ivory_spark.query.wand import bm25_topk_wand

N_BASE, N_DELTA = 120, 80
CFG = IndexConfig(salt_threshold=8, n_shards=5)


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    """base and delta corpus paths; the delta repeats 40 base docs,
    which append_delta drops as duplicates."""
    d = tmp_path_factory.mktemp("serve_batch_corpora")
    full = generate_corpus(N_BASE + N_DELTA, seed=31).drop(columns=["sha256"])
    paths = {}
    for name, pdf in (("base", full.iloc[:N_BASE]), ("delta", full.iloc[N_DELTA:])):
        paths[name] = str(d / f"{name}.parquet")
        pdf.to_parquet(paths[name], index=False)
    return paths


@pytest.fixture(scope="module")
def appended(spark, corpora, tmp_path_factory):
    """A salted multi-run index grown by append_delta, never refreshed,
    and queries with OOV tokens, qtf=2 and a df > N/2 term."""
    import pyarrow.dataset as pads

    root = str(tmp_path_factory.mktemp("serve_batch") / "appended")
    build_index(spark, corpora["base"], root, CFG)
    append_delta(spark, root, corpora["delta"])
    idx = open_index(spark, root)
    assert idx.properties["bounds_stale"] is True
    dic = pads.dataset(f"{root}/dictionary").to_table().to_pandas()
    hi = dic.sort_values(["df", "term"], ascending=False).iloc[0]
    assert hi["df"] > idx.properties["n_docs"] / 2, hi  # okapi idf < 0
    runs = pads.dataset(f"{root}/postings").to_table(columns=["termid"]).to_pandas()
    assert runs["termid"].value_counts()[hi["termid"]] > 1  # several runs
    hi = hi["term"]
    texts = [q["query"] for q in QUERY_SET]  # OOV (q005), qtf=2 (q004)
    texts += [hi, f"{hi} {hi} zzq_oov_token class", f"{hi} import import", "zzq_oov_token"]
    # qids out of order: the batch returns them sorted
    queries = [{"qid": f"d{i:02d}", "query": t} for i, t in reversed(list(enumerate(texts)))]
    return idx, queries


def _rows(df) -> list[tuple]:
    """Collected rows in arrival order, scores as float32 bits."""
    return [
        tuple(np.float32(v).view(np.uint32).item() if c == "score" else v
              for c, v in r.asDict().items())
        for r in df.collect()
    ]


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_serve_batch_matches_exact_on_appended_index(spark, appended):
    """bm25_topk_serve and run_batch equal bm25_topk bit for bit, with
    and without docids, under k1/b/idf overrides, with k above every
    query's candidate count, and for an empty query list."""
    idx, queries = appended
    cases = [
        (10, True, None),
        (10, False, {"k1": 2.0, "b": 0.4}),
        (10, True, {"idf": "classic"}),
        (1000, True, {"k1": 0.9, "b": 0.3, "idf": "okapi-positive"}),
        (1000, False, None),
    ]
    for k, with_docid, params in cases:
        want = _rows(bm25_topk(spark, idx, queries, k=k, with_docid=with_docid, params=params))
        got = _rows(bm25_topk_serve(spark, idx, queries, k=k, with_docid=with_docid,
                                    params=params))
        assert got == want, (k, with_docid, params)
        if params is None and k == 10:
            assert any(r[-1] >= 1 << 31 for r in want)  # a negative score ranks
        if k == 1000:
            assert max(r[1] for r in want) < k  # every query has fewer candidates
    for params in ({}, {"k1": 2.0, "b": 0.4, "idf": "classic"}):
        want = _rows(bm25_topk(spark, idx, queries, k=10, params=params))
        assert _rows(run_batch(spark, idx, queries, Model(params=params))) == want
    empty = bm25_topk_serve(spark, idx, [])
    assert empty.collect() == [] and empty.schema == bm25_topk(spark, idx, []).schema


def test_serve_batch_snapshot_follows_append_and_refresh(spark, corpora, tmp_path):
    """Three batches in one session, so the Python workers and their
    searchers carry over: after append_delta the batch returns the
    appended docs and equals bm25_topk on the stale index; after
    refresh_bounds it is unchanged, and bm25_topk_wand equals bm25_topk
    with and without docids. Rows arrive in (qid, rank) order from a
    plan with no sort, window or shuffle. A worker holding the
    pre-append snapshot key refuses to open the grown index."""
    root = str(tmp_path / "idx")
    build_index(spark, corpora["base"], root, CFG)
    queries = [{"qid": q["qid"], "query": q["query"]} for q in reversed(QUERY_SET)]

    def run(df):
        plan = _plan(df)
        assert "MapInPandas" in plan
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert not re.search(r"\b(Sort|Window|Exchange)\b", plan), plan
        rows = _rows(df)
        assert [r[:2] for r in rows] == sorted(r[:2] for r in rows)
        return rows

    base = open_index(spark, root)
    first = run(run_batch(spark, base, queries))
    assert first
    pinned, _ = batch._snapshot(base)

    append_delta(spark, root, corpora["delta"])
    grown = open_index(spark, root)
    second = run(run_batch(spark, grown, queries))
    assert second == _rows(bm25_topk(spark, grown, queries))
    assert second != first and max(r[2] for r in second) > base.n_docs
    try:
        with pytest.raises(RuntimeError, match="changed after the batch pinned it"):
            batch._worker_searcher(pinned)
    finally:
        batch._WORKER.update(key=None, searcher=None)

    refresh_bounds(spark, root)
    refreshed = open_index(spark, root)
    assert run(run_batch(spark, refreshed, queries)) == second
    for with_docid in (True, False):
        want = _rows(bm25_topk(spark, refreshed, queries, with_docid=with_docid))
        got = run(bm25_topk_wand(spark, refreshed, queries, with_docid=with_docid))
        assert got == want, with_docid


def test_serve_batch_budget_routes_to_exact(spark, appended, monkeypatch, tmp_path):
    """Within the budget the batch is one MapInPandas over the query
    slices, reading no parquet in the plan; with a zero budget it is the
    exact plan (parquet postings scan, window top-k) with the same rows,
    through run_batch and, on a refreshed copy of the index,
    bm25_topk_wand."""
    idx, queries = appended
    plan = _plan(run_batch(spark, idx, queries))
    assert "MapInPandas" in plan and "FileScan" not in plan and "Window" not in plan
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    want = _rows(bm25_topk(spark, idx, queries))
    root = str(tmp_path / "refreshed")
    shutil.copytree(idx.root, root)
    refresh_bounds(spark, root)
    refreshed = open_index(spark, root)

    monkeypatch.setattr(build, "BROADCAST_BUDGET_BYTES", 0)
    for df in (run_batch(spark, idx, queries), bm25_topk_wand(spark, refreshed, queries)):
        plan = _plan(df)
        assert "FileScan parquet" in plan and "Window" in plan
        assert _rows(df) == want


def test_all_oov_batch_is_empty_and_its_result_starts_no_job(
    spark, appended, jobs_started, tmp_path
):
    """An all-OOV batch returns no rows, with the column names and types
    a batch with hits has (the exact plan's rank is not nullable). Where
    the driver's term lookup finds no term (bm25_topk_wand, bm25_topk,
    run_batch's other scorers) the result is an empty local frame, and
    neither the call, its term lookup included, nor collecting its
    result starts a Spark job. Each case asks for OOV terms no earlier
    call asked for, since the Index's memo keeps OOV terms too. The
    serve kernel (run_batch's bm25 route) learns of the OOV terms in its
    workers: one job, over the query slices as a LocalTableScan."""
    idx, queries = appended
    root = str(tmp_path / "refreshed")
    shutil.copytree(idx.root, root)
    refresh_bounds(spark, root)
    refreshed = open_index(spark, root)
    fresh = iter(range(1000))

    def oov_batch():
        n = next(fresh)
        return [
            {"qid": "o1", "query": f"zzq_oov_{n}"},
            {"qid": "o2", "query": f"zzq_oov zzq_oov_{n}"},
        ]

    def call_and_collect(call, qs):
        df = call(qs)
        return df, df.collect()

    dirichlet = Model(scorer="dirichlet")
    cases = [
        (with_docid, call)
        for with_docid in (True, False)
        for call in (
            lambda qs, w=with_docid: bm25_topk_wand(spark, refreshed, qs, with_docid=w),
            lambda qs, w=with_docid: bm25_topk(spark, idx, qs, with_docid=w),
        )
    ] + [("dirichlet", lambda qs: run_batch(spark, idx, qs, dirichlet))]
    for name, call in cases:
        want = call(queries).schema.simpleString()
        oov = oov_batch()
        (df, rows), jobs = jobs_started(lambda: call_and_collect(call, oov))
        assert rows == [] and jobs == [], name
        assert df.schema.simpleString() == want, name
    oov = oov_batch()
    df = run_batch(spark, idx, oov)
    rows, jobs = jobs_started(df.collect)
    assert rows == [] and len(jobs) == 1
    assert df.schema == run_batch(spark, idx, queries).schema
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
