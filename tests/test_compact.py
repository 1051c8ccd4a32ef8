"""Incremental delta append + bounds refresh (index/compact.py): an
index grown by append_delta must hold the same logical content as a full
rebuild over base+delta (stats, doclens, per-term postings), exact BM25
must agree with the full rebuild, the warm LocalSearcher must serve the
appended index bit-identically to the exact path before any refresh,
WAND must refuse stale bounds until refresh_bounds, and then be
bit-identical to the exact path."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ivory_spark.corpus import QUERY_SET, generate_corpus
from ivory_spark.index import codec
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.compact import append_delta, refresh_bounds
from ivory_spark.index.reader import open_index
from ivory_spark.query.exact import bm25_topk
from ivory_spark.query.serve import LocalSearcher
from ivory_spark.query.wand import bm25_topk_wand

N_BASE, N_DELTA = 120, 80


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("compact")
    full = generate_corpus(N_BASE + N_DELTA, seed=29)
    base_pdf, delta_pdf = full.iloc[:N_BASE], full.iloc[N_DELTA:]  # overlap
    # the overlap region [N_DELTA, N_BASE) duplicates base content —
    # append must drop those rows via the sha256 anti-join
    paths = {}
    for name, pdf in (("base", base_pdf), ("delta", delta_pdf), ("full", full)):
        p = str(d / f"{name}.parquet")
        pdf.drop(columns=["sha256"], errors="ignore").to_parquet(p, index=False)
        paths[name] = p
    appended_root = str(d / "appended")
    rebuilt_root = str(d / "rebuilt")
    cfg = IndexConfig(salt_threshold=40, n_shards=5)
    build_index(spark, paths["base"], appended_root, cfg)
    props = append_delta(spark, appended_root, paths["delta"])
    build_index(spark, paths["full"], rebuilt_root, cfg)
    return appended_root, rebuilt_root, props


def test_append_stats_match_full_rebuild(spark, roots):
    appended_root, rebuilt_root, props = roots
    a, r = open_index(spark, appended_root), open_index(spark, rebuilt_root)
    assert props["bounds_stale"] is True
    assert a.properties["n_docs"] == r.properties["n_docs"]
    assert a.properties["collection_length"] == r.properties["collection_length"]
    assert a.properties["n_terms"] == r.properties["n_terms"]
    # per-term global stats identical (termids may differ by design)
    sa = {x["term"]: (x["df"], x["cf"]) for x in a.dictionary.collect()}
    sr = {x["term"]: (x["df"], x["cf"]) for x in r.dictionary.collect()}
    assert sa == sr
    # doclen multiset identical
    da = sorted(x["doclen"] for x in spark.read.parquet(
        os.path.join(appended_root, "doclens")).collect())
    dr = sorted(x["doclen"] for x in spark.read.parquet(
        os.path.join(rebuilt_root, "doclens")).collect())
    assert da == dr


def test_append_postings_content_match(spark, roots):
    """Per-term decoded postings (as (tf, dl) multisets) equal the full
    rebuild's — docnos differ (append freezes base docnos; the rebuild
    renumbers the whole ordering) but content must not."""
    appended_root, rebuilt_root, _ = roots
    for root_a, root_b in ((appended_root, rebuilt_root),):
        a, r = open_index(spark, root_a), open_index(spark, root_b)
        ta = {x["term"]: x["termid"] for x in a.dictionary.collect()}
        tr = {x["term"]: x["termid"] for x in r.dictionary.collect()}
        pa = spark.read.parquet(os.path.join(root_a, "postings")).collect()
        pb = spark.read.parquet(os.path.join(root_b, "postings")).collect()

        def content(rows):
            by_tid = {}
            for x in rows:
                d, tf, dl = codec.decode_run(bytes(x["blob"]))
                by_tid.setdefault(x["termid"], []).extend(zip(tf.tolist(), dl.tolist()))
            return by_tid
        ca, cb = content(pa), content(pb)
        for term, tid in ta.items():
            assert sorted(ca.get(tid, [])) == sorted(cb.get(tr[term], [])), term


def test_append_exact_bm25_matches_rebuild(spark, roots):
    """Exact-path BM25 scores on the appended index equal the full
    rebuild's (same docs by identity, scores allclose — the float32 fold
    order differs because termid rankings differ by design)."""
    appended_root, rebuilt_root, _ = roots
    a, r = open_index(spark, appended_root), open_index(spark, rebuilt_root)
    qs = QUERY_SET[:6]
    ra = bm25_topk(spark, a, qs, k=10)
    rr = bm25_topk(spark, r, qs, k=10)
    ga = {(x["qid"], x["docid"]): x["score"] for x in ra.collect()}
    gr = {(x["qid"], x["docid"]): x["score"] for x in rr.collect()}
    # per-qid score multisets equal (ties at the k-cutoff may admit a
    # different equal-scored doc: the docno tie-break keys differ between
    # the two indexes by design)
    by_qid_a: dict = {}
    by_qid_r: dict = {}
    for (qid, _), s in ga.items():
        by_qid_a.setdefault(qid, []).append(round(float(s), 4))
    for (qid, _), s in gr.items():
        by_qid_r.setdefault(qid, []).append(round(float(s), 4))
    for qid in by_qid_a:
        assert sorted(by_qid_a[qid]) == sorted(by_qid_r[qid]), qid
    # and every doc retrieved by both carries (almost) the same score
    shared = set(ga) & set(gr)
    assert len(shared) >= len(ga) - len(by_qid_a)  # at most one boundary swap per qid
    for key in shared:
        assert np.isclose(ga[key], gr[key], rtol=1e-5), key


def test_serve_appended_index_matches_exact_before_refresh(spark, roots):
    """LocalSearcher reads no block-max bounds and takes df from the
    dictionary (append_delta leaves the postings rows' df stale), so it
    serves the appended index bit-identically to the exact path while
    bounds are still stale. Must run before the refresh test below,
    which refreshes the index in place."""
    appended_root, _, _ = roots
    a = open_index(spark, appended_root)
    assert a.properties["bounds_stale"] is True

    def bits(r):
        return r["docno"], r["docid"], np.float32(r["score"]).view(np.uint32).item()

    exact: dict = {q["qid"]: [] for q in QUERY_SET}
    for x in bm25_topk(spark, a, QUERY_SET, k=10).orderBy("qid", "rank").collect():
        exact[x["qid"]].append(bits(x))
    searcher = LocalSearcher(appended_root)
    for q in QUERY_SET:
        got = [bits(r) for r in searcher.search(q["query"], k=10)]
        assert got == exact[q["qid"]], q["qid"]


def test_wand_refuses_stale_bounds_then_matches_after_refresh(spark, roots):
    appended_root, _, _ = roots
    a = open_index(spark, appended_root)
    with pytest.raises(ValueError, match="stale"):
        bm25_topk_wand(spark, a, QUERY_SET[:1], k=5)
    props = refresh_bounds(spark, appended_root)
    assert props["bounds_stale"] is False
    a2 = open_index(spark, appended_root)
    qs = QUERY_SET[:6]
    exact = bm25_topk(spark, a2, qs, k=10).collect()
    wand = bm25_topk_wand(spark, a2, qs, k=10).collect()
    ea = [(x["qid"], x["docno"], np.float32(x["score"]).view(np.uint32).item()) for x in exact]
    wa = [(x["qid"], x["docno"], np.float32(x["score"]).view(np.uint32).item()) for x in wand]
    assert ea == wa  # bit-identical after bounds refresh


def test_append_drops_cross_base_duplicates(spark, roots):
    appended_root, rebuilt_root, props = roots
    # the overlap rows duplicated base content: appended n_docs equals the
    # rebuild's (which deduped them the same way), and only one delta
    # batch was recorded
    assert len(props["appended_deltas"]) == 1
    n_delta_rows = N_BASE + N_DELTA - N_DELTA  # delta slice = rows 80..199
    n_appended = props["appended_deltas"][0]["n_docs"]
    # overlap rows (N_BASE - N_DELTA of them duplicate base content) were
    # dropped by the sha256 anti-join
    assert 0 < n_appended <= n_delta_rows - (N_BASE - N_DELTA)


def test_partial_append_detected_and_repaired(spark, tmp_path_factory):
    """A crashed append leaves rows beyond the committed properties:
    validate_index must detect them, repair_partial_append must remove
    them, and queries must be unchanged afterwards."""
    import shutil

    from ivory_spark.corpus import generate_corpus
    from ivory_spark.index.compact import repair_partial_append
    from ivory_spark.plans.validate import IndexValidationError, validate_index

    d = tmp_path_factory.mktemp("repair")
    p = str(d / "c.parquet")
    generate_corpus(80, seed=31).drop(columns=["sha256"], errors="ignore").to_parquet(
        p, index=False
    )
    root = str(d / "idx")
    build_index(spark, p, root, IndexConfig(salt_threshold=40, n_shards=5))
    idx = open_index(spark, root)
    before = {(r["qid"], r["docno"]) for r in
              bm25_topk(spark, idx, QUERY_SET[:2], k=5, with_docid=False).collect()}

    # simulate the crash: orphan rows beyond properties' n_docs in
    # docmap and doclens (as a mid-append failure would leave)
    n_docs = idx.properties["n_docs"]
    spark.createDataFrame(
        [(n_docs + 1, 7)], "docno long, doclen int"
    ).write.mode("append").parquet(os.path.join(root, "doclens"))
    dm = spark.read.parquet(os.path.join(root, "docmap")).limit(1).withColumn(
        "docno", F.lit(n_docs + 1).cast("long")
    )
    dm.write.mode("append").parquet(os.path.join(root, "docmap"))

    with pytest.raises(IndexValidationError):
        validate_index(spark, open_index(spark, root))
    with pytest.raises(ValueError, match="1..n_docs"):
        LocalSearcher(root)  # docmap is no longer 1..n_docs

    repair_partial_append(spark, root)
    repaired = open_index(spark, root)
    validate_index(spark, repaired)  # passes again
    after = {(r["qid"], r["docno"]) for r in
             bm25_topk(spark, repaired, QUERY_SET[:2], k=5, with_docid=False).collect()}
    assert after == before
    searcher = LocalSearcher(root)
    served = {(q["qid"], r["docno"]) for q in QUERY_SET[:2]
              for r in searcher.search(q["query"], k=5)}
    assert served == before


def test_stream_to_index_integration(spark, tiny_corpus, tmp_path):
    """The full streaming division of labor: documents arrive on a
    stream, streaming_exact_dedup drops within-horizon duplicates, the
    survivors stage to parquet, append_delta folds them into the batch
    index (dropping docs whose content the base already has), and after
    refresh_bounds the WAND path retrieves the new documents."""
    import pandas as pd

    from ivory_spark.index.compact import repair_partial_append  # noqa: F401
    from ivory_spark.streaming.ingest import (
        read_document_stream,
        run_to_parquet,
        streaming_exact_dedup,
    )

    base_pdf = tiny_corpus.head(60).drop(columns=["sha256"])
    base_path = str(tmp_path / "base.parquet")
    base_pdf.to_parquet(base_path, index=False)
    root = str(tmp_path / "idx")
    build_index(spark, base_path, root, IndexConfig(salt_threshold=30, n_shards=4))
    n0 = open_index(spark, root).properties["n_docs"]

    # stream: one brand-new doc (unique token), one duplicate of a base
    # doc (same content), and the new doc re-delivered (stream dedup)
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    new_text = "zzzuniqueterm appears here exactly once in the collection"
    rows = pd.DataFrame(
        {
            "repo": ["r2"] * 3,
            "path": ["new1", "dup1", "new1b"],
            "commit": ["c1", "c2", "c3"],
            "lang": ["x"] * 3,
            "content": [new_text, base_pdf["content"].iloc[0], new_text],
            "ingest_ts": pd.Series([pd.Timestamp("2026-01-02")] * 3).astype(
                "datetime64[us]"
            ),
        }
    )
    rows.to_parquet(os.path.join(stream_dir, "b0.parquet"), index=False)

    delta_dir = str(tmp_path / "delta")
    run_to_parquet(
        streaming_exact_dedup(read_document_stream(spark, stream_dir)),
        delta_dir,
        str(tmp_path / "ckpt"),
    )

    from ivory_spark.index.compact import append_delta, refresh_bounds

    props = append_delta(spark, root, delta_dir)
    # only the ONE genuinely-new document survived both dedup layers
    assert props["n_docs"] == n0 + 1
    refresh_bounds(spark, root)
    idx = open_index(spark, root)
    hits = bm25_topk_wand(
        spark, idx, [{"qid": "s1", "query": "zzzuniqueterm"}], k=5
    ).collect()
    assert len(hits) == 1 and hits[0]["docno"] == n0 + 1


def test_repair_restores_interrupted_dictionary_swap(spark, tmp_path):
    """Crash window between the dictionary renames: only dictionary_old
    (pre-append) exists — repair must restore it, not delete it."""
    import shutil

    from ivory_spark.index.compact import repair_partial_append
    from ivory_spark.plans.validate import validate_index

    base = generate_corpus(60, seed=37)
    p = str(tmp_path / "c.parquet")
    base.drop(columns=["sha256"], errors="ignore").to_parquet(p, index=False)
    root = str(tmp_path / "idx")
    build_index(spark, p, root, IndexConfig(salt_threshold=30, n_shards=4))
    # simulate: dictionary renamed aside, new one never arrived
    shutil.move(os.path.join(root, "dictionary"), os.path.join(root, "dictionary_old"))
    repair_partial_append(spark, root)
    idx = open_index(spark, root)
    validate_index(spark, idx)
    assert bm25_topk(spark, idx, QUERY_SET[:1], k=3).count() > 0
