"""Incremental delta append + bounds refresh (index/compact.py): an
index grown by append_delta must hold the same logical content as a full
rebuild over base+delta (stats, doclens, per-term postings), exact BM25
must agree with the full rebuild, the warm LocalSearcher must serve the
appended index bit-identically to the exact path before any refresh,
WAND must refuse stale bounds until refresh_bounds, and then be
bit-identical to the exact path."""

import os
import shutil
from collections import Counter
from functools import partial

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from codec_ref import decode_run
from ivory_spark.corpus import QUERY_SET, generate_corpus
from ivory_spark.index import image
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.compact import append_delta, refresh_bounds
from ivory_spark.index.reader import artifact_rows, open_index, read_artifact
from ivory_spark.plans.manifest import load_manifest
from ivory_spark.query.exact import bm25_topk, query_term_rows
from ivory_spark.query.serve import LocalSearcher
from ivory_spark.query.wand import bm25_topk_wand

N_BASE, N_DELTA = 120, 80


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    """base, delta and full (base + delta) corpus paths."""
    d = tmp_path_factory.mktemp("compact_corpora")
    full = generate_corpus(N_BASE + N_DELTA, seed=29)
    base_pdf, delta_pdf = full.iloc[:N_BASE], full.iloc[N_DELTA:]  # overlap
    # the overlap region [N_DELTA, N_BASE) duplicates base content —
    # append must drop those rows via the sha256 anti-join
    paths = {}
    for name, pdf in (("base", base_pdf), ("delta", delta_pdf), ("full", full)):
        p = str(d / f"{name}.parquet")
        pdf.drop(columns=["sha256"], errors="ignore").to_parquet(p, index=False)
        paths[name] = p
    return paths


@pytest.fixture(scope="module")
def roots(spark, corpora, tmp_path_factory):
    d = tmp_path_factory.mktemp("compact")
    paths = corpora
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


def test_open_index_starts_no_job(spark, roots, jobs_started):
    """open_index reads each artifact under the schema in its first
    file's footer: opening an appended index starts no Spark job, and
    every frame has the schema spark.read.parquet would infer."""
    appended_root = roots[0]
    idx, jobs = jobs_started(lambda: open_index(spark, appended_root))
    assert jobs == []
    for name in ("docmap", "doclens", "dictionary", "postings"):
        inferred = spark.read.parquet(os.path.join(appended_root, name)).schema
        assert getattr(idx, name).schema == inferred, name


def test_footer_counts_and_tdf_schema(spark, roots):
    """On the appended index, whose artifacts span base and delta files,
    artifact_rows counts what a Spark read counts, and read_artifact
    reads tdf under the schema a Spark read infers."""
    appended_root = roots[0]
    for name in ("docmap", "tdf", "doclens", "dictionary", "postings"):
        p = os.path.join(appended_root, name)
        assert len([f for f in os.listdir(p) if f.endswith(".parquet")]) > 1, name
        assert artifact_rows(p) == spark.read.parquet(p).count(), name
    tdf = os.path.join(appended_root, "tdf")
    assert read_artifact(spark, tdf).schema == spark.read.parquet(tdf).schema


def test_appended_docmap_keeps_build_column_order(spark, roots):
    """append_delta writes its docmap files under the build's footer
    schema, so an appended docmap is schema-homogeneous and opens with
    its columns in build order whichever data file sorts first."""
    from ivory_spark.index.reader import _SPARK_SCHEMA_KEY, _data_files

    appended_root, rebuilt_root, _ = roots

    def footer(f):
        return pq.read_metadata(f).metadata[_SPARK_SCHEMA_KEY]

    want = {footer(f) for f in _data_files(os.path.join(rebuilt_root, "docmap"))}
    assert len(want) == 1
    files = _data_files(os.path.join(appended_root, "docmap"))
    assert len(files) > 1
    for f in files:
        assert {footer(f)} == want, f
    assert (
        open_index(spark, appended_root).docmap.columns
        == open_index(spark, rebuilt_root).docmap.columns
    )


def _spark_term_rows(index, queries):
    """query_term_rows as a Spark lookup: one filter(isin).collect() job
    over the dictionary, no memo."""
    from ivory_spark.functions.tokenizer import get_tokenizer

    tok = get_tokenizer(index.properties.get("tokenizer", "code_v1")).tokenize_py
    per_q = [(q["qid"], sorted(Counter(tok(q["query"])).items())) for q in queries]
    terms = sorted({t for _, counts in per_q for t, _ in counts})
    found = {
        r["term"]: (r["termid"], r["df"], r["cf"])
        for r in index.dictionary.filter(F.col("term").isin(terms))
        .select("term", "termid", "df", "cf")
        .collect()
    }
    rows = [
        (qid, found[t][0], qtf, found[t][1], found[t][2])
        for qid, counts in per_q
        for t, qtf in counts
        if t in found
    ]
    return rows, sorted({r[1] for r in rows})


def test_query_term_rows_matches_spark_lookup_and_starts_no_job(
    spark, roots, jobs_started
):
    """On the appended index, whose dictionary spans several files, the
    driver-side term lookup returns what the Spark filter(isin) lookup
    returns, row for row: OOV tokens, a duplicate token (qtf=2), a term
    only the append added, and a second batch that mixes memo hits with
    misses. Neither call starts a Spark job."""
    appended_root = roots[0]
    idx = open_index(spark, appended_root)
    assert len(idx.dictionary.inputFiles()) > 1
    n_new = load_manifest(appended_root, "append_0")["metrics"]["n_new_terms"]
    assert n_new > 0
    dic = sorted(
        (r["termid"], r["term"]) for r in idx.dictionary.select("termid", "term").collect()
    )
    added = dic[-1][1]  # new terms take termids past the base's
    assert dic[-1][0] > idx.properties["n_terms"] - n_new
    t1, t2, t3 = dic[0][1], dic[1][1], dic[len(dic) // 2][1]
    first = [
        {"qid": "a1", "query": f"{t1} {t1} {t2} zzq_oov_a"},
        {"qid": "a2", "query": "zzq_oov_b"},
        *QUERY_SET,
    ]
    second = [
        {"qid": "b1", "query": f"{t2} {added} zzq_oov_a zzq_oov_c"},
        {"qid": "b2", "query": f"{t3} {t3} {t1}"},
    ]
    for queries in (first, second):
        got, jobs = jobs_started(lambda: query_term_rows(idx, queries))
        assert jobs == []
        assert got == _spark_term_rows(idx, queries)
    assert dic[-1][0] in got[1]


def test_query_term_rows_on_an_index_opened_before_an_append_raises(
    spark, roots, tmp_path
):
    """An Index names the dictionary files it found at open. After an
    append swaps the dictionary, a lookup on the old Index raises; it
    never returns the new dictionary's stats."""
    root = str(tmp_path / "index")
    shutil.copytree(roots[0], root)
    old = open_index(spark, root)
    rows, _ = query_term_rows(old, QUERY_SET)
    assert rows
    delta = str(tmp_path / "delta2.parquet")
    generate_corpus(20, seed=47).drop(columns=["sha256"]).to_parquet(delta, index=False)
    assert append_delta(spark, root, delta)["n_docs"] > old.properties["n_docs"]
    with pytest.raises(FileNotFoundError):
        query_term_rows(old, [{"qid": "s1", "query": "class import zzq_fresh_term"}])


def test_stage_threads_carry_callers_job_group(spark, corpora, jobs_started, tmp_path):
    """Every Spark job build_index and append_delta start, the ones
    their stage threads start included, is tagged with the caller's job
    group: a call's group holds exactly the jobs between a one-row job
    before the call and one after it."""
    root = str(tmp_path / "index")
    cfg = IndexConfig(salt_threshold=40, n_shards=5)

    def trivial():
        return spark.range(1).collect()

    for call in (
        lambda: build_index(spark, corpora["base"], root, cfg),
        lambda: append_delta(spark, root, corpora["delta"]),
    ):
        _, before = jobs_started(trivial)
        _, jobs = jobs_started(call)
        _, after = jobs_started(trivial)
        assert sorted(jobs) == list(range(max(before) + 1, min(after)))


def test_side_by_side_with_pinned_thread_mode_off(spark, monkeypatch):
    """With pinned-thread mode off (PYSPARK_PIN_THREAD=false), pyspark's
    inheritable_thread_target hands back whatever it is given, the
    session included; run_side_by_side then runs its targets as they
    are, results in order and the first failure re-raised."""
    from ivory_spark.index import build

    monkeypatch.setattr(build, "inheritable_thread_target", lambda f=None: f)
    got = build.run_side_by_side(spark, lambda: 1, lambda: spark.range(3).count())
    assert got == [1, 3]
    with pytest.raises(ZeroDivisionError):
        build.run_side_by_side(spark, lambda: 2, lambda: 1 // 0)


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
                d, tf, dl = decode_run(bytes(x["blob"]))
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


def remapped_oracle(root: str, corpus_paths: list[str]):
    """The numpy oracle over the documents of the index at `root`, taken
    from the corpora by the (repo, path, commit) identities of the
    index's own docmap (so append's dedup decides which documents
    count), with its docnos and termids renumbered onto the index's:
    docnos matched by docid, termids by term. The renumbering makes tie
    order and termid-ordered folds bit-comparable with the index."""
    import dataclasses

    import pandas as pd
    import pyarrow.dataset as pads

    from ivory_spark.oracle import build_oracle_index

    ident = ["repo", "path", "commit"]
    dm = pads.dataset(f"{root}/docmap").to_table(columns=["docno", *ident]).to_pandas()
    corpus = pd.concat([pd.read_parquet(p) for p in corpus_paths]).drop_duplicates(ident)
    oi = build_oracle_index(corpus.merge(dm[ident], on=ident))
    assert oi.n_docs == len(dm)
    docno = {f"{r.repo}/{r.path}@{r.commit}": r.docno for r in dm.itertuples()}
    to_ix = {d: docno[docid] for d, docid in oi.docids.items()}
    dic = pads.dataset(f"{root}/dictionary").to_table(columns=["term", "termid", "df", "cf"])
    stats = {t: (tid, df, cf) for t, tid, df, cf in zip(*(c.to_pylist() for c in dic.columns))}
    termid = {t: v[0] for t, v in stats.items()}
    dictionary = {t: (termid[t], df, cf) for t, (_, df, cf) in oi.dictionary.items()}
    assert dictionary == stats
    return dataclasses.replace(
        oi,
        docids={to_ix[d]: v for d, v in oi.docids.items()},
        doclens={to_ix[d]: v for d, v in oi.doclens.items()},
        dictionary=dictionary,
        postings={t: sorted((to_ix[d], tf) for d, tf in pl) for t, pl in oi.postings.items()},
        positions={t: {to_ix[d]: p for d, p in m.items()} for t, m in oi.positions.items()},
    )


def test_serve_mixed_paths_on_appended_positional_index(spark, corpora, tmp_path):
    """On an appended, still-stale positional multi-run index, one
    searcher with a 2-entry LRU serves interleaved BM25, SD, sqe,
    dirichlet/jm/tfidf/f2exp queries and feature extraction, so both
    LRUs and the resident postings rows are shared across paths. Each
    result equals its independent reference bit for bit, for OOV tokens,
    qtf=2 and a df > N/2 term: bm25_topk for BM25, and for the rest the
    numpy oracle over the index's documents (remapped_oracle). run_batch
    returns the same rows for the four LM/tf scorers, and
    extract_features the same feature rows as the searcher, judged docs
    holding no query term included."""
    import pyarrow.dataset as pads

    from ivory_spark.functions.tokenizer import get_tokenizer
    from ivory_spark.oracle import oracle_scored_topk
    from ivory_spark.query.batch import Model, run_batch
    from ivory_spark.query.features import (
        _as_mrf,
        _combined_cliques,
        extract_features,
        feature_columns,
        oracle_extract_features,
    )
    from ivory_spark.query.mrf import MrfModel, oracle_mrf_topk
    from ivory_spark.query.sqe import oracle_sqe_topk

    root = str(tmp_path / "appended_pos")
    cfg = IndexConfig(positional=True, salt_threshold=40, n_shards=5)
    build_index(spark, corpora["base"], root, cfg)
    append_delta(spark, root, corpora["delta"])
    idx = open_index(spark, root)
    assert idx.properties["bounds_stale"] is True
    dic = pads.dataset(f"{root}/dictionary").to_table().to_pandas()
    hi = dic.sort_values(["df", "term"], ascending=False).iloc[0]
    assert hi["df"] > idx.properties["n_docs"] / 2, hi  # okapi idf < 0
    runs = pads.dataset(f"{root}/postings").to_table(columns=["termid"]).to_pandas()
    assert runs["termid"].value_counts()[hi["termid"]] > 1  # several runs
    hi = hi["term"]
    oi = remapped_oracle(root, [corpora["base"], corpora["delta"]])

    texts = [q["query"] for q in QUERY_SET[:8]]  # OOV (q005), qtf=2 (q004)
    texts += [hi, f"{hi} {hi} zzq_oov_token class", f"{hi} import import"]
    plain = [{"qid": f"b{i:02d}", "query": t} for i, t in enumerate(texts)]
    sd = [{"qid": f"m{i:02d}", "query": t} for i, t in enumerate(texts)]
    scorers = ("dirichlet", "jm", "tfidf", "f2exp")
    lm = {sc: [{"qid": f"{sc}{i:02d}", "query": t} for i, t in enumerate(texts)] for sc in scorers}
    trees = [
        '{"#combine": [{"#weight": [0.7, "import", 0.3, "class"]}, "return"]}',
        '{"#combine": ["public class", "import"]}',  # phrase leaf
        '{"#weight": [0.8, "import", 0.2, "zzq_oov_token"]}',  # OOV blend
        f'{{"#combine": ["{hi}", "{hi} import", "return"]}}',
        f'{{"#weight": [0.5, "{hi}", 0.5, "{hi}"]}}',
    ]
    sqe = [{"qid": f"s{i:02d}", "query": t} for i, t in enumerate(trees)]

    def bits(r):
        return r["docno"], r["docid"], np.float32(r["score"]).view(np.uint32).item()

    def by_qid(df, queries):
        out: dict = {q["qid"]: [] for q in queries}
        for x in df.orderBy("qid", "rank").collect():
            out[x["qid"]].append(bits(x))
        return out

    def oracle(golden):
        return {qid: [bits(r) for r in rows] for qid, rows in golden.items()}

    want = {
        **by_qid(bm25_topk(spark, idx, plain, k=10), plain),
        **oracle(oracle_mrf_topk(oi, sd, MrfModel(dependence="sd"))),
        **oracle(oracle_sqe_topk(oi, sqe, k=10)),
    }
    for sc in scorers:
        want.update(oracle(oracle_scored_topk(oi, lm[sc], scorer=sc, k=10)))
        assert by_qid(run_batch(spark, idx, lm[sc], Model(scorer=sc, k=10)), lm[sc]) == {
            q["qid"]: want[q["qid"]] for q in lm[sc]
        }, sc
    assert any(want[q["qid"]] for q in sqe)
    assert any(want[q["qid"]] for q in sd)

    # every third doc judged, so judged docs without any query term too
    fq = [{"qid": f"f{i:02d}", "query": t} for i, t in enumerate(texts)]
    qrels = {q["qid"]: {d: float(d % 4) for d in range(1, oi.n_docs + 1, 3)} for q in fq}
    models = {"bm25": Model(), "lm": Model(scorer="dirichlet"), "sd": MrfModel(dependence="sd")}
    cols = feature_columns(models)

    def feature_rows(rows):
        out: dict = {}
        for r in rows:
            feats = r["feats"] if "feats" in r else np.array([r[c] for c in cols], dtype=np.float32)
            out.setdefault(r["qid"], []).append(
                (r["docno"], r["grade"], *np.float32(feats).view(np.uint32).tolist())
            )
        return out

    want_feats = feature_rows(oracle_extract_features(oi, fq, qrels, models))
    assert feature_rows(r.asDict() for r in extract_features(spark, idx, fq, qrels, models).collect()) == want_feats
    tokenize = get_tokenizer(idx.properties["tokenizer"]).tokenize_py
    no_term = [
        d for q in fq for d in qrels[q["qid"]]
        if not any(d in dict(oi.postings.get(t, ())) for t in tokenize(q["query"]))
    ]
    assert no_term and len(want_feats) == len(fq) - 1  # q005 is wholly OOV
    mrfs = {name: _as_mrf(m) for name, m in models.items()}

    searcher = LocalSearcher(root, cache_runs=2)
    for i in range(len(texts)):
        calls = [(plain[i], searcher.search), (sd[i], searcher.search_sd)]
        if i < len(sqe):
            calls.append((sqe[i], searcher.search_sqe))
        calls += [(lm[sc][i], partial(searcher.search, scorer=sc)) for sc in scorers]
        for q, serve in calls:
            got = [bits(r) for r in serve(q["query"], k=10)]
            assert got == want[q["qid"]], q
        kept = [t for t in tokenize(texts[i]) if t in oi.dictionary]
        if kept:
            docnos = np.array(sorted(qrels[fq[i]["qid"]]), dtype=np.int64)
            got = searcher.features(
                texts[i], _combined_cliques(mrfs, kept, {}), docnos,
                np.array([oi.doclens[d] for d in docnos.tolist()], dtype=np.int64),
                np.float32(docnos % 4), ["sum"] * len(cols),
            )
            assert feature_rows({"qid": fq[i]["qid"], **r} for r in got) == {
                fq[i]["qid"]: want_feats[fq[i]["qid"]]
            }, fq[i]


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


def test_refresh_without_append_keeps_build_bytes(spark, corpora, tmp_path):
    """With stats unchanged since encode, refresh_bounds re-derives the
    build's exact impacts: every postings row's blob, max_impact, df and
    cf equal the build's, so its frame-vectorized impact expression has
    not slipped from build.encode_groups' float32 arithmetic."""
    import pyarrow.dataset as pads

    root = str(tmp_path / "fresh")
    build_index(spark, corpora["base"], root, IndexConfig(salt_threshold=40, n_shards=5))

    def rows():
        tab = pads.dataset(os.path.join(root, "postings")).to_table(
            columns=["termid", "salt", "blob", "max_impact", "df", "cf"]
        )
        cols = [tab[c].to_pylist() for c in tab.column_names]
        return {(t, s): rest for t, s, *rest in zip(*cols)}

    built = rows()
    assert len(built) > len({t for t, _ in built})  # salted: multi-run terms
    refresh_bounds(spark, root)
    assert rows() == built


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
    # the image writer refuses docnos that are not 1..n_docs
    with pytest.raises(ValueError, match=r"1\.\.n_docs"):
        image.image_tables(root, idx.properties)
    # the committed serve image does not see the orphan rows
    searcher = LocalSearcher(root)
    assert {(q["qid"], r["docno"]) for q in QUERY_SET[:2]
            for r in searcher.search(q["query"], k=5)} == before

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


def test_append_dedups_within_delta_and_against_base(spark, tiny_corpus, tmp_path):
    """A parquet delta with an extra column (ingest_ts): append_delta
    keeps one copy of content repeated within the delta (the minimum
    (repo, path, commit) identity), drops content the base already
    holds, writes the docmap under the build's columns, and after
    refresh_bounds the WAND path retrieves the new document."""
    import pandas as pd

    from ivory_spark.index.reader import _data_files

    base_pdf = tiny_corpus.head(60).drop(columns=["sha256"])
    base_path = str(tmp_path / "base.parquet")
    base_pdf.to_parquet(base_path, index=False)
    root = str(tmp_path / "idx")
    build_index(spark, base_path, root, IndexConfig(salt_threshold=30, n_shards=4))
    n0 = open_index(spark, root).properties["n_docs"]
    docmap_dir = os.path.join(root, "docmap")
    build_cols = {tuple(pq.read_schema(f).names) for f in _data_files(docmap_dir)}
    assert len(build_cols) == 1

    # one brand-new doc (unique token), one copy of a base doc, and a
    # second identity carrying the new doc's content
    new_text = "zzzuniqueterm appears here exactly once in the collection"
    delta_path = str(tmp_path / "delta.parquet")
    pd.DataFrame(
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
    ).to_parquet(delta_path, index=False)

    props = append_delta(spark, root, delta_path)
    assert props["n_docs"] == n0 + 1
    kept = (
        open_index(spark, root).docmap.filter(F.col("docno") == n0 + 1).collect()
    )
    assert [(r["repo"], r["path"], r["commit"]) for r in kept] == [("r2", "new1", "c1")]
    files = _data_files(docmap_dir)
    assert len(files) > 1
    assert {tuple(pq.read_schema(f).names) for f in files} == build_cols

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
