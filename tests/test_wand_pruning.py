"""Block-max WAND pruning effectiveness: the kernel must SKIP segments
whose bound cannot beat the running kth-best score — and skipping must
not change results (exactness already covered by rank-identity tests;
here we assert the pruning actually fires and stays exact on a
skew-shaped synthetic posting set)."""

import numpy as np
import pandas as pd

from codec_ref import decode_run, encode_run
from ivory_spark.functions.scoring import bm25_idf, bm25_tf_part, group_sum_f32
from ivory_spark.query.wand import _score_group

N_DOCS = 100_000
AVGDL = 50.0
K1, B = 1.2, 0.75


def make_run(termid, docnos, tfs, dls, df):
    idf = bm25_idf(N_DOCS, np.array([df]))[0]
    impacts = np.float32(idf) * bm25_tf_part(tfs, dls, AVGDL, K1, B)
    blob = encode_run(np.asarray(docnos, np.uint64), tfs, dls, impacts)
    return {
        "termid": termid, "qtf": 1, "df": df, "blob": blob,
        "n": len(docnos), "first_docno": int(docnos[0]), "last_docno": int(docnos[-1]),
        "max_impact": float(impacts.max()),
    }


def brute_force(runs, k):
    dd, tt, cc = [], [], []
    for r in runs:
        docnos, tfs, dls = decode_run(r["blob"])
        idf = bm25_idf(N_DOCS, np.array([r["df"]]))[0]
        contrib = np.float32(r["qtf"]) * (np.float32(idf) * bm25_tf_part(tfs, dls, AVGDL, K1, B))
        dd.append(docnos.astype(np.int64))
        tt.append(np.full(len(docnos), r["termid"], dtype=np.int64))
        cc.append(contrib)
    d, s = group_sum_f32(np.concatenate(dd), np.concatenate(tt), np.concatenate(cc))
    sel = np.lexsort((-d, -s.astype(np.float64)))[:k]
    return d[sel], s[sel]


def test_wand_prunes_and_stays_exact():
    rng = np.random.RandomState(3)
    # common term: every doc, low tf → low impact everywhere
    common_docs = np.arange(1, 50_001, dtype=np.int64)
    common = make_run(
        1, common_docs, np.ones(len(common_docs), np.int64),
        np.full(len(common_docs), 50, np.int64), len(common_docs),
    )
    # rare term: docno-clustered (one "repo" of similar files) with high
    # tf — the shape where block-max candidate generation shines
    rare_docs = np.sort(
        rng.choice(np.arange(40_000, 42_000), 300, replace=False)
    ).astype(np.int64)
    rare = make_run(
        2, rare_docs, rng.randint(5, 30, len(rare_docs)).astype(np.int64),
        np.full(len(rare_docs), 50, np.int64), len(rare_docs),
    )
    pdf = pd.DataFrame([common, rare])

    stats = {}
    d, s = _score_group(pdf, N_DOCS, AVGDL, K1, B, "okapi", 1, 50_000, 10, stats=stats)
    bd, bs = brute_force([common, rare], 10)

    assert np.array_equal(d, bd)
    assert np.array_equal(s.view(np.uint32), bs.view(np.uint32))
    # pruning fired: the vast majority of segments never fully scored
    assert stats["segments"] > 300
    assert stats["scored"] < stats["segments"] * 0.25, stats


def test_wand_no_prune_when_needed():
    # k larger than the candidate set → nothing can be pruned
    docs = np.arange(1, 200, dtype=np.int64)
    run = make_run(1, docs, np.ones(len(docs), np.int64), np.full(len(docs), 50, np.int64), len(docs))
    pdf = pd.DataFrame([run])
    stats = {}
    d, s = _score_group(pdf, N_DOCS, AVGDL, K1, B, "okapi", 1, 100_000, 10_000, stats=stats)
    assert len(d) == len(docs)
    assert stats["scored"] == stats["segments"] or stats["scored"] >= 1
