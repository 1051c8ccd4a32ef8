"""Warm serving mode: driver-local single-query retrieval.

A Spark batch pays a fixed floor whatever its size: planning, one task
per query slice, and each task's Python worker setup. On the 2,000-doc
perfbench index (4-vCPU host, warm session) a 1-query run_batch takes
0.25-0.39 s and a 100-query one 0.32-0.48 s (BENCH_pr11.json), against
about 0.35 ms for one query served here.
This module is the serving tier: a long-lived process maps the index's
serve image once and serves every query from it. Every Spark batch runs
the same replica: each Python worker process keeps one searcher across
batches and scores its slice of a batch's queries with it
(query/batch.serve_batch, which run_batch, mrf_topk, sqe_topk and
features.extract_features call for every model).

Memory model of a serving replica (a driver-side process or one Spark
Python worker):
- the serve image of the committed generation (index/image.py), mapped
  with pa.memory_map and read through numpy and Arrow views, never
  copied: the postings termid, blob and pos_blob columns in termid
  order, the dictionary as fixed-width term keys in byte order beside
  termid, df and cf, and the docid of every docno. Its pages live in
  the page cache, one copy per host however many processes map it, and
  the OS evicts them under pressure. Opening reads no parquet file,
  builds no term dict or docid list and sorts nothing: about 0.3 ms at
  2,000 and at 49,000 docs, against 6 and 56-168 ms for the parquet
  read it replaced (4-vCPU host, raw). A term's
  runs are adjacent in the postings order, so a missed term is one byte
  range of the blob column, found by searchsorted, as Ivory reaches a
  term's postings with one seek through its forward index
  (IntPostingsForwardIndex.java:68-110);
- a memo of the terms looked up so far (term -> dictionary row, -1 when
  absent), in front of one vectorized searchsorted per query over the
  mapped keys for the terms it does not hold yet. It is cleared past
  n_terms entries, so it never outgrows the term dict it replaces;
- decoded postings of recently used terms in a termid-keyed LRU
  (`cache_runs` term entries). A query's misses are one decode: a single
  codec.decode_runs call reads every missed run in place in the mapped
  buffer, with no per-run bytes object, and each term's entry is a
  copied slice of its output. A BM25 entry holds each posting's docno,
  tf and dl and its float32 impact idf * tf_part under the index's own
  k1, b and idf (4 B more per posting), computed once when the entry is
  filled, from a float32 idf-by-termid array built at the first BM25
  miss.
A searcher pins the generation properties.json names when it opens: a
later append or refresh commits another generation, which it does not
see, and deleting the superseded image leaves its mapped files readable.

BM25 (`search`) scores every decoded posting of the query terms in one
vectorized pass: the contribution qtf * (idf * tf_part) of the exact
path and the WAND kernel, with idf from the dictionary's df. A query
under the index's own k1, b and idf mode (no params, or params equal to
them) reads the entries' impacts and multiplies by qtf only when a qtf
exceeds 1; a query under other stats recomputes its impacts from the
entries' tf and dl, in one pass. The query's terms are taken in
ascending termid order, so its postings arrive termid-major and the
canonical fold (scoring.docno_fold_f32) orders them by (docno, termid)
with one stable docno sort. Then a cut to top-k with Ivory's tie-break.
So served scores are bit-identical to the Spark exact path, the WAND
path and the numpy oracle. It reads no block-max bounds and never the
postings rows' df (append_delta leaves both stale), so an appended
index serves before refresh_bounds. The dirichlet, jm, tfidf and f2exp
scorers (`search(scorer=...)`) score the BM25 entries' tf and dl with
the scoring.SCORERS kernels and the same fold. SD/FD (`search_sd`) and
structured queries (`search_sqe`) run the MRF and sqe kernels
(build_cliques + score_docs_batch; the sqe tree evaluator) over the
decoded entries with positions, and feature extraction (`features`)
scores a query's judged docs with features.clique_potentials_batch
over the same entries. Every model is bit-identical to its numpy
oracle.

This is the analogue of Ivory's long-lived broker + retrieval-server
deployment (docs/clue.html:164-180 — partition servers hold the index
hot, the broker fans out and merges): at 100 TB the index stays in the
lake, N serving replicas each map the image of their partition, and
Spark remains the batch/analytics tier over the same artifacts.
"""

from __future__ import annotations

import json
import os
from collections import Counter, OrderedDict

import numpy as np
import pandas as pd

from ivory_spark.functions.scoring import (
    F32,
    LAMBDA_DEFAULT,
    MU_DEFAULT,
    SCORERS,
    bm25_idf,
    bm25_tf_part,
    docno_fold_f32,
)
from ivory_spark.functions.tokenizer import get_tokenizer
from ivory_spark.index import codec, image

# Not called here: perfbench/trace.py patches query.serve._score_group by
# name to time the WAND kernel, so the name must keep resolving.
from ivory_spark.query.wand import _score_group  # noqa: F401

# what _runs_for returns when every term hit the LRU, built once: a
# DataFrame costs about a third of a cached BM25 query to build (read-only)
_NO_RUNS = pd.DataFrame({"termid": np.empty(0, dtype=np.int64), "blob": []})


def _one(column):
    """The one chunk of a mapped image column (write_image writes one
    record batch)."""
    return column.chunk(0) if column.num_chunks == 1 else column.combine_chunks()


class _DecodedRuns:
    """The (termid, blob) frame of the runs one _runs_for call decoded,
    in resident order, built on first indexing: a search never reads it,
    so an untraced search never pays for it (a frame costs about a
    quarter of a cold query)."""

    __slots__ = ("_src", "_frame")

    def __init__(self, rterm, buf, off, idx):
        self._src = (rterm, buf, off, idx)
        self._frame = None

    def frame(self) -> pd.DataFrame:
        if self._frame is None:
            rterm, buf, off, idx = self._src
            self._frame = pd.DataFrame({
                "termid": rterm[idx],
                "blob": [buf[a:b].tobytes() for a, b in zip(off[idx].tolist(), off[idx + 1].tolist())],
            })
        return self._frame

    def __getitem__(self, key):
        return self.frame()[key]

    def __len__(self) -> int:
        return len(self._src[3])


class LocalSearcher:
    """Serve top-k queries from an index_root without a SparkSession."""

    def __init__(self, index_root: str, cache_runs: int = 4096):
        with open(os.path.join(index_root, "properties.json")) as f:
            self.props = json.load(f)
        if self.props.get("format_version") != codec.FORMAT_VERSION:
            raise ValueError(
                f"index format_version={self.props.get('format_version')} "
                f"!= codec {codec.FORMAT_VERSION}; rebuild the index"
            )
        self._tokenize = get_tokenizer(
            self.props.get("tokenizer", "code_v1")
        ).tokenize_py
        img = image.open_image(index_root, self.props)
        # the dictionary, as Ivory keeps it resident
        # (RetrievalEnvironment.java:66-67): fixed-width term keys in
        # byte order beside the termid, df and cf of each row
        dic = img["dictionary"]
        terms = _one(dic["term"])
        width = terms.type.byte_width
        self._terms = np.frombuffer(
            terms.buffers()[1], dtype=f"S{width}", count=len(terms), offset=terms.offset * width
        )
        self._termid, self._df, self._cf = (_one(dic[c]).to_numpy() for c in ("termid", "df", "cf"))
        self._memo: dict[str, int] = {}  # term -> dictionary row, -1 when absent
        # the postings in termid order (a term's runs adjacent, in file
        # order): run i is buf[off[i]:off[i+1]], termid rterm[i], and
        # pos_blobs[i] its positions on a positional index
        post = img["postings"]
        self._rows = (_one(post["termid"]).to_numpy(), *image.byte_views(_one(post["blob"])))
        self._pos_blobs = _one(post["pos_blob"]) if self.props.get("positional") else None
        # memoryviews: indexing one yields a Python int, slicing one is
        # cheaper than a numpy slice
        docid = image.byte_views(_one(img["docids"]["docid"]))
        self._docid_buf, self._docid_off = map(memoryview, docid)
        self._idf = None  # float32 idf by termid, built at the first BM25 miss
        # two LRUs of decoded postings, keyed by termid. BM25 entries are
        # (docnos, tfs, dls, impacts) over all of a term's runs, the
        # impacts idf * tf_part under the index's own stats, so plain BM25
        # serving never reads position bytes (the largest column); SD/FD
        # and sqe entries are per-run lists of (docnos, tfs, dls, flat
        # positions, indptr)
        self._run_cache: OrderedDict[int, tuple] = OrderedDict()
        self._run_cache_pos: OrderedDict[int, list] = OrderedDict()
        self._cache_runs = cache_runs

    def _lookup(self, terms: list[str]) -> list[int]:
        """The dictionary row of each of the distinct terms, -1 for a term
        not in it. A memo answers the terms seen before; the others are
        one searchsorted over the mapped fixed-width keys. A term longer
        than the keys is in no row (the keys would truncate it). The memo
        is cleared past n_terms entries, whatever the queries send."""
        memo = self._memo
        if len(memo) > self.props["n_terms"]:
            memo.clear()
        new = [t for t in terms if t not in memo]
        if new:
            keys = [t.encode() for t in new]
            at = np.searchsorted(self._terms, np.array(keys, dtype=self._terms.dtype)).tolist()
            n, width = len(self._terms), self._terms.itemsize
            for t, key, r in zip(new, keys, at):
                memo[t] = r if r < n and len(key) <= width and self._terms[r] == key else -1
        return [memo[t] for t in terms]

    def _runs_for(self, termids: list[int], positions: bool = False):
        """Put every termid's decoded postings in the LRU, decoding the
        resident runs of the terms that miss. Returns the runs decoded,
        as a (termid, blob) frame that is empty when every term hit and
        is built only when indexed (_DecodedRuns); callers take the
        decoded entries from the cache."""
        cache = self._run_cache_pos if positions else self._run_cache
        # touch cached hits FIRST so eviction below can never drop a term
        # the current query needs (would silently corrupt scores)
        for t in termids:
            if t in cache:
                cache.move_to_end(t)
        missing = [t for t in termids if t not in cache]
        if not missing:
            return _NO_RUNS
        rterm, buf, off = self._rows
        # a term's runs are adjacent in the resident order: rows lo..hi,
        # one byte range of buf, decoded in place by one decode_runs call
        lo = np.searchsorted(rterm, missing, side="left")
        hi = np.searchsorted(rterm, missing, side="right")
        counts = hi - lo
        bounds = np.zeros(len(missing) + 1, dtype=np.int64)
        np.cumsum(counts, out=bounds[1:])
        idx = np.repeat(lo - bounds[:-1], counts) + np.arange(bounds[-1])
        d, tf, dl, indptr = codec.decode_runs(buf, off[idx])
        indptr, bounds = indptr.tolist(), bounds.tolist()
        if positions and self.props.get("positional"):
            pos_blobs = self._pos_blobs.take(idx).to_pylist()
        elif positions:
            pos_blobs = [b""] * len(idx)
        else:
            # impacts idf * tf_part under the index's own k1, b and idf
            p = self.props
            if self._idf is None:
                self._idf = np.zeros(p["n_terms"] + 1, dtype=np.float32)
                self._idf[self._termid] = bm25_idf(p["n_docs"], self._df, mode=p["idf_mode"])
            tf_part = bm25_tf_part(tf, dl, p["avgdl"], p["k1"], p["b"])
        # each entry copies its slices, so it never pins the whole frame
        # once evicted
        for t, a, b in zip(missing, bounds[:-1], bounds[1:]):
            if a == b:
                continue
            if positions:
                cache[t] = [
                    (d[p:q].astype(np.int64), tf[p:q].astype(np.int64),
                     dl[p:q].astype(np.int64),
                     *codec.decode_positions_flat(pos or b"", tf[p:q]))
                    for p, q, pos in zip(indptr[a:b], indptr[a + 1 : b + 1], pos_blobs[a:b])
                ]
            else:
                p, q = indptr[a], indptr[b]
                cache[t] = (d[p:q].astype(np.int64), tf[p:q].copy(), dl[p:q].copy(),
                            self._idf[t] * tf_part[p:q])
        cap = max(self._cache_runs, len(termids))
        while len(cache) > cap:
            cache.popitem(last=False)
        return _DecodedRuns(rterm, buf, off, idx)

    def docids(self, docnos: list[int]) -> list[str]:
        """The docid 'repo/path@commit' of each docno, in order, from the
        image's docid column."""
        buf, off = self._docid_buf, self._docid_off
        return [buf[off[d - 1] : off[d]].tobytes().decode() for d in docnos]

    def _term_data(self, terms, allow=None, cand=None):
        """Positional entries of the query terms in the dictionary,
        assembled over their candidate docs (the docs holding any of the
        terms, cut to the docnos in `allow` when given; or exactly the
        sorted docnos `cand`, held terms or not) by
        mrf.assemble_term_data: (cand, term_data, dl_vec, stats) with
        stats term -> (df, cf), or None when no candidate is left."""
        from ivory_spark.query.mrf import assemble_term_data

        terms = list(terms)
        rows = {t: r for t, r in zip(terms, self._lookup(terms)) if r >= 0}
        term_by_id = {int(self._termid[r]): t for t, r in rows.items()}
        self._runs_for(sorted(term_by_id), positions=True)
        decoded = [
            (term_by_id[tid], *run)
            for tid in sorted(term_by_id)
            for run in self._run_cache_pos.get(tid, ())
        ]
        if cand is None:
            if not decoded:
                return None
            cand = np.unique(np.concatenate([e[1] for e in decoded]))
            if allow is not None:
                cand = cand[np.isin(cand, allow)]
                if not len(cand):
                    return None
        stats = {t: (int(self._df[r]), int(self._cf[r])) for t, r in rows.items()}
        return (cand, *assemble_term_data(decoded, cand), stats)

    def _ranked(self, docnos, scores, k: int, with_docid: bool) -> list[dict]:
        """Top-k rows, score desc then docno desc (Accumulator.java:38-53);
        each score is its float32 value as a Python float."""
        neg = -scores
        if 0 < k < len(neg):
            # only docs scoring at least the kth best can rank; partition
            # and lexsort both order NaN last, so NaN scores stay ranked
            # as a full lexsort ranks them
            keep = (~(neg > np.partition(neg, k - 1)[k - 1])).nonzero()[0]
            docnos, scores, neg = docnos[keep], scores[keep], neg[keep]
        sel = np.lexsort((-docnos, neg))[:k]
        top = docnos[sel].tolist()
        ranked = zip(range(1, len(top) + 1), top, scores[sel].astype(np.float32).tolist())
        if not with_docid:
            return [{"rank": r, "docno": d, "score": s} for r, d, s in ranked]
        return [
            {"rank": r, "docno": d, "score": s, "docid": i}
            for (r, d, s), i in zip(ranked, self.docids(top))
        ]

    def search_sd(
        self, query: str, k: int = 10, with_docid: bool = True, model=None,
        extra_cliques: list[dict] | None = None, allow=None,
    ) -> list[dict]:
        """Warm SD/FD MRF serving over a positional index: build_cliques
        and score_docs_batch over the decoded candidate runs; scores are
        float32 bit-identical to the numpy oracle (oracle_mrf_topk).
        extra_cliques are scored after the query's own (latent-concept
        expansion's mined concepts; their terms are fetched too). allow:
        an array of docnos, the only docs scored (a cascade stage's
        survivors, CascadeEval.java)."""
        from ivory_spark.query.mrf import MrfModel, build_cliques, score_docs_batch

        p = self.props
        if not p.get("positional"):
            raise ValueError("search_sd requires a positional index")
        model = model or MrfModel()
        tokens = self._tokenize(query)
        extra = list(extra_cliques or ())
        cliques = build_cliques(tokens, model) + extra
        assembled = self._term_data(set(tokens).union(*(c["terms"] for c in extra)), allow)
        if assembled is None:
            return []
        cand, term_data, dl_vec, stats = assembled
        scores = score_docs_batch(
            cliques, term_data, dl_vec, stats,
            p["n_docs"], p["avgdl"], p["collection_length"],
        )
        return self._ranked(cand, scores, k, with_docid)

    def features(
        self, query: str, cliques: list[dict], docnos, doclens, grades, operators: list[str],
    ) -> list[dict]:
        """Feature rows of one query's judged docs (features.extract_features
        on the serve kernel) -> [{docno, grade, feats}] in docno order.
        `cliques` are the driver's cliques of `query`'s in-dictionary
        tokens, fids on the feature columns; docnos (sorted), doclens and
        grades are aligned arrays. Term data is assembled over exactly
        those docnos, so a judged doc holding no query term scores at
        tf = 0; features.clique_potentials_batch aggregates each column's
        unweighted potentials with its operator."""
        from ivory_spark.query.features import clique_potentials_batch

        p = self.props
        _, term_data, _, stats = self._term_data(
            {t for c in cliques for t in c["terms"]}, cand=docnos
        )
        feats = clique_potentials_batch(
            cliques, term_data, doclens, stats, p["n_docs"], p["avgdl"],
            p["collection_length"], len(operators), operators,
        )
        return [
            {"docno": d, "grade": g, "feats": f}
            for d, g, f in zip(docnos.tolist(), grades.tolist(), feats)
        ]

    def search_sqe(
        self, query, k: int = 10, with_docid: bool = True
    ) -> list[dict]:
        """Warm structured-query (sqe) serving: the sqe tree evaluator
        (parse -> candidate mask -> float32 child-ordered folds, TfDf
        blending) over the decoded runs — bit-identical to the numpy
        oracle (oracle_sqe_topk). `query` is a JSON operator tree (text
        or dict); phrase leaves need a positional index."""
        from ivory_spark.query.sqe import (
            _candidate_mask,
            _eval_node,
            _score_of,
            _walk,
            parse_structured_query,
            query_terms,
        )

        p = self.props
        tree = parse_structured_query(query, tokenizer=self._tokenize)
        needs_positions = any(n.op == "phrase" for n in _walk(tree))
        if needs_positions and not p.get("positional"):
            raise ValueError("phrase leaves require a positional index")
        assembled = self._term_data(query_terms(tree))
        if assembled is None:
            return []
        cand, term_data, dl_vec, stats = assembled
        max_pos = 0
        for td in term_data.values():
            if td.flat_pos.size:
                max_pos = max(max_pos, int(td.flat_pos.max()))
        n_docs = p["n_docs"]
        avgdl_int = float(p["collection_length"] // n_docs)
        mask = _candidate_mask(tree, term_data, stats, len(cand), max_pos)
        if not mask.any():
            return []
        res = _eval_node(tree, term_data, dl_vec, stats, n_docs, avgdl_int, max_pos)
        scores = _score_of(res, dl_vec, n_docs, avgdl_int)
        return self._ranked(cand[mask], scores[mask], k, with_docid)

    def search(
        self, query: str, k: int = 10, with_docid: bool = True, params: dict | None = None,
        scorer: str = "bm25",
    ) -> list[dict]:
        """-> [{rank, docno[, docid], score}] — Ivory tie-break, scores
        bit-identical to bm25_topk / bm25_topk_wand. params: optional
        {'k1','b','idf'} overrides, read as bm25_topk reads them. The
        entries' cached impacts serve every query whose k1 and b equal
        the index's as float32 and whose idf mode is the index's, params
        or not; any other query recomputes its impacts from tf and dl.
        scorer: any other scoring.SCORERS name (dirichlet, jm, tfidf,
        f2exp) scores the same entries with that function (_scored),
        params then holding its mu, lambda, s or k."""
        p = self.props
        q = params or {}
        k1, b, idf_mode = q.get("k1", p["k1"]), q.get("b", p["b"]), q.get("idf", p["idf_mode"])
        counts = Counter(self._tokenize(query))
        rows, qtfs = [], []
        for r, qtf in zip(self._lookup(list(counts)), counts.values()):
            if r >= 0:
                rows.append(r)
                qtfs.append(qtf)
        if not rows:
            return []
        # terms in ascending termid order, so the postings arrive
        # termid-major and docno_fold_f32 needs one docno sort
        termids, qtfs, rows = zip(*sorted(zip(self._termid[rows].tolist(), qtfs, rows)))
        self._runs_for(list(termids))
        entries = [self._run_cache[t] for t in termids]
        if scorer != "bm25":
            return self._ranked(*self._scored(scorer, q, rows, qtfs, entries), k, with_docid)
        lens = [len(e[0]) for e in entries]
        # bm25_tf_part reads k1 and b as float32
        if (F32(k1), F32(b), idf_mode) == (F32(p["k1"]), F32(p["b"]), p["idf_mode"]):
            contrib = np.concatenate([e[3] for e in entries])
        else:
            # other stats: the impacts from tf and dl, in one pass
            idf = bm25_idf(p["n_docs"], self._df[list(rows)], mode=idf_mode)
            contrib = np.repeat(idf, lens) * bm25_tf_part(
                np.concatenate([e[1] for e in entries]),
                np.concatenate([e[2] for e in entries]),
                p["avgdl"], k1, b,
            )
        # the same float32 contribution as query/wand.py, qtf * (idf *
        # tf_part); a product with qtf = 1 is exact, so it is skipped
        if max(qtfs) > 1:
            contrib = np.repeat(np.array(qtfs, dtype=np.float32), lens) * contrib
        d, s = docno_fold_f32(np.concatenate([e[0] for e in entries]), contrib)
        return self._ranked(d, s, k, with_docid)

    def _scored(self, scorer: str, params: dict, rows, qtfs, entries):
        """(docnos, float32 scores) of one query under a non-BM25 scorer,
        with oracle.oracle_scored_topk's semantics over the BM25 entries'
        tf and dl (entries in ascending termid order). The candidates are
        the docs matching at least one query term. The language models
        (dirichlet, jm) score every query term for every candidate, an
        absent term at tf = 0 (its background, as
        DirichletScoringFunction.java:30-66 smoothes it); tfidf and f2exp
        score matching postings only. Each contribution is qtf times the
        scoring.SCORERS function's float32 value, folded termid-major by
        docno_fold_f32."""
        p = self.props
        fn = SCORERS[scorer]
        rows = list(rows)
        if scorer in ("dirichlet", "jm"):
            cand = np.unique(np.concatenate([e[0] for e in entries]))
            tf = np.zeros((len(entries), len(cand)), dtype=np.int64)
            dl = np.zeros(len(cand), dtype=np.int64)
            for i, e in enumerate(entries):
                at = np.searchsorted(cand, e[0])
                tf[i, at], dl[at] = e[1], e[2]
            if scorer == "dirichlet":
                smoothing = params.get("mu", MU_DEFAULT)
            else:
                smoothing = params.get("lambda", LAMBDA_DEFAULT)
            base = fn(tf, dl[None, :], self._cf[rows][:, None], p["collection_length"], smoothing)
            contrib = np.array(qtfs, dtype=np.float32)[:, None] * base
            return docno_fold_f32(np.tile(cand, len(entries)), contrib.ravel())
        lens = [len(e[0]) for e in entries]
        tf = np.concatenate([e[1] for e in entries])
        df = np.repeat(self._df[rows], lens)
        if scorer == "tfidf":
            base = fn(tf, df, p["n_docs"])
        else:
            dl = np.concatenate([e[2] for e in entries])
            s, k = params.get("s", 0.5), params.get("k", 1.0)
            base = fn(tf, dl, df, p["n_docs"], p["avgdl"], s, k)
        contrib = np.repeat(np.array(qtfs, dtype=np.float32), lens) * base
        return docno_fold_f32(np.concatenate([e[0] for e in entries]), contrib)
