"""Warm serving mode: driver-local single-query retrieval.

A Spark batch pays a fixed floor whatever its size: planning, one task
per query slice, and each task's Python worker setup. On the 2,000-doc
perfbench index (4-vCPU host, warm session) a 1-query run_batch takes
0.25-0.39 s and a 100-query one 0.32-0.48 s (BENCH_pr11.json), against
about 0.35 ms for one query served here.
This module is the serving tier: a long-lived process loads the
dictionary and the docid of every docno once, and serves every query
from memory. Every Spark batch runs the same replica: each Python
worker process keeps one searcher across batches and scores its slice
of a batch's queries with it (query/batch.serve_batch, which run_batch,
mrf_topk and sqe_topk call for every model).

Memory model of a serving replica (a driver-side process or one Spark
Python worker):
- the dictionary (term -> termid, df, cf) and the docid of every docno;
- the compressed postings column as one byte buffer plus int64 run byte
  offsets, read whole at the first LRU miss and held sorted by termid (a
  stable sort, since an appended index's delta runs are not
  termid-clustered). Its bytes are Arrow's own buffer after that sort,
  one copy. A term's runs are adjacent in that order, so a missed term
  is one byte range of the buffer, found by searchsorted, not a parquet
  scan, as Ivory reaches a term's postings with one seek through its
  forward index (IntPostingsForwardIndex.java:68-110). Position blobs
  join it, in the same order, at the first positional miss, so plain
  BM25 serving never reads or pins position bytes;
- decoded postings of recently used terms in a termid-keyed LRU
  (`cache_runs` term entries). A query's misses are one decode: a single
  codec.decode_runs call reads every missed run in place in the buffer,
  with no per-run bytes object, and each term's entry is a copied slice
  of its output. A BM25 entry holds each posting's docno, tf and dl and
  its float32 impact idf * tf_part under the index's own k1, b and idf
  (4 B more per posting), computed once when the entry is filled, from
  a float32 idf-by-termid array built at the first BM25 miss.
Construction reads no postings column: it pins the postings file list
next to the dictionary and docmap it reads, so a later append is not
seen.

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
decoded entries with positions. Every model is bit-identical to its
numpy oracle.

This is the analogue of Ivory's long-lived broker + retrieval-server
deployment (docs/clue.html:164-180 — partition servers hold the index
hot, the broker fans out and merges): at 100 TB the index stays in the
lake, N serving replicas each hold the dictionary and their partition's
compressed postings, and Spark remains the batch/analytics tier over the
same artifacts.
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
from ivory_spark.index import codec

# Not called here: perfbench/trace.py patches query.serve._score_group by
# name to time the WAND kernel, so the name must keep resolving.
from ivory_spark.query.wand import _score_group  # noqa: F401

# what _runs_for returns when every term hit the LRU, built once: a
# DataFrame costs about a third of a cached BM25 query to build (read-only)
_NO_RUNS = pd.DataFrame({"termid": np.empty(0, dtype=np.int64), "blob": []})


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
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

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
        # in-RAM dictionary, as Ivory keeps it resident
        # (RetrievalEnvironment.java:66-67): term -> row of the termid,
        # df and cf columns
        dtab = pads.dataset(os.path.join(index_root, "dictionary")).to_table(
            columns=["term", "termid", "df", "cf"]
        )
        self._term_row = dict(
            zip(dtab["term"].to_numpy(zero_copy_only=False).tolist(), range(dtab.num_rows))
        )
        self._termid, self._df, self._cf = (
            dtab[c].to_numpy() for c in ("termid", "df", "cf")
        )
        # docid of docno d at row d-1: docnos must be dense 1..n_docs
        # (validate_index enforces it; a crashed append leaves rows beyond)
        dm = pads.dataset(os.path.join(index_root, "docmap")).to_table(
            columns=["docno", "repo", "path", "commit"]
        )
        docnos = dm["docno"].to_numpy()
        order = np.argsort(docnos)
        if not np.array_equal(docnos[order], np.arange(1, self.props["n_docs"] + 1)):
            raise ValueError(
                f"docmap docnos are not 1..n_docs={self.props['n_docs']}; "
                "run compact.repair_partial_append"
            )
        # 'repo/path@commit', nulls skipped as the Spark docid_expr does
        self._docid = (
            pc.binary_join_element_wise(
                dm["repo"], "/", dm["path"], "@", dm["commit"], "", null_handling="skip"
            )
            .take(order)
            .to_numpy(zero_copy_only=False)
            .tolist()
        )
        # the postings file list, pinned here; its columns are read at
        # the first miss (_resident, _resident_pos)
        self._postings = pads.dataset(os.path.join(index_root, "postings"))
        self._rows = None  # (sorted termids, blob buffer, run offsets, row order)
        self._idf = None  # float32 idf by termid, built at the first BM25 miss
        self._pos_blobs = None
        # two LRUs of decoded postings, keyed by termid. BM25 entries are
        # (docnos, tfs, dls, impacts) over all of a term's runs, the
        # impacts idf * tf_part under the index's own stats, so plain BM25
        # serving never reads or pins position bytes (the largest
        # column); SD/FD and sqe entries are per-run lists of
        # (docnos, tfs, dls, flat positions, indptr)
        self._run_cache: OrderedDict[int, tuple] = OrderedDict()
        self._run_cache_pos: OrderedDict[int, list] = OrderedDict()
        self._cache_runs = cache_runs

    @property
    def postings_files(self) -> tuple[str, ...]:
        """Sorted names of the postings files pinned at construction."""
        return tuple(sorted(os.path.basename(f) for f in self._postings.files))

    def _resident(self) -> tuple:
        """The postings termid column and blob bytes, read whole on first
        use and held sorted by termid; a stable sort keeps each term's
        runs in file order. -> (termids, buf, off, order): run i is
        buf[off[i]:off[i+1]] of one uint8 buffer. The blobs are cast to
        large_binary before the take, so the offsets stay 64-bit past
        2 GiB and the take makes the one copy of the bytes."""
        if self._rows is None:
            import pyarrow as pa

            tab = self._postings.to_table(columns=["termid", "blob"])
            termid = tab["termid"].to_numpy()
            order = np.argsort(termid, kind="stable")
            blob = tab["blob"].cast(pa.large_binary()).take(order).combine_chunks()
            _, offsets, data = blob.buffers()
            off = np.frombuffer(offsets, dtype=np.int64)[blob.offset : blob.offset + len(blob) + 1]
            buf = np.frombuffer(data or b"", dtype=np.uint8)
            self._rows = (termid[order], buf, off, order)
        return self._rows

    def _resident_pos(self):
        """The pos_blob column in the resident rows' order, read whole on
        the first positional miss. The pinned file list is scanned in the
        same fragment order as the termid read, so the rows align."""
        if self._pos_blobs is None:
            order = self._resident()[3]
            tab = self._postings.to_table(columns=["pos_blob"])
            self._pos_blobs = tab["pos_blob"].take(order)
        return self._pos_blobs

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
        rterm, buf, off, _ = self._resident()
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
            pos_blobs = self._resident_pos().take(idx).to_pylist()
        elif positions:
            pos_blobs = [b""] * len(idx)
        else:
            # impacts idf * tf_part under the index's own k1, b and idf
            p = self.props
            if self._idf is None:
                self._idf = np.zeros(int(self._termid.max(initial=0)) + 1, dtype=np.float32)
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

    def docids(self, docnos: list[int]) -> dict[int, str]:
        """docno -> 'repo/path@commit', from the in-memory docid array."""
        return {d: self._docid[d - 1] for d in map(int, docnos)}

    def _term_data(self, terms, allow=None):
        """Positional entries of the query terms in the dictionary,
        assembled over their candidate docs (the docs holding any of the
        terms, cut to the docnos in `allow` when given) by
        mrf.assemble_term_data: (cand, term_data, dl_vec, stats) with
        stats term -> (df, cf), or None when no candidate is left."""
        from ivory_spark.query.mrf import assemble_term_data

        rows = {t: self._term_row[t] for t in terms if t in self._term_row}
        term_by_id = {int(self._termid[r]): t for t, r in rows.items()}
        self._runs_for(sorted(term_by_id), positions=True)
        decoded = [
            (term_by_id[tid], *run)
            for tid in sorted(term_by_id)
            for run in self._run_cache_pos.get(tid, ())
        ]
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
        ids = self.docids(top)
        return [{"rank": r, "docno": d, "score": s, "docid": ids[d]} for r, d, s in ranked]

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
        rows, qtfs = [], []
        for term, qtf in Counter(self._tokenize(query)).items():
            r = self._term_row.get(term)
            if r is not None:
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
