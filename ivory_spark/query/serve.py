"""Warm serving mode: driver-local single-query retrieval.

Spark batch retrieval amortizes the plan+schedule floor (~2 s on this
host) across a query batch; an ad-hoc single query pays it in full
(BENCH r01: p50 2.2 s vs 249 ms amortized). This module is the serving
tier: a long-lived process loads the dictionary and the docid of every
docno once, and serves every query from memory.

Memory model of a serving replica:
- the dictionary (term -> termid, df, cf) and the docid of every docno;
- the compressed postings column: every run's termid and blob, read
  whole at the first LRU miss and held sorted by termid (a stable sort,
  since an appended index's delta runs are not termid-clustered). A miss
  is a searchsorted slice of it, not a parquet scan, as Ivory reaches a
  term's postings with one seek through its forward index
  (IntPostingsForwardIndex.java:68-110). Position blobs join it, in the
  same order, at the first positional miss, so plain BM25 serving never
  reads or pins position bytes;
- decoded postings of recently used terms in a termid-keyed LRU
  (`cache_runs` term entries). A query's misses are one frame decode:
  every missed run's blob goes through a single codec.decode_frame
  call, and each term's entry is a copied slice of its output.
Construction reads no postings column: it pins the postings file list
next to the dictionary and docmap it reads, so a later append is not
seen.

BM25 (`search`) scores every decoded posting of the query terms in one
vectorized pass: the contribution qtf * (idf * tf_part) of the exact
path and the WAND kernel, with idf from the dictionary's df, folded by
the canonical group_sum_f32 and cut to top-k with Ivory's tie-break. So
served scores are bit-identical to the Spark exact path, the WAND path
and the numpy oracle. It reads no block-max bounds and never the
postings rows' df (append_delta leaves both stale), so an appended
index serves before refresh_bounds. SD/FD (`search_sd`) and structured
queries (`search_sqe`) run the MRF and sqe kernels (build_cliques +
score_docs_batch; the sqe tree evaluator) over the same decoded entries
with positions, bit-identical to their Spark paths.

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

from ivory_spark.functions.scoring import bm25_idf, bm25_tf_part, group_sum_f32
from ivory_spark.functions.tokenizer import get_tokenizer
from ivory_spark.index import codec

# Not called here: perfbench/trace.py patches query.serve._score_group by
# name to time the WAND kernel, so the name must keep resolving.
from ivory_spark.query.wand import _score_group  # noqa: F401

# what _runs_for returns when every term hit the LRU, built once: a
# DataFrame costs about a third of a cached BM25 query to build (read-only)
_NO_RUNS = pd.DataFrame({"termid": np.empty(0, dtype=np.int64), "blob": []})


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
        self._rows = None  # (sorted termids, blobs in that order, row order)
        self._pos_blobs = None
        # two LRUs of decoded postings, keyed by termid. BM25 entries are
        # (docnos, tfs, dls) over all of a term's runs, so plain BM25
        # serving never reads or pins position bytes (the largest
        # column); SD/FD and sqe entries are per-run lists of
        # (docnos, tfs, dls, flat positions, indptr)
        self._run_cache: OrderedDict[int, tuple] = OrderedDict()
        self._run_cache_pos: OrderedDict[int, list] = OrderedDict()
        self._cache_runs = cache_runs

    def _resident(self) -> tuple:
        """The postings termid and blob columns, read whole on first use
        and sorted by termid; a stable sort keeps each term's runs in
        file order."""
        if self._rows is None:
            tab = self._postings.to_table(columns=["termid", "blob"])
            termid = tab["termid"].to_numpy()
            order = np.argsort(termid, kind="stable")
            self._rows = (termid[order], tab["blob"].take(order), order)
        return self._rows

    def _resident_pos(self):
        """The pos_blob column in the resident rows' order, read whole on
        the first positional miss. The pinned file list is scanned in the
        same fragment order as the termid read, so the rows align."""
        if self._pos_blobs is None:
            order = self._resident()[2]
            tab = self._postings.to_table(columns=["pos_blob"])
            self._pos_blobs = tab["pos_blob"].take(order)
        return self._pos_blobs

    def _runs_for(self, termids: list[int], positions: bool = False) -> pd.DataFrame:
        """Put every termid's decoded postings in the LRU, decoding the
        resident runs of the terms that miss. Returns the runs decoded,
        as a (termid, blob) frame that is empty when every term hit;
        callers take the decoded entries from the cache."""
        cache = self._run_cache_pos if positions else self._run_cache
        # touch cached hits FIRST so eviction below can never drop a term
        # the current query needs (would silently corrupt scores)
        for t in termids:
            if t in cache:
                cache.move_to_end(t)
        missing = [t for t in termids if t not in cache]
        if not missing:
            return _NO_RUNS
        rterm, rblob, _ = self._resident()
        lo = np.searchsorted(rterm, missing, side="left")
        hi = np.searchsorted(rterm, missing, side="right")
        idx = np.concatenate([np.arange(a, b) for a, b in zip(lo, hi)])
        blobs = rblob.take(idx).to_pylist()
        if positions and self.props.get("positional"):
            pos_blobs = self._resident_pos().take(idx).to_pylist()
        else:
            pos_blobs = [b""] * len(idx)
        # one frame decode for every missed run; each entry copies its
        # slices, so it never pins the whole frame once evicted
        d, tf, dl, indptr = codec.decode_frame(blobs)
        indptr = indptr.tolist()
        bounds = np.concatenate(([0], np.cumsum(hi - lo))).tolist()
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
                cache[t] = (d[p:q].astype(np.int64), tf[p:q].copy(), dl[p:q].copy())
        cap = max(self._cache_runs, len(termids))
        while len(cache) > cap:
            cache.popitem(last=False)
        return pd.DataFrame({"termid": rterm[idx], "blob": blobs})

    def docids(self, docnos: list[int]) -> dict[int, str]:
        """docno -> 'repo/path@commit', from the in-memory docid array."""
        return {d: self._docid[d - 1] for d in map(int, docnos)}

    def _term_data(self, terms):
        """Positional entries of the query terms in the dictionary,
        assembled over their candidate docs as the MRF and sqe Spark
        kernels assemble them: (cand, term_data, dl_vec, stats) with
        stats term -> (df, cf), or None when no term has postings."""
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
        stats = {t: (int(self._df[r]), int(self._cf[r])) for t, r in rows.items()}
        return (cand, *assemble_term_data(decoded, cand), stats)

    def _ranked(self, docnos, scores, k: int, with_docid: bool) -> list[dict]:
        """Top-k rows, score desc then docno desc (Accumulator.java:38-53)."""
        neg = -scores.astype(np.float64)
        if 0 < k < len(neg):
            # only docs scoring at least the kth best can rank; partition
            # and lexsort both order NaN last, so NaN scores stay ranked
            # as a full lexsort ranks them
            keep = np.flatnonzero(~(neg > np.partition(neg, k - 1)[k - 1]))
            docnos, scores, neg = docnos[keep], scores[keep], neg[keep]
        sel = np.lexsort((-docnos, neg))[:k]
        top = docnos[sel].tolist()
        ids = self.docids(top) if with_docid else {}
        out = []
        for rank, (d, s) in enumerate(zip(top, scores[sel]), start=1):
            row = {"rank": rank, "docno": d, "score": np.float32(s)}
            if with_docid:
                row["docid"] = ids[d]
            out.append(row)
        return out

    def search_sd(
        self, query: str, k: int = 10, with_docid: bool = True, model=None
    ) -> list[dict]:
        """Warm SD/FD MRF serving over a positional index — the same
        clique construction and batched scoring kernel as mrf_topk
        (build_cliques + score_docs_batch), run in-process over the
        decoded candidate runs; scores are float32 bit-identical to
        the Spark MRF path and the numpy oracle."""
        from ivory_spark.query.mrf import MrfModel, build_cliques, score_docs_batch

        p = self.props
        if not p.get("positional"):
            raise ValueError("search_sd requires a positional index")
        model = model or MrfModel()
        tokens = self._tokenize(query)
        cliques = build_cliques(tokens, model)
        assembled = self._term_data(set(tokens))
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
        """Warm structured-query (sqe) serving: the same tree evaluator
        as sqe_topk (parse -> candidate mask -> float32 child-ordered
        folds, TfDf blending) over the decoded runs — bit-identical to
        the Spark path. `query` is a JSON operator tree (text or dict);
        phrase leaves need a positional index."""
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

    def search(self, query: str, k: int = 10, with_docid: bool = True) -> list[dict]:
        """-> [{rank, docno[, docid], score}] — Ivory tie-break, scores
        bit-identical to bm25_topk / bm25_topk_wand."""
        p = self.props
        rows, qtfs = [], []
        for term, qtf in Counter(self._tokenize(query)).items():
            r = self._term_row.get(term)
            if r is not None:
                rows.append(r)
                qtfs.append(qtf)
        if not rows:
            return []
        termids = self._termid[rows]
        self._runs_for(sorted(termids.tolist()))
        entries = [self._run_cache[t] for t in termids.tolist()]
        lens = [len(e[0]) for e in entries]
        # one vectorized pass over every posting: the same float32
        # contribution as query/wand.py, qtf * (idf * tf_part)
        idf = bm25_idf(p["n_docs"], self._df[rows], mode=p["idf_mode"])
        tf_part = bm25_tf_part(
            np.concatenate([e[1] for e in entries]),
            np.concatenate([e[2] for e in entries]),
            p["avgdl"], p["k1"], p["b"],
        )
        contrib = np.repeat(np.array(qtfs, dtype=np.float32), lens) * (
            np.repeat(idf, lens) * tf_part
        )
        d, s = group_sum_f32(
            np.concatenate([e[0] for e in entries]), np.repeat(termids, lens), contrib
        )
        return self._ranked(d, s, k, with_docid)
