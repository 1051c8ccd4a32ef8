"""Batch query running: Ivory-format query sources and the TREC run sink.

Reference behavior reproduced:
- query XML source: <parameters><query id="601">text</query>...</parameters>
  (data/trec/queries.robust04.xml; parsed at
  ivory/smrf/retrieval/BatchQueryRunner.java:283-306);
- model XML: <model id=...> selects scoring function + params
  (BatchQueryRunner.java:330+, run.robust04.basic.xml) — here a small
  dataclass, since our models are bag-of-words scoring-function choices;
- TREC run sink: lines "qid Q0 docid rank score tag"
  (BatchQueryRunner.java:214-240, core/util/ResultWriter.java), with
  ranks 1-based in score order.
"""

from __future__ import annotations

import gzip
import json
import os
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ivory_spark.session import local_frame


def parse_query_xml(path_or_text: str) -> list[dict]:
    """Parse Ivory's <parameters><query id=...>text</query> format."""
    text = path_or_text
    if not path_or_text.lstrip().startswith("<"):
        with open(path_or_text) as f:
            text = f.read()
    root = ET.fromstring(text)
    out = []
    for q in root.iter("query"):
        out.append({"qid": q.attrib["id"], "query": (q.text or "").strip()})
    return out


def parse_query_jsonl(path: str) -> list[dict]:
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                d = json.loads(line)
                out.append({"qid": str(d["qid"]), "query": d["query"]})
    return out


@dataclass
class Model:
    """Bag-of-words retrieval model spec (the MVP subset of Ivory's
    <model> XML: scoring function + its parameters)."""

    scorer: str = "bm25"  # bm25 | dirichlet | jm | tfidf | f2exp
    params: dict = field(default_factory=dict)
    k: int = 10


# scoreFunction class suffix -> (scorer name, [(attr, default)]); defaults
# mirror the reference scoring functions' XML defaults
# (DirichletScoringFunction.java:37 mu=2500, BM25ScoringFunction.java:40-42
# k1=1.2 b=0.75 idf=okapi, JelinekMercerScoringFunction.java:39 lambda=0.7).
_SCORE_FUNCTIONS = {
    "DirichletScoringFunction": ("dirichlet", [("mu", 2500.0)]),
    "BM25ScoringFunction": ("bm25", [("k1", 1.2), ("b", 0.75), ("idf", "okapi")]),
    "JelinekMercerScoringFunction": ("jm", [("lambda", 0.7)]),
    "TFIDFScoringFunction": ("tfidf", []),
    "F2EXPScoringFunction": ("f2exp", [("s", 0.5)]),
}


def _parse_feature(node):
    """One <feature> -> FeatureSpec, mirroring FeatureBasedMRFBuilder.java:
    61-140: the cliqueSet picks the term groups, the expression generator
    picks od/uw and the window width, the scoreFunction picks scorer +
    params (run.robust04.basic.xml is the canonical instance)."""
    from ivory_spark.query.mrf import FeatureSpec

    a = dict(node.attrib)
    weight = float(a.get("weight", "1.0"))
    cs = a.get("cliqueSet", "TermCliqueSet").rsplit(".", 1)[-1]
    gen = a.get("generator", "TermExpressionGenerator").rsplit(".", 1)[-1]
    sf = a.get("scoreFunction", "BM25ScoringFunction").rsplit(".", 1)[-1]
    if sf not in _SCORE_FUNCTIONS:
        raise ValueError(f"unsupported scoreFunction: {sf}")
    scorer, param_spec = _SCORE_FUNCTIONS[sf]
    params = {}
    for name, default in param_spec:
        raw = a.get(name)
        if raw is None:
            params[name] = default
        else:
            params[name] = raw if isinstance(default, str) else float(raw)
    if cs == "TermCliqueSet":
        return FeatureSpec(
            "term", weight, scorer=scorer, params=params, name=a.get("id", ""),
            importance=a.get("importance", ""),
        )
    kind = "od" if gen == "OrderedWindowExpressionGenerator" else "uw"
    width = int(a.get("width", "1" if kind == "od" else "4"))
    dependence = a.get("dependence", "sequential")
    if dependence == "sequential":
        cliques = "sequential"
    elif cs == "OrderedCliqueSet":
        cliques = "full_contiguous"  # CliqueFactory ordered=true path
    else:
        cliques = "full_noncontiguous"  # UnorderedCliqueSet full
    return FeatureSpec(
        kind, weight, width=width, scorer=scorer, params=params, cliques=cliques,
        name=a.get("id", ""), importance=a.get("importance", ""),
    )


def parse_model_xml(path_or_text: str, model_id: str | None = None):
    """Parse an Ivory <model> spec. Returns:

    - Model (bag-of-words scorer + params) for the attribute-only form
      <model score="bm25" k1=".."/> or a type="Feature" model whose only
      feature is a weight-1.0 TermCliqueSet (full-independence — routed to
      the faster bag-of-words paths, same scores);
    - MrfModel for type="Feature" models with proximity features
      (SD/FD run files like run.robust04.basic.xml), each <feature>
      mapped by _parse_feature.

    model_id selects among multiple <model> nodes (BatchQueryRunner.java
    runs every model in the file; callers here pick one); default = first."""
    text = path_or_text
    if not path_or_text.lstrip().startswith("<"):
        with open(path_or_text) as f:
            text = f.read()
    root = ET.fromstring(text)
    if root.tag == "model":
        node = root
    else:
        nodes = list(root.iter("model"))
        if model_id is not None:
            nodes = [n for n in nodes if n.attrib.get("id") == model_id]
            if not nodes:
                raise KeyError(f"model id {model_id!r} not found")
        node = nodes[0]
    features = [c for c in node if c.tag == "feature"]
    if features:
        from ivory_spark.query.importance import parse_importance_models
        from ivory_spark.query.mrf import MrfModel

        specs = [_parse_feature(f) for f in features]
        k = int(node.attrib.get("hits", node.attrib.get("k", "10")))
        # importance models live as <importancemodel> elements beside or
        # inside the <model> (RetrievalEnvironment.addImportanceModel;
        # WSD run files reference them via feature importance="id")
        imodels = parse_importance_models(root)
        missing = sorted(
            {s.importance for s in specs if s.importance} - set(imodels)
        )
        if missing:
            raise ValueError(f"importance model(s) not found: {missing}")
        if (
            len(specs) == 1 and specs[0].kind == "term"
            and specs[0].weight == 1.0 and not specs[0].importance
        ):
            # full independence — bag-of-words semantics, faster path
            # (all five scoring functions supported there)
            return Model(scorer=specs[0].scorer, params=specs[0].params, k=k)
        # multi-feature models run through the MRF clique kernels, which
        # implement bm25 and dirichlet potentials — fail at parse time,
        # not as an opaque worker exception at collect time
        bad = sorted({f.scorer for f in specs} - {"bm25", "dirichlet"})
        if bad:
            raise ValueError(
                f"scoreFunction(s) {bad} not supported in feature-based "
                "(MRF) models; supported: BM25ScoringFunction, "
                "DirichletScoringFunction"
            )
        return MrfModel(
            dependence="sd", features=specs, k=k,
            importance_models=imodels,
            normalize_importance=node.attrib.get("normalizeImportance", "false")
            in ("true", "1"),
            pruning_threshold_bigram=float(
                node.attrib.get("pruningThresholdBigram", "0.0")
            ),
        )
    attrs = dict(node.attrib)
    scorer = attrs.pop("score", attrs.pop("scorer", "bm25"))
    k = int(attrs.pop("hits", attrs.pop("k", "10")))
    attrs.pop("id", None)

    def _coerce(v: str):
        try:
            return float(v)
        except ValueError:
            return v  # string params, e.g. idf="classic"

    params = {a: _coerce(v) for a, v in attrs.items()}
    return Model(scorer=scorer, params=params, k=k)


def write_trec_lines(
    rows, path: str, tag: str = "ivory_spark"
) -> int:
    """Single owner of the TREC run format: rows are dict-like (dict or
    pyspark Row) with qid/rank/docid/score keys; .gz suffix → gzip.
    Returns line count."""
    opener = gzip.open if path.endswith(".gz") else open
    n = 0
    with opener(path, "wt") as f:
        for r in rows:
            f.write(f"{r['qid']} Q0 {r['docid']} {r['rank']} {r['score']:.6f} {tag}\n")
            n += 1
    return n


def write_trec_run(results: DataFrame, path: str, tag: str = "ivory_spark") -> int:
    """DataFrame wrapper over write_trec_lines.

    Collects to the driver — TREC runs are k·|queries| rows by
    construction, never data-scale."""
    rows = results.select("qid", "rank", "docid", "score").orderBy("qid", "rank").collect()
    return write_trec_lines(rows, path, tag)


def run_batch(
    spark: SparkSession,
    index,
    queries: list[dict],
    model=None,  # Model | MrfModel | None
) -> DataFrame:
    """End-to-end batch retrieval with a model spec (RunQueryLocal
    analogue), every model on the serve kernel (serve_batch): bm25
    through bm25_topk_serve (k1/b/idf overrides included); dirichlet,
    jm, tfidf and f2exp (params mu, lambda, s, k) through
    LocalSearcher.search; MrfModel specs (SD/FD run files) through
    mrf_topk. Past the workers' memory budget a bm25 batch runs the
    exact relational plan and any other model raises ValueError (see
    serve_batch)."""
    model = model or Model()
    from ivory_spark.functions.scoring import SCORERS
    from ivory_spark.functions.tokenizer import get_tokenizer
    from ivory_spark.query.mrf import MrfModel, mrf_topk

    if isinstance(model, MrfModel):
        return mrf_topk(spark, index, queries, model=model)
    if model.scorer == "bm25":
        return bm25_topk_serve(spark, index, queries, k=model.k, params=model.params)
    if model.scorer not in SCORERS:
        raise ValueError(f"unknown scorer: {model.scorer}")
    tokenize = get_tokenizer(index.properties.get("tokenizer", "code_v1")).tokenize_py
    return serve_batch(
        spark, index, queries, "search", terms={t for q in queries for t in tokenize(q["query"])},
        k=model.k, params=model.params, scorer=model.scorer,
    )


# Resident bytes of one dictionary term and of one docid in a
# LocalSearcher, beyond its postings: the Python str and its dict or
# list slot, plus the term's numpy termid/df/cf entries.
_TERM_BYTES = 200
_DOC_BYTES = 160

# The LocalSearcher of this Spark Python worker process, with the
# snapshot key it was opened for; a batch that pins another key
# replaces it.
_WORKER = {"key": None, "searcher": None}


def _snapshot(index) -> tuple[tuple, int]:
    """The batch's snapshot key (index root, properties, sorted postings
    file names; pyarrow's discovery skips '.' and '_' files) and an
    upper bound on one searcher's resident bytes: the postings files
    whole (termid and blob columns, plus the position bytes that only
    SD/FD and sqe read), the dictionary and the docids."""
    names, nbytes = [], 0
    for e in os.scandir(os.path.join(index.root, "postings")):
        if e.is_file() and not e.name.startswith((".", "_")):
            names.append(e.name)
            nbytes += e.stat().st_size
    props = index.properties
    key = (index.root, json.dumps(props, sort_keys=True), tuple(sorted(names)))
    return key, nbytes + props["n_terms"] * _TERM_BYTES + props["n_docs"] * _DOC_BYTES


def _worker_searcher(key: tuple):
    """This worker's LocalSearcher for the pinned snapshot `key`. The
    searcher pins what it finds on disk, which must be what the driver
    pinned: an append or refresh in between would mix two snapshots."""
    from ivory_spark.query.serve import LocalSearcher

    if _WORKER["key"] != key:
        _WORKER.update(key=None, searcher=None)  # free the old one first
        root, props, files = key
        searcher = LocalSearcher(root)
        if (
            json.dumps(searcher.props, sort_keys=True) != props
            or searcher.postings_files != files
        ):
            raise RuntimeError(
                f"index at {root} changed after the batch pinned it; reopen the index"
            )
        _WORKER.update(key=key, searcher=searcher)
    return _WORKER["searcher"]


def _serve_slice(key, method, kwargs, per_qid, batches):
    """mapInPandas body: every query of this slice through the worker's
    searcher, as searcher.<method>(query, **kwargs) plus the query's
    per_qid arguments and, when the rows carry one, its `allow` array;
    rows in (qid, rank) order. An empty slice opens none."""
    cols = ["qid", "rank", "docno"] + (["docid"] if kwargs["with_docid"] else []) + ["score"]
    for pdf in batches:
        search = getattr(_worker_searcher(key), method)
        qids = pdf["qid"].tolist()
        args = [per_qid.get(qid, {}) for qid in qids]
        if "allow" in pdf:
            # a qid with no allow-list row has nothing to score
            args = [dict(a, allow=np.asarray([] if al is None else al, dtype=np.int64))
                    for a, al in zip(args, pdf["allow"])]
        hits = [
            {"qid": qid, **r}
            for qid, text, a in zip(qids, pdf["query"].tolist(), args)
            for r in search(text, **kwargs, **a)
        ]
        yield pd.DataFrame(hits, columns=cols).astype(
            {"rank": np.int32, "docno": np.int64, "score": np.float32}
        )


def serve_batch(
    spark: SparkSession,
    index,
    queries: list[dict],
    method: str,
    terms: set[str] | None = None,
    with_docid: bool = True,
    allow: DataFrame | None = None,
    per_qid: dict[str, dict] | None = None,
    over_budget=None,
    **kwargs,
) -> DataFrame:
    """A query batch on the serve kernel -> (qid, rank, docno[, docid],
    score): each query [{'qid', 'query': text}] runs as
    LocalSearcher.<method>(query, with_docid=..., **kwargs), `method`
    being search, search_sd or search_sqe, plus per_qid[qid]'s
    arguments.

    Ivory's retrieval is a single-process engine over the MapReduce
    build (BatchQueryRunner.java); here each Spark Python worker is that
    engine. The driver pins a snapshot (index root, properties, postings
    file list) and hands the qid-sorted queries to Spark as a
    session.local_frame: a LocalTableScan in the JVM, which splits them
    into min(len(queries), defaultParallelism) contiguous slices in
    order, so no Python worker starts just to read them. A mapInPandas
    task runs its slice in a searcher the worker process keeps across
    batches, one per process, reopened when the pin changes. So the plan
    has no shuffle, no block-max bounds (an appended index is served
    before refresh_bounds), no docmap join and no sort: collect() returns
    slices in order.

    terms: the batch's query terms, when the caller knows them; if none
    is in the dictionary (exact.resolve_terms, no Spark job) the result
    is an empty local frame and nothing runs.
    allow: a (qid, docno) DataFrame, the only docs each query may score
    (a cascade stage's survivors). Each qid's docnos are gathered into
    one list in the JVM (collect_list) and joined to its query row, so
    they never pass through the driver; the kernel gets them as an
    `allow` array. The join reorders rows, so this route alone ends in
    orderBy("qid", "rank").

    Memory budget: each worker process holds the postings termid and
    blob columns (position bytes too for SD/FD and sqe), the dictionary
    and every docid in memory. When the upper bound _snapshot computes
    for that set exceeds build.BROADCAST_BUDGET_BYTES (256 MB), the
    batch returns over_budget(): bm25_topk_serve passes the exact
    relational plan (exact.bm25_topk). No other model has a route past
    the budget, so without over_budget the call raises ValueError, naming
    the budget and the estimate, before any Spark job. A memory-mapped
    serve image would lift that limit (ROADMAP item 7)."""
    from ivory_spark.index import build

    key, resident = _snapshot(index)
    if resident > build.BROADCAST_BUDGET_BYTES:
        if over_budget is None:
            raise ValueError(
                f"a serve-kernel worker would hold about {resident:,} bytes of the index "
                f"at {index.root}, over build.BROADCAST_BUDGET_BYTES = "
                f"{build.BROADCAST_BUDGET_BYTES:,}; only bm25 runs past that budget"
            )
        return over_budget()
    schema = "qid string, rank int, docno long, score float"
    if with_docid:
        schema = "qid string, rank int, docno long, docid string, score float"
    if terms is not None:
        from ivory_spark.query.exact import resolve_terms

        if not resolve_terms(index, terms):
            return local_frame(spark, [], schema)
    rows = sorted(((q["qid"], q["query"]) for q in queries), key=lambda r: r[0])
    qdf = local_frame(spark, rows, "qid string, query string")
    if allow is not None:
        lists = allow.groupBy("qid").agg(F.collect_list("docno").alias("allow"))
        qdf = qdf.join(lists, "qid", "left")
    out = qdf.mapInPandas(
        partial(_serve_slice, key, method, dict(kwargs, with_docid=with_docid), per_qid or {}),
        schema,
    )
    return out if allow is None else out.orderBy("qid", "rank")


def bm25_topk_serve(
    spark: SparkSession,
    index,
    queries: list[dict],
    k: int = 10,
    with_docid: bool = True,
    params: dict | None = None,
) -> DataFrame:
    """Batch BM25 on the serve kernel (serve_batch over
    LocalSearcher.search; params: k1/b/idf overrides, as bm25_topk reads
    them) -> (qid, rank, docno[, docid], score), rows in (qid, rank)
    order, bit-identical to exact.bm25_topk. The workers learn of OOV
    terms themselves, so the driver reads no dictionary. Past the memory
    budget the batch runs exact.bm25_topk."""
    from ivory_spark.query.exact import bm25_topk

    return serve_batch(
        spark, index, queries, "search", with_docid=with_docid,
        k=k, params=params,
        over_budget=lambda: bm25_topk(
            spark, index, queries, k=k, with_docid=with_docid, params=params
        ),
    )
