"""spark-submit entry point: batch retrieval against a built index.

Usage:
  spark-submit --py-files ivory_spark.zip tools/run_query.py \
      --index-root /path/index --queries queries.xml|queries.jsonl \
      [--model sd|fd|bm25] [--k 10] [--scorer exact|wand] \
      [--output run.txt[.gz]] [--tag ivory_spark]

(The analogue of Ivory's RunQueryLocal / BatchQueryRunner,
smrf/retrieval/RunQueryLocal.java:55-68.)
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--index-root", required=True)
    p.add_argument("--queries", required=True, help=".xml (Ivory format) or .jsonl")
    p.add_argument(
        "--model",
        default="bm25",
        choices=["bm25", "sd", "fd", "dirichlet", "jm", "tfidf", "f2exp"],
    )
    p.add_argument(
        "--model-xml",
        default=None,
        help="Ivory <model> XML file (attribute form or type=\"Feature\" "
        "with SD/FD features) — overrides --model; replays reference run "
        "files through run_batch",
    )
    p.add_argument(
        "--model-id", default=None,
        help="model id to select when --model-xml holds several <model>s",
    )
    p.add_argument("--k", type=int, default=10)
    p.add_argument(
        "--scorer", default="wand", choices=["wand", "exact"],
        help="bm25 batch path: wand = bm25_topk_wand, which runs the serve "
        "kernel (a LocalSearcher per Spark Python worker, 4-6x faster than "
        "the block-max WAND Spark plan it replaced, same rows); exact = the "
        "relational plan",
    )
    p.add_argument("--output", default=None, help="TREC run file (.gz ok)")
    p.add_argument("--tag", default="ivory_spark")
    p.add_argument(
        "--serve",
        action="store_true",
        help="warm serving mode: no Spark, driver-local kernels "
        "(bm25/sd/fd; bit-identical scores, ~ms latency)",
    )
    p.add_argument(
        "--sqe",
        action="store_true",
        help="treat each query as a structured sqe query: the JSONL "
        "'query' field holds a #combine/#weight/#combweight operator "
        "tree (CLIR tf/df-blending semantics, query/sqe.py)",
    )
    args = p.parse_args()

    from ivory_spark.query.batch import parse_query_jsonl, parse_query_xml, write_trec_run

    queries = (
        parse_query_xml(args.queries)
        if args.queries.endswith(".xml")
        else parse_query_jsonl(args.queries)
    )

    if args.sqe:
        if args.serve:
            raise SystemExit("--sqe has no serving mode; drop --serve")
        import json as _json

        for q in queries:
            if isinstance(q["query"], str):
                try:
                    _json.loads(q["query"])
                except ValueError:
                    raise SystemExit(
                        f"--sqe queries must be #combine/#weight operator "
                        f"trees (JSON); qid {q['qid']!r} holds plain text"
                    )
        from ivory_spark.index.reader import open_index
        from ivory_spark.query.sqe import sqe_topk
        from ivory_spark.session import get_spark

        spark = get_spark("ivory-query")
        index = open_index(spark, args.index_root)
        res = sqe_topk(spark, index, queries, k=args.k)
        if args.output:
            n = write_trec_run(res, args.output, tag=args.tag)
            print(f"wrote {n} result lines to {args.output}")
        else:
            for r in res.collect():
                print(f"{r['qid']} Q0 {r['docid']} {r['rank']} {r['score']:.6f} {args.tag}")
        return

    if args.serve:
        if args.model not in ("bm25", "sd", "fd"):
            raise SystemExit("--serve supports bm25, sd and fd")
        from ivory_spark.query.serve import LocalSearcher

        searcher = LocalSearcher(args.index_root)
        if args.model == "bm25":
            run = lambda q: searcher.search(q, k=args.k)
        else:
            from ivory_spark.query.mrf import MrfModel

            model = MrfModel(dependence=args.model, k=args.k)
            run = lambda q: searcher.search_sd(q, k=args.k, model=model)
        rows = [
            {"qid": q["qid"], "rank": r["rank"], "docid": r["docid"], "score": r["score"]}
            for q in queries
            for r in run(q["query"])
        ]
        if args.output:
            from ivory_spark.query.batch import write_trec_lines

            n = write_trec_lines(rows, args.output, tag=args.tag)
            print(f"wrote {n} result lines to {args.output}")
        else:
            for r in rows:
                print(f"{r['qid']} Q0 {r['docid']} {r['rank']} {r['score']:.6f} {args.tag}")
        return

    from ivory_spark.index.reader import open_index
    from ivory_spark.session import get_spark

    spark = get_spark("ivory-query")
    index = open_index(spark, args.index_root)

    if args.model_xml:
        from ivory_spark.query.batch import parse_model_xml, run_batch

        model = parse_model_xml(args.model_xml, model_id=args.model_id)
        res = run_batch(spark, index, queries, model)
    elif args.model in ("dirichlet", "jm", "tfidf", "f2exp"):
        from ivory_spark.query.batch import Model, run_batch

        res = run_batch(spark, index, queries, Model(scorer=args.model, k=args.k))
    elif args.model == "bm25":
        if args.scorer == "wand":
            from ivory_spark.query.wand import bm25_topk_wand

            res = bm25_topk_wand(spark, index, queries, k=args.k)
        else:
            from ivory_spark.query.exact import bm25_topk

            res = bm25_topk(spark, index, queries, k=args.k)
    else:
        from ivory_spark.query.mrf import MrfModel, mrf_topk

        res = mrf_topk(spark, index, queries, MrfModel(dependence=args.model, k=args.k))

    if args.output:
        n = write_trec_run(res, args.output, tag=args.tag)
        print(f"wrote {n} result lines to {args.output}")
    else:
        for r in res.collect():
            print(f"{r['qid']} Q0 {r['docid']} {r['rank']} {r['score']:.6f} {args.tag}")


if __name__ == "__main__":
    main()
