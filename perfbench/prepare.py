"""Prepare the benchmark's inputs in their own process (it hosts a Spark
JVM, so the serve timing process never does):

- the seeded corpus (corpus.write_corpus) every workload reads;
- the index built from it with the pinned IndexConfig, which the serve
  workloads search and build_ingest rebuilds;
- the goldens: exact-path (query.exact.bm25_topk) top-10 rows of the
  fixed check sample, as (rank, docno, docid, float32 score bits);
- the query-term bands of the corpus generator;
- the table of the host-speed probe (common.HostSpeed).

Usage: python3 perfbench/prepare.py --scale full --out <dir>
run.py calls this when a checkout has no inputs for its sources yet.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402


def prepare(scale: str, out: str) -> None:
    cfg = common.SCALES[scale]
    os.makedirs(out, exist_ok=True)
    from ivory_spark.corpus import write_corpus
    from ivory_spark.index.build import build_index
    from ivory_spark.index.reader import open_index
    from ivory_spark.query.exact import bm25_topk

    corpus = write_corpus(os.path.join(out, "corpus"), cfg["n_docs"], seed=common.CORPUS_SEED)
    bands = common.vocab_bands(cfg["n_docs"])
    check = common.check_sample(bands, cfg["check_generated"])
    spark = common.start_spark("perfbench-prepare")
    try:
        index_root = os.path.join(out, "index")
        props = build_index(
            spark, corpus, index_root, common.index_config(cfg["n_docs"], common.ncores())
        )
        rows = bm25_topk(spark, open_index(spark, index_root), check, k=common.K).collect()
    finally:
        common.stop_spark(spark)
    golden = common.by_qid(rows, [q["qid"] for q in check])
    with open(os.path.join(out, "golden.json"), "w") as f:
        json.dump(golden, f)
    with open(os.path.join(out, "bands.json"), "w") as f:
        json.dump(bands, f)
    common.write_probe_data(os.path.join(out, "probe"))
    ready = {
        "scale": scale,
        "corpus": os.path.relpath(corpus, out),
        "index": "index",
        "probe": "probe",
        "corpus_rows": cfg["n_docs"],
        "props": {k: props[k] for k in ("n_docs", "n_terms", "collection_length")},
    }
    with open(os.path.join(out, "ready.json"), "w") as f:
        json.dump(ready, f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", choices=sorted(common.SCALES), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    common.pin_environment()
    prepare(args.scale, args.out)


if __name__ == "__main__":
    main()
