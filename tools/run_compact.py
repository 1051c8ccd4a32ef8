"""spark-submit entry point: incremental index maintenance.

Usage:
  spark-submit --py-files ivory_spark.zip tools/run_compact.py \
      --index-root /path/index append --delta /path/delta.parquet
  spark-submit ... tools/run_compact.py --index-root /path/index refresh-bounds
  spark-submit ... tools/run_compact.py --index-root /path/index repair

append folds a document delta (any parquet files in the corpus schema;
extra columns are dropped) into the index as new docno-disjoint postings
runs; refresh-bounds re-derives the WAND block-max bounds under the
grown stats (required before the WAND path resumes); repair removes
orphan rows left by a crashed append. The batch counterpart of the
reference re-running its MapReduce build over the grown collection
(app/PreprocessCollection.java).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--index-root", required=True)
    sub = p.add_subparsers(dest="cmd", required=True)
    ap = sub.add_parser("append")
    ap.add_argument("--delta", required=True, help="delta corpus parquet path")
    ap.add_argument("--refresh", action="store_true",
                    help="run refresh-bounds right after the append")
    sub.add_parser("refresh-bounds")
    sub.add_parser("repair")
    args = p.parse_args()

    from ivory_spark.index.compact import (
        append_delta,
        refresh_bounds,
        repair_partial_append,
    )
    from ivory_spark.session import get_spark

    spark = get_spark("ivory-compact")
    if args.cmd == "append":
        props = append_delta(spark, args.index_root, args.delta)
        if args.refresh:
            props = refresh_bounds(spark, args.index_root)
    elif args.cmd == "refresh-bounds":
        props = refresh_bounds(spark, args.index_root)
    else:
        props = repair_partial_append(spark, args.index_root)
    print(json.dumps({
        "cmd": args.cmd,
        "n_docs": props["n_docs"],
        "n_terms": props["n_terms"],
        "bounds_stale": props.get("bounds_stale", False),
    }))


if __name__ == "__main__":
    main()
