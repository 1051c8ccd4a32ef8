"""Scaling-efficiency evidence: run the identical index-build + query job
at two parallelism levels (local[N] and local[4N]) in FRESH JVMs and
report throughput at both plus efficiency = thr(4N) / (4 * thr(N)).

No real cluster exists in this sandbox (BASELINE.md), so parallelism
levels stand in for cluster sizes per the driver's instruction. This
host is oversubscribed: `nproc` reports 32 but a pure-CPU Spark probe
(sha2 over a generated range, no I/O) cannot reach 4x between any N and
4N pair — so each run ALSO measures that probe at both levels and
reports the engine's efficiency both raw and normalized by the host's
own achievable ceiling. On a real cluster (N vs 4N executors) the
ceiling factor is 1.

Usage: python tools/bench_scaling.py [n_low] [n_docs]
Writes scaling_result.json at the repo root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = r"""
import json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from ivory_spark.session import get_spark
from ivory_spark.corpus import QUERY_SET
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.query.wand import bm25_topk_wand
from pyspark.sql import functions as F

cpus = {cpus}
corpus_path = {corpus_path!r}
root = "/tmp/ivory_scale_idx_{cpus}"
shutil.rmtree(root, ignore_errors=True)
spark = get_spark("scale", cores=cpus, shuffle_partitions=cpus)

# warmup: JVM codegen + python workers (constant per process, not per-byte)
warm = spark.read.parquet(corpus_path).limit(2000)
warm.select(F.sha2("content", 256)).count()
warm.mapInPandas(lambda it: it, schema="repo string, path string, commit string, lang string, content string").count()

# pure-CPU host probe at this thread count (no I/O): the achievable ceiling
probe = spark.range(0, 6_000_000, 1, cpus).select(
    F.sha2(F.concat(F.lit("x"*200), F.col("id").cast("string")), 256).alias("h"))
probe.count()
p_times = []
for _ in range(2):
    t0 = time.monotonic(); probe.select(F.max("h")).collect()
    p_times.append(time.monotonic() - t0)
probe_sec = min(p_times)

t0 = time.monotonic()
props = build_index(spark, corpus_path, root,
                    IndexConfig(salt_threshold=props_salt, n_shards=max(cpus, 4)))
build = time.monotonic() - t0
index = open_index(spark, root)
bm25_topk_wand(spark, index, QUERY_SET[:2], k=10).collect()
t0 = time.monotonic()
bm25_topk_wand(spark, index, QUERY_SET, k=10).collect()
q = time.monotonic() - t0
print("RESULT " + json.dumps({{"cpus": cpus, "build_sec": build,
      "docs_per_sec": props["n_docs"] / build, "query_batch_sec": q,
      "probe_sec": probe_sec}}))
"""


def run_at(cpus: int, corpus_path: str, n_docs: int) -> dict:
    code = JOB.format(repo=REPO, cpus=cpus, corpus_path=corpus_path).replace(
        "props_salt", str(max(n_docs // 10, 1000))
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3000,
        cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT at cpus={cpus}:\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}")


def main() -> None:
    n_low = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 400000
    corpus_dir = f"/tmp/ivory_bench_corpus_{n_docs}"
    corpus_path = os.path.join(corpus_dir, "corpus.parquet")
    if not os.path.exists(corpus_path):
        sys.path.insert(0, REPO)
        from ivory_spark.corpus import write_corpus

        write_corpus(corpus_dir, n_docs, seed=13)

    lo = run_at(n_low, corpus_path, n_docs)
    hi = run_at(n_low * 4, corpus_path, n_docs)
    eff = hi["docs_per_sec"] / (4 * lo["docs_per_sec"])
    host_ceiling = lo["probe_sec"] / (4 * hi["probe_sec"])  # = probe eff
    result = {
        "n_docs": n_docs,
        "low": lo,
        "high": hi,
        "build_scaling_efficiency": round(eff, 3),
        "host_cpu_probe_efficiency": round(host_ceiling, 3),
        "efficiency_vs_host_ceiling": round(min(eff / host_ceiling, 1.5), 3)
        if host_ceiling > 0 else None,
        "query_batch_speedup": round(lo["query_batch_sec"] / hi["query_batch_sec"], 3),
        "timestamp": time.strftime("%Y-%m-%d %H:%M:%S"),
        "note": "parallelism levels stand in for cluster sizes (no real "
        "cluster in sandbox); host is oversubscribed — see BENCH.md",
    }
    print(json.dumps(result, indent=2))
    with open(os.path.join(REPO, "scaling_result.json"), "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    main()
