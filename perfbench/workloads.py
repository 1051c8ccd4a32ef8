"""The benchmark's workloads.

build_ingest  one process at local[nproc]: get_spark, then build_index over
              the corpus, a 100-query WAND batch, append_delta of a seeded
              delta, the same batch while bounds are stale (exact path),
              refresh_bounds, and the batch through WAND (twice).
serve_hot     LocalSearcher.search(k=10) in a process without Spark; whole
              blocks of zipf(1) draws from a 256-query pool, after a warm-up
              that sends each query a block holds once, so every term run
              is served from the postings LRU.
serve_cold    the same searcher; whole blocks of fresh queries over the
              corpus generator's whole vocabulary, so most term runs miss
              the LRU.

Every workload reports its times scaled to a nominal host speed, and
prints the unscaled figures as a note. The serve workloads run the
host-speed probe (common.HostSpeed) after every query; build_ingest runs
a small fixed Spark job (common.spark_probe) before each timed section,
because the single-threaded probe does not follow how Spark's work on
every core slows. Each workload returns a Result; run.py prints it.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import common
from perfbench.common import K, Section
from perfbench.trace import Patches, Tracer, instrument_serve, instrument_spark


WAND_AFTER_REFRESH = 2  # WAND batches on the refreshed index, for a steadier latency median
OPEN_EVERY = 10  # serve loops: one LocalSearcher construction after every 10th query


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: str
    prep: dict
    run_dir: str
    tracer: Tracer


@dataclass
class Result:
    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    record: dict = field(default_factory=dict)


def _rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _latency(lat_s: list[float]) -> dict[str, float]:
    return {
        "query_p50_ms": statistics.median(lat_s) * 1000.0,
        "query_p95_ms": common.percentile(lat_s, 95) * 1000.0,
    }


def _speed_note(raw: dict[str, float], speed: common.HostSpeed) -> str:
    return (f"host speed: probe median {statistics.median(speed.samples) * 1000:.3f} ms over "
            f"{len(speed.samples)} calls (nominal {common.PROBE_NOMINAL_S * 1000:g} ms), "
            f"run factor {speed.factor():.4f}; unscaled "
            + ", ".join(f"{k} {v:.4g}" for k, v in raw.items()))


def _term_ids(index_root: str) -> tuple[dict[str, int], object]:
    """term -> termid from the dictionary artifact, plus the index's tokenizer."""
    import pyarrow.dataset as pads

    from ivory_spark.functions.tokenizer import get_tokenizer

    with open(os.path.join(index_root, "properties.json")) as f:
        props = json.load(f)
    tab = pads.dataset(os.path.join(index_root, "dictionary")).to_table(columns=["term", "termid"])
    ids = dict(zip(tab["term"].to_pylist(), tab["termid"].to_pylist()))
    return ids, get_tokenizer(props.get("tokenizer", "code_v1")).tokenize_py


# ---------------------------------------------------------------- build_ingest


def make_delta(base_corpus: str, seed: int, n: int, out_dir: str) -> tuple[str, int]:
    """A seeded delta corpus. Paths get a delta/ prefix so identities
    never collide with the base; about DUP_SHARE of the docs copy a base
    document's content, so the cross-index sha256 dedup has work."""
    import pandas as pd

    from ivory_spark.corpus import generate_corpus

    rng = np.random.RandomState(seed)
    df = generate_corpus(n, seed=100_000 + seed).drop(columns=["sha256"])
    df["path"] = "delta/" + df["path"]
    base = pd.read_parquet(base_corpus, columns=["content"])["content"]
    base = base[base.str.len() > 0].to_numpy()
    n_dup = max(1, int(round(n * common.DUP_SHARE)))
    rows = rng.choice(n, size=n_dup, replace=False)
    df.loc[rows, "content"] = base[rng.choice(len(base), size=n_dup, replace=False)]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "delta.parquet")
    df.to_parquet(path, index=False, row_group_size=2048)
    return path, n


def batch_shape(index_root: str, queries: list[dict]) -> tuple[int, int]:
    """(WAND (qid, shard) kernel groups, candidate postings runs) of a
    batch on an index, counted from its artifacts outside any timing."""
    import pyarrow.dataset as pads

    ids, tok = _term_ids(index_root)
    with open(os.path.join(index_root, "properties.json")) as f:
        props = json.load(f)
    q_terms = [{ids[t] for t in tok(q["query"]) if t in ids} for q in queries]
    wanted = sorted(set().union(*q_terms))
    if not wanted:
        return 0, 0
    runs = pads.dataset(os.path.join(index_root, "postings")).to_table(
        columns=["termid", "first_docno", "last_docno"],
        filter=pads.field("termid").isin(wanted),
    )
    n_shards, n_docs = props["n_shards"], props["n_docs"]
    spans: dict[int, set[int]] = {}
    for t, lo, hi in zip(*(runs[c].to_pylist() for c in ("termid", "first_docno", "last_docno"))):
        spans.setdefault(t, set()).update(
            range(lo * n_shards // (n_docs + 1), hi * n_shards // (n_docs + 1) + 1)
        )
    groups = sum(len(set().union(*(spans.get(t, set()) for t in ts))) for ts in q_terms if ts)
    return groups, runs.num_rows


def build_ingest(ctx: Context) -> Result:
    from ivory_spark.index import build, compact
    from ivory_spark.index.reader import open_index
    from ivory_spark.plans.manifest import load_manifest
    from ivory_spark.plans.validate import IndexValidationError, validate_index
    from ivory_spark.query import batch as qbatch
    from ivory_spark.query import wand

    scale = common.SCALES[ctx.scale]
    prep, tracer = ctx.prep, ctx.tracer
    bands = prep["bands"]
    rng = np.random.RandomState(ctx.seed)
    check = common.check_sample(bands, scale["check_generated"])
    queries = common.extend_queries(check, scale["batch"], rng, bands, "b")
    qids = [q["qid"] for q in queries]
    corpus = os.path.join(prep["dir"], prep["corpus"])
    delta, delta_rows = make_delta(corpus, ctx.seed, scale["delta_docs"], ctx.run_dir)
    cfg = common.index_config(scale["n_docs"], common.ncores())
    res = Result(e2e={})
    load0, steal0 = common.loadavg(), common.steal_s()

    patches = Patches()
    if ctx.trace:
        instrument_spark(tracer, patches)
    try:
        with tracer.span("session.get_spark"), Section() as setup:
            spark = common.start_spark("perfbench-build-ingest")
        try:
            cycles, sprobes = [], []
            t_start = time.perf_counter()
            while not cycles or time.perf_counter() - t_start < ctx.seconds:
                root = os.path.join(ctx.run_dir, f"index{len(cycles)}")
                c = {"root": root, "wand": [], "stale": []}

                def timed(key, fn):
                    sprobes.append(common.spark_probe(spark))
                    with Section() as sec:
                        fn()
                    c[key] = sec

                def batch(kind, run):
                    """One timed batch, from an Index opened as a new client would."""
                    index = open_index(spark, root)
                    sprobes.append(common.spark_probe(spark))
                    with tracer.span(f"{kind}.batch"), Section() as sec:
                        rows = run(index).collect()
                    c["wand" if kind == "wand" else "stale"].append(sec)
                    return index, common.by_qid(rows, qids)

                # -- timed: build, WAND batch, append, stale batch, refresh, WAND batches
                timed("build", lambda: build.build_index(spark, corpus, root, cfg))
                built = batch("wand", lambda ix: wand.bm25_topk_wand(spark, ix, queries, k=K))
                if ctx.trace:
                    c["groups1"], _ = batch_shape(root, queries)
                    c["manifests"] = {
                        s: load_manifest(root, s)
                        for s in ("docmap", "tdf", "dictionary", "doclens", "properties", "postings")
                    }
                timed("append", lambda: compact.append_delta(spark, root, delta))
                stale, gs = batch("exact", lambda ix: qbatch.run_batch(spark, ix, queries))
                timed("refresh", lambda: compact.refresh_bounds(spark, root))
                refreshed = [batch("wand", lambda ix: qbatch.run_batch(spark, ix, queries))
                             for _ in range(WAND_AFTER_REFRESH)]
                # -- untimed: correctness gate
                res.attempted += (2 + WAND_AFTER_REFRESH) * len(queries) + 4
                for q in qids:
                    want = prep["golden"].get(q)
                    if (want is not None and built[1][q] != want) or not common.well_formed(built[1][q]):
                        res.failed += 1
                        res.notes.append(f"mismatch: build WAND batch {q} vs golden")
                    if not common.well_formed(gs[q]):
                        res.failed += 1
                        res.notes.append(f"mismatch: stale exact batch {q} malformed")
                    for _, g in refreshed:
                        if g[q] != gs[q]:
                            res.failed += 1
                            res.notes.append(f"mismatch: refreshed WAND batch {q} vs exact path")
                want_props = prep["props"]
                got = {k: built[0].properties[k] for k in want_props}
                if got != want_props:
                    res.failed += 1
                    res.notes.append(f"mismatch: built index {got} vs prepared {want_props}")
                if stale.properties.get("bounds_stale") is not True:
                    res.failed += 1
                    res.notes.append("mismatch: append_delta left bounds fresh")
                try:
                    validate_index(spark, refreshed[0][0])
                except IndexValidationError as e:
                    res.failed += 1
                    res.notes.append(f"mismatch: validate_index: {e}")
                appended = load_manifest(root, "append_0") or {"metrics": {}}
                c["added"] = int(appended["metrics"].get("n_docs_added", 0))
                if c["added"] >= delta_rows:
                    res.failed += 1
                    res.notes.append(f"mismatch: appended {c['added']} >= delta rows {delta_rows}")
                if ctx.trace:
                    c["groups2"], c["candidate_runs"] = batch_shape(root, queries)
                    c["postings_bytes"] = common.dir_bytes(os.path.join(root, "postings"))
                cycles.append(c)
        finally:
            common.stop_spark(spark)
    finally:
        patches.undo()
    load1, steal = common.loadavg(), common.steal_s() - steal0

    docs = scale["n_docs"] + delta_rows
    # One factor for the run, from the mean probe after the first (which
    # still pays the probe's own warm-up). get_spark runs before any probe
    # can and takes the same factor: the host's slow and fast spells last
    # longer than a run.
    factor = common.SPARK_PROBE_NOMINAL_S / statistics.mean(sprobes[1:])

    def e2e(f: float) -> dict[str, float]:
        write = [(c["build"], c["append"], c["refresh"]) for c in cycles]
        # a query in a Spark batch waits for its whole batch
        lat = [s.wall * f for c in cycles for s in c["wand"] + c["stale"] for _ in queries]
        return {
            "setup_s": setup.wall * f,
            "throughput_per_s": statistics.median(docs / sum(s.wall * f for s in w) for w in write),
            "cpu_ms_per_item": statistics.median(1000.0 * sum(s.cpu * f for s in w) / docs
                                                 for w in write),
            **_latency(lat),
            "peak_rss_mb": _rss_mb(),
        }

    raw = e2e(1.0)
    res.e2e = e2e(factor)
    res.notes.append(
        "host speed: Spark probe " + " ".join(f"{w:.3f}" for w in sprobes) + " s (nominal mean "
        f"{common.SPARK_PROBE_NOMINAL_S:g} s), factor {factor:.4f}; unscaled "
        + ", ".join(f"{k} {v:.4g}" for k, v in raw.items()))
    last = cycles[-1]
    added = last["added"]
    res.notes.append(
        f"premise ingest: delta_docs_added {added} < delta rows {delta_rows}: "
        f"{'holds' if added < delta_rows else 'FAILS'}"
    )
    sections = [
        {k: [(s.wall, s.cpu) for s in (v if isinstance(v, list) else [v])]
         for k, v in c.items() if k in ("build", "wand", "append", "stale", "refresh")}
        for c in cycles
    ]
    res.notes.append(
        f"host: loadavg {load0:.2f} -> {load1:.2f}; steal {steal:.2f}s; cycles {len(cycles)}; "
        "(wall s, cpu s) "
        + "; ".join(f"{k} " + " ".join(f"({w:.2f}, {u:.2f})" for w, u in v)
                    for k, v in sections[-1].items())
    )
    res.record["host"] = {"loadavg_before": load0, "loadavg_after": load1, "steal_s": steal,
                          "setup_cpu_s": setup.cpu, "sections": sections,
                          "sprobes": sprobes,
                          "factor": factor, "raw": raw}
    if ctx.trace:
        res.layers = _build_ingest_layers(tracer, last, delta, corpus)
    return res


def _build_ingest_layers(tracer, c, delta, corpus) -> dict[str, float]:
    m = c["manifests"]
    layers = {
        "session.get_spark_s": tracer.total("session.get_spark"),
        "build.wall_s": c["build"].wall,
        "build.cpu_s": c["build"].cpu,
        "build.tdf_rows": m["tdf"]["metrics"]["n_rows"],
        "build.postings_runs": m["postings"]["metrics"]["n_runs"],
        "build.n_terms": m["dictionary"]["metrics"]["n_terms"],
        "compact.append_delta_s": c["append"].wall,
        "compact.refresh_bounds_s": c["refresh"].wall,
        "compact.cpu_s": c["append"].cpu + c["refresh"].cpu,
        "compact.delta_docs_added": c["added"],
        "compact.refresh_write_amp": c["postings_bytes"] / os.path.getsize(delta),
        "exact.query_term_rows_s": statistics.median(tracer.durations("exact.query_term_rows")),
        "exact.candidate_runs": c["candidate_runs"],
        "exact.stale_batch_s": c["stale"][0].wall,
        "wand.batch_s": statistics.median(s.wall for s in c["wand"]),
        "wand.batch_cpu_s": statistics.median(s.cpu for s in c["wand"]),
        "wand.groups": c["groups1"] + c["groups2"],
    }
    total_bytes = 0
    for stage, manifest in m.items():
        layers[f"build.{stage}_s"] = manifest["wall_time_sec"]
        for name, art in manifest["metrics"].get("artifacts", {}).items():
            layers[f"bytes.{name}"] = art["bytes_total"]
            total_bytes += art["bytes_total"]
    layers["build.index_bytes_per_corpus_byte"] = total_bytes / os.path.getsize(corpus)
    return layers


# ---------------------------------------------------------------- serve


def zipf_quota(weights: np.ndarray) -> np.ndarray:
    """How often each pool query appears in a block of ZIPF_BLOCK draws:
    its zipf share, rounded by largest remainder."""
    share = common.ZIPF_BLOCK * weights / weights.sum()
    quota = np.floor(share).astype(np.int64)
    short = common.ZIPF_BLOCK - int(quota.sum())
    quota[np.argsort(-(share - quota), kind="stable")[:short]] += 1
    return quota


def zipf_blocks(quota: np.ndarray, rng: np.random.RandomState):
    """Blocks of pool indices, each holding every query its quota of
    times in seeded order: blocks differ in order, not in mix."""
    block = np.repeat(np.arange(len(quota)), quota)
    for _ in range(common.MAX_BLOCKS):
        yield rng.permutation(block)


def serve(ctx: Context, hot: bool) -> Result:
    from ivory_spark.query import serve as serve_mod

    scale = common.SCALES[ctx.scale]
    prep, tracer = ctx.prep, ctx.tracer
    bands = prep["bands"]
    golden = prep["golden"]
    index_root = os.path.join(prep["dir"], prep["index"])
    rng = np.random.RandomState(ctx.seed)
    check = common.check_sample(bands, scale["check_generated"])
    if hot:
        pool_rng = np.random.RandomState(common.POOL_SEED)
        pool = common.extend_queries(check, scale["pool"], pool_rng, bands, "p")
        weights = 1.0 / (pool_rng.permutation(len(pool)) + 1.0) ** common.ZIPF_S
        quota = zipf_quota(weights)
        blocks = ([pool[i] for i in b] for b in zipf_blocks(quota, rng))
        warm = [pool[i] for i in np.flatnonzero(quota)]  # every query a block sends
    else:
        blocks = (
            [{"qid": f"s{n:03d}.{i:03d}", "query": text}
             for i, text in enumerate(common.gen_cold_block(rng, bands, common.COLD_BLOCK))]
            for n in range(common.MAX_BLOCKS)
        )
        warm = check
    ids, tok = _term_ids(index_root)
    speed = common.HostSpeed(os.path.join(prep["dir"], prep["probe"]))
    res = Result(e2e={})
    load0, steal0 = common.loadavg(), common.steal_s()

    patches = Patches()
    if ctx.trace:
        instrument_serve(tracer, patches)
    try:
        def open_searcher():
            t0 = time.perf_counter()
            searcher = serve_mod.LocalSearcher(index_root)
            opens.append((time.perf_counter() - t0, len(speed.samples)))
            return searcher

        # setup_s: the median construction, spread through the run so that
        # a short slow spell of the host does not set it
        opens = []  # (wall, probe calls made before it)
        searcher = open_searcher()
        n_open_spans = len(tracer.spans)

        def run_checked(queries) -> dict[str, list]:
            out = {}
            for q in queries:
                rows = common.norm_rows(searcher.search(q["query"], k=K))
                out[q["qid"]] = rows
                res.attempted += 1
                want = golden.get(q["qid"])
                if (want is not None and rows != want) or not common.well_formed(rows):
                    res.failed += 1
                    res.notes.append(f"mismatch: served {q['qid']} vs golden")
            return out

        warm_rows = run_checked(warm)
        del tracer.spans[n_open_spans:]
        tracer.counts.clear()

        # -- timed: one client, closed loop, whole blocks; the probe runs
        # after each query, outside its timing
        lat, cpu, sent, results = [], [], [], []
        loop0 = len(speed.samples)
        t_start = time.perf_counter()
        for block in blocks:
            for q in block:
                tracer.qid = q["qid"]
                c0, t0 = time.process_time(), time.perf_counter()
                try:
                    rows = searcher.search(q["query"], k=K)
                except Exception as e:  # a failed request counts; the loop goes on
                    rows = None
                    res.notes.append(f"failed: {q['qid']}: {e!r}")
                lat.append(time.perf_counter() - t0)
                cpu.append(time.process_time() - c0)
                tracer.qid = None
                sent.append(q)
                results.append(rows)
                speed.probe()
                if len(sent) % OPEN_EVERY == 0:
                    open_searcher()
            if time.perf_counter() - t_start >= ctx.seconds:
                break
        loop_wall = time.perf_counter() - t_start
        n_loop_spans = len(tracer.spans)
        loop_counts = dict(tracer.counts)

        # -- untimed: correctness gate
        res.attempted += len(sent)
        for q, rows in zip(sent, results):
            got = None if rows is None else common.norm_rows(rows)
            ok = got is not None and common.well_formed(got)
            if ok and hot:
                ok = got == warm_rows[q["qid"]]
            if not ok:
                res.failed += 1
                res.notes.append(f"mismatch: timed {q['qid']}")
        if not hot:
            run_checked(check)  # after the LRU has churned
    finally:
        patches.undo()
    load1, steal = common.loadavg(), common.steal_s() - steal0

    n = len(sent)
    f_q = speed.local_factors(loop0, n)  # wall times scale by the probe's wall time,
    c_q = speed.local_factors(loop0, n, cpu=True)  # CPU times by its CPU time
    # a construction in the loop takes the factor of the query before it;
    # the first, before any probe, that of the first query
    f_open = [f_q[max(0, k - loop0 - 1)] for _, k in opens]

    # Every serve_cold query does about the same work, so its tail is the
    # host's jitter, which the probe's median does not see: its p95 is
    # scaled by the probe's own p95 over the loop. serve_hot's tail is its
    # heaviest queries and is scaled like the rest.
    tail_factor = common.PROBE_NOMINAL_P95_S / common.percentile(speed.samples[loop0:], 95)

    def e2e(scaled: bool) -> dict[str, float]:
        fs, cs = (f_q, c_q) if scaled else ([1.0] * n, [1.0] * n)
        s_lat = [t * f for t, f in zip(lat, fs)]
        out = {
            "setup_s": statistics.median(w * (f if scaled else 1.0)
                                         for (w, _), f in zip(opens, f_open)),
            "throughput_per_s": n / sum(s_lat),
            "cpu_ms_per_item": 1000.0 * sum(t * f for t, f in zip(cpu, cs)) / n,
            **_latency(s_lat),
            "peak_rss_mb": _rss_mb(),
        }
        if scaled and not hot:
            out["query_p95_ms"] = common.percentile(lat, 95) * 1000.0 * tail_factor
        return out

    raw = e2e(scaled=False)
    res.e2e = e2e(scaled=True)
    res.notes.append(_speed_note(raw, speed))

    def termids(q):
        return {ids[t] for t in tok(q["query"]) if t in ids}

    if hot:
        distinct = len(set().union(*(termids(q) for q in warm)))
        res.notes.append(
            f"premise serve_hot: distinct term runs of the {len(warm)} queries a block sends "
            f"{distinct} < LRU {common.LRU_RUNS}, "
            f"so every timed lookup hits (hit ratio 1.0): "
            f"{'holds' if distinct < common.LRU_RUNS else 'FAILS'}"
        )
    else:
        drawable = len({ids[t] for b in common.COLD_BANDS for t in bands[b] if t in ids})
        seen = set().union(*(termids(q) for q in warm))
        requested = first = 0
        for q in sent:
            ts = termids(q)
            requested += len(ts)
            first += len(ts - seen)
            seen |= ts
        res.notes.append(
            f"premise serve_cold: drawable term runs {drawable} > LRU {common.LRU_RUNS}: "
            f"{'holds' if drawable > common.LRU_RUNS else 'FAILS'}; "
            f"{first}/{requested} timed term lookups are first requests (must miss)"
        )
    res.notes.append(
        f"host: loadavg {load0:.2f} -> {load1:.2f}; steal {steal:.2f}s; loop {n} queries "
        f"in {n // len(block)} blocks, wall {loop_wall:.2f}s (searches {sum(lat):.2f}s), "
        f"cpu {sum(cpu):.2f}s"
    )
    res.record["host"] = {"loadavg_before": load0, "loadavg_after": load1, "steal_s": steal,
                          "loop_wall_s": loop_wall, "search_wall_s": sum(lat),
                          "search_cpu_s": sum(cpu), "queries": n,
                          "probe_s": speed.samples, "probe_cpu_s": speed.cpu_samples,
                          "loop0": loop0, "factor": speed.factor(), "raw": raw}
    res.record["latency_ms"] = [round(x * 1000.0, 3) for x in lat]
    res.record["cpu_ms"] = [round(x * 1000.0, 3) for x in cpu]
    res.record["factors"] = [round(f, 4) for f in f_q]
    if ctx.trace:
        del tracer.spans[n_loop_spans:]
        search_s = sum(lat)
        res.layers = _serve_layers(tracer, search_s, loop_counts)
        shares = {name: tracer.self_time(name) / search_s
                  for name in ("serve.search", "serve.runs_for", "serve.docids",
                               "wand.score", "codec.decode_block")}
        top = max(shares, key=shares.get)
        res.notes.append(
            "self-time share of search time: "
            + ", ".join(f"{k} {v:.1%}" for k, v in shares.items())
            + f"; largest {top}; wand.score + serve.docids (with decode) = "
            f"{(res.layers['wand.score_s'] + res.layers['codec.decode_block_s'] + res.layers['serve.docids_s']) / search_s:.1%}"
        )
    return res


def _serve_layers(tracer, search_s, counts) -> dict[str, float]:
    opens = tracer.durations("serve.open")
    requested = counts.get("serve.terms_requested", 0)
    total_segments = counts.get("wand.segments_total", 0)
    return {
        "serve.open_s": statistics.median(opens),
        "serve.loop_s": search_s,
        "serve.runs_for_s": tracer.self_time("serve.runs_for"),
        "serve.cache_hit_ratio": counts.get("serve.terms_hit", 0) / requested if requested else 0.0,
        "serve.runs_fetched": counts.get("serve.runs_fetched", 0),
        "serve.blob_bytes_fetched": counts.get("serve.blob_bytes_fetched", 0),
        "serve.docids_s": tracer.total("serve.docids"),
        "wand.score_s": tracer.self_time("wand.score"),
        "wand.segments_total": total_segments,
        "wand.segments_scored": counts.get("wand.segments_scored", 0),
        "wand.scored_frac": (counts.get("wand.segments_scored", 0) / total_segments
                             if total_segments else 0.0),
        "codec.blocks_decoded": counts.get("codec.blocks_decoded", 0),
        "codec.decode_block_s": tracer.total("codec.decode_block"),
    }


WORKLOADS = {
    "build_ingest": build_ingest,
    "serve_hot": lambda ctx: serve(ctx, hot=True),
    "serve_cold": lambda ctx: serve(ctx, hot=False),
}
