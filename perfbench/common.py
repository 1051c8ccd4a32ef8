"""Shared pieces of the benchmark: checkout layout, pinned configuration,
seeded query generation, host-noise probes and result comparison.

Importing this module starts nothing and touches no file; the functions
that set up the process environment or read the checkout are called by
run.py and prepare.py under their __main__ guards.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")  # caches, run records, spans, scratch

# Input sizes. "full" is what BENCHMARK.json runs; "tiny" is for the
# smoke test. n_docs sizes the one corpus every workload reads (built in
# build_ingest, prepared once for serve_*); delta_docs is the append.
SCALES = {
    "full": {"n_docs": 2000, "delta_docs": 200, "pool": 256, "batch": 100, "check_generated": 25},
    "tiny": {"n_docs": 300, "delta_docs": 40, "pool": 48, "batch": 30, "check_generated": 5},
}
CORPUS_SEED = 13  # the corpus is seed-independent so one prepared index serves every run
CHECK_SEED = 20251  # the fixed check sample, whose goldens are prepared once
POOL_SEED = 20252  # the fixed serve_hot query population; --seed draws the stream from it
LRU_RUNS = 4096  # LocalSearcher's default postings cache capacity (term entries)
K = 10
DUP_SHARE = 0.01  # share of delta docs that copy a base document's content
ZIPF_S = 1.0  # query popularity exponent for serve_hot
# The serve loops run whole blocks and stop at the first block boundary
# after --seconds, so every run measures the same query mix: a serve_hot
# block holds each pool query its zipf share of ZIPF_BLOCK times, a
# serve_cold block COLD_BLOCK fresh queries of a fixed shape.
ZIPF_BLOCK = 200
COLD_BLOCK = 300
MAX_BLOCKS = 1000

# Host-speed probe (HostSpeed), used by the serve workloads. The nominal
# figures are the probe's median wall and process CPU time on a 4-vCPU
# Intel Xeon VM; serve times are scaled to the host speed at which the
# probe takes exactly that long.
PROBE_NOMINAL_S = 0.008
PROBE_NOMINAL_CPU_S = 0.013
PROBE_NOMINAL_P95_S = 0.010  # the probe's p95 over a serve loop (serve_cold's tail)
PROBE_KEYS = 2048  # distinct keys in the probe's table, PROBE_ROWS_PER_KEY rows each
PROBE_ROWS_PER_KEY = 4
PROBE_SEED = 20253
PROBE_WINDOW = 15  # serve loops: probe calls either side of a query that set its factor
# build_ingest's Spark probe (spark_probe): its mean wall time on the same VM
# lay between 0.3 s and 0.6 s as the host's load changed.
SPARK_PROBE_NOMINAL_S = 0.4


def ncores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def index_config(n_docs: int, cores: int):
    """The pinned IndexConfig: derived only from input size and core count."""
    from ivory_spark.index.build import IndexConfig

    return IndexConfig(partitions=cores, n_shards=cores, salt_threshold=max(1, n_docs // 10))


def checkout_ok() -> bool:
    return os.path.isfile(os.path.join(ROOT, "ivory_spark", "__init__.py"))


def pin_environment() -> None:
    """Keep every file the run writes inside the checkout, make Spark's
    Python workers import the checkout's package, and pin the JVM heap
    (the host's memory is shared, and the inputs are small)."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM (the launcher and Spark's own): temp files and native
    # libraries under tmp, and no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(app: str):
    from ivory_spark.session import get_spark

    cores = ncores()
    return get_spark(app, cores=cores, shuffle_partitions=cores)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (the Python workers it forked exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    workers = _descendants()
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while _alive(workers) and time.monotonic() < deadline:
        time.sleep(0.05)


# ---------------------------------------------------------------- host noise


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU seconds the hypervisor ran other guests on this VM's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (parent pid, state, CPU seconds) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        rest = data.rsplit(")", 1)[1].split()  # the command name may hold spaces
        table[int(name)] = (int(rest[1]), rest[0], (int(rest[11]) + int(rest[12])) / _CLK_TCK)
    return table


def _descendants(table=None) -> set[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = set(), [os.getpid()]
    while frontier:
        for kid in kids.get(frontier.pop(), []):
            out.add(kid)
            frontier.append(kid)
    return out


def _alive(pids: set[int]) -> bool:
    table = _proc_table()
    return any(p in table and table[p][1] != "Z" for p in pids)


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (the Spark
    JVM and its Python workers descend from this process)."""
    table = _proc_table()
    return sum(table[p][2] for p in _descendants(table) | {os.getpid()} if p in table)


class Section:
    """Wall and process-tree CPU of one timed section."""

    def __init__(self, cpu=tree_cpu_s):
        self._cpu = cpu
        self.wall = self.cpu = 0.0

    def __enter__(self):
        self._c0 = self._cpu()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        self.cpu = self._cpu() - self._c0


def percentile(xs: list[float], p: int) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


class HostSpeed:
    """Times a fixed probe between the measured operations of a run, so
    the run can report its times as they would read on a host of nominal
    speed (the factor is PROBE_NOMINAL_S / the median of the probe calls
    around an operation). The benchmark's host shares its cores, caches
    and memory with other machines, and the same work takes up to 1.7x as
    long from one minute to the next.

    The probe never calls the package under test. It uses the libraries
    the serving path leans on, on the benchmark's own table: a pyarrow
    dataset scan with a pushed-down key filter, pandas groupby and concat,
    numpy over the fetched bytes and an interpreter loop. Every call does
    the same amount of work."""

    def __init__(self, data_dir: str):
        import pyarrow.dataset as pads

        self._pads = pads
        self._ds = pads.dataset(data_dir)
        self._rng = np.random.RandomState(PROBE_SEED)
        self.samples: list[float] = []  # wall seconds per call
        self.cpu_samples: list[float] = []  # process CPU seconds per call

    def _once(self) -> int:
        import pandas as pd

        want = self._rng.choice(PROBE_KEYS, size=3, replace=False).tolist()
        tab = self._ds.to_table(filter=self._pads.field("key").isin(want))
        groups = [g.reset_index(drop=True) for _, g in tab.to_pandas().groupby("key")]
        blob = b"".join(pd.concat(groups, ignore_index=True)["blob"])
        vals = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
        acc: dict[int, int] = {}
        for i, v in enumerate(vals[:1500].tolist()):
            acc[v & 63] = acc.get(v & 63, 0) + i
        return int(np.cumsum(vals)[-1]) + len(acc)

    def probe(self, n: int = 1) -> None:
        for _ in range(n):
            c0, t0 = time.process_time(), time.perf_counter()
            self._once()
            self.samples.append(time.perf_counter() - t0)
            self.cpu_samples.append(time.process_time() - c0)

    def factor(self, lo: int = 0, hi: int | None = None, cpu: bool = False) -> float:
        """Multiply a wall time (or, with cpu, a CPU time) by this, or
        divide a rate by it, to scale it to the nominal host speed; from
        the median of probe calls lo:hi."""
        if cpu:
            return PROBE_NOMINAL_CPU_S / statistics.median(self.cpu_samples[lo:hi])
        return PROBE_NOMINAL_S / statistics.median(self.samples[lo:hi])

    def local_factors(self, start: int, n: int, cpu: bool = False) -> list[float]:
        """Factors for n operations, each followed by one probe call from
        call `start` on: each from the probes within PROBE_WINDOW calls
        of it, so a change of host speed within the run is followed."""
        return [self.factor(start + max(0, i - PROBE_WINDOW), start + min(n, i + PROBE_WINDOW + 1),
                            cpu)
                for i in range(n)]


def spark_probe(spark) -> float:
    """Wall seconds of a fixed small Spark job through the pandas-UDF path
    (mapInPandas and an aggregate) that the index build and the query
    batches lean on. It runs no ivory_spark code."""

    def double(batches):
        for df in batches:
            yield df.assign(id=df["id"] * 2)

    t0 = time.perf_counter()
    spark.range(0, 20000, 1, ncores()).mapInPandas(double, "id long").groupBy().sum("id").collect()
    return time.perf_counter() - t0


def write_probe_data(out_dir: str) -> None:
    """The probe's table: PROBE_KEYS keys with PROBE_ROWS_PER_KEY rows of
    256 random bytes each, sorted by key, in four parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(PROBE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    keys = np.repeat(np.arange(PROBE_KEYS, dtype=np.int64), PROBE_ROWS_PER_KEY)
    blobs = [rng.bytes(256) for _ in range(len(keys))]
    for i, part in enumerate(np.array_split(np.arange(len(keys)), 4)):
        pq.write_table(pa.table({"key": keys[part], "blob": [blobs[j] for j in part]}),
                       os.path.join(out_dir, f"part{i}.parquet"), row_group_size=1024)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------- queries


def vocab_bands(n_docs: int) -> dict[str, list[str]]:
    """Query-term bands taken from the corpus generator's own
    vocabularies (not from the index): its keyword preambles (high df,
    salted runs), the head and the tail of its zipf identifier vocabulary,
    and, for serve_cold, the whole identifier vocabulary in rank order and
    the integer literals the generator writes."""
    from ivory_spark import corpus

    vocab_size = max(500, min(50_000, n_docs * 3))  # generate_corpus's default
    vocab = corpus._identifier_vocab(vocab_size, np.random.RandomState(CORPUS_SEED))
    keywords = sorted({k for ks in corpus.KEYWORDS.values() for k in ks})
    return {
        "keyword": keywords,
        "head": vocab[: max(20, vocab_size // 100)],
        "tail": vocab[vocab_size // 2 :],
        "vocab": vocab,
        "literal": [str(i) for i in range(4096)],
    }


COLD_BANDS = ("vocab", "keyword", "literal")  # every term the generator can emit


def gen_query(rng: np.random.RandomState, bands: dict) -> str:
    """1-5 terms by df band, about 5% out of vocabulary, and now and then
    a repeated token (qtf=2)."""
    toks = []
    for _ in range(int(rng.randint(1, 6))):
        u = rng.rand()
        if u < 0.35:
            band = bands["keyword"]
        elif u < 0.70:
            band = bands["head"]
        elif u < 0.95:
            band = bands["tail"]
        else:
            toks.append(f"zzq{rng.randint(10**9)}")
            continue
        toks.append(band[rng.randint(len(band))])
    if rng.rand() < 0.1:
        toks.append(toks[rng.randint(len(toks))])
    return " ".join(toks)


def gen_cold_block(rng: np.random.RandomState, bands: dict, n: int) -> list[str]:
    """n fresh queries over everything the generator can emit, with a
    shape that does not depend on the seed: n/5 queries of each length
    1-5, terms from each band in proportion to its size, and within a
    band one term from each of equal slices of its rank order (so the
    block's df profile is fixed; only which terms it holds varies)."""
    lengths = rng.permutation(np.repeat(np.arange(1, 6), n // 5))
    n_terms = int(lengths.sum())
    sizes = np.array([len(bands[b]) for b in COLD_BANDS], dtype=np.float64)
    share = n_terms * sizes / sizes.sum()
    quota = np.floor(share).astype(np.int64)
    quota[np.argsort(-(share - quota), kind="stable")[: n_terms - int(quota.sum())]] += 1
    terms = []
    for band, c in zip(COLD_BANDS, quota):
        words, edges = bands[band], np.linspace(0, len(bands[band]), int(c) + 1).astype(np.int64)
        terms += [words[rng.randint(lo, max(lo + 1, hi))] for lo, hi in zip(edges[:-1], edges[1:])]
    terms = [terms[i] for i in rng.permutation(len(terms))]
    cuts = np.cumsum(lengths)[:-1]
    return [" ".join(q) for q in np.split(np.array(terms, dtype=object), cuts)]


def check_sample(bands: dict, n_generated: int) -> list[dict]:
    """The fixed correctness sample: corpus.QUERY_SET plus generated queries."""
    from ivory_spark.corpus import QUERY_SET

    rng = np.random.RandomState(CHECK_SEED)
    out = [dict(q) for q in QUERY_SET]
    out += [{"qid": f"c{i:03d}", "query": gen_query(rng, bands)} for i in range(n_generated)]
    return out


def extend_queries(base: list[dict], n: int, rng, bands: dict, prefix: str) -> list[dict]:
    """base plus generated queries with distinct text, n in total."""
    out = list(base)
    seen = {q["query"] for q in out}
    while len(out) < n:
        text = gen_query(rng, bands)
        if text not in seen:
            seen.add(text)
            out.append({"qid": f"{prefix}{len(out):04d}", "query": text})
    return out


# ---------------------------------------------------------------- results


def f32_bits(x) -> int:
    return int(np.float32(x).view(np.uint32))


def norm_rows(rows) -> list[tuple]:
    """Result rows -> (rank, docno, docid, float32 score bits), by rank."""
    out = [
        (int(r["rank"]), int(r["docno"]), str(r["docid"]), f32_bits(r["score"]))
        for r in rows
    ]
    return sorted(out)


def by_qid(rows, qids) -> dict[str, list[tuple]]:
    """Spark result rows grouped by qid; every asked qid gets a list."""
    groups: dict[str, list] = {q: [] for q in qids}
    for r in rows:
        groups.setdefault(r["qid"], []).append(r)
    return {q: norm_rows(rs) for q, rs in groups.items()}


def well_formed(rows: list[tuple], k: int = K) -> bool:
    """Ranks 1..n (n <= k), scores non-increasing, docnos distinct."""
    if len(rows) > k or [r[0] for r in rows] != list(range(1, len(rows) + 1)):
        return False
    scores = [np.uint32(r[3]).view(np.float32) for r in rows]
    return all(a >= b for a, b in zip(scores, scores[1:])) and len({r[1] for r in rows}) == len(rows)


# ---------------------------------------------------------------- prepared inputs


def source_hash() -> str:
    """Hash of the package sources and of the preparation code, so a
    checkout never reads inputs prepared from another commit."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, n) for n in ("common.py", "prepare.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "ivory_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure_prepared(scale: str) -> dict:
    """Return the prepared inputs for `scale`, preparing them first in a
    separate process if this checkout has none yet."""
    import shutil

    cache = os.path.join(STATE, "cache")
    key = f"{scale}-{source_hash()}"
    out = os.path.join(cache, key)
    ready = os.path.join(out, "ready.json")
    if not os.path.exists(ready):
        os.makedirs(cache, exist_ok=True)
        for old in os.listdir(cache):  # inputs of other sources or aborted runs
            if old.startswith(f"{scale}-") and old != key:
                shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
        tmp = f"{out}.tmp{os.getpid()}"
        print(f"perfbench: preparing inputs for scale={scale} in {os.path.relpath(out, ROOT)}",
              file=sys.stderr, flush=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), "--scale", scale, "--out", tmp],
            stdout=sys.stderr, check=True, timeout=850,
        )
        os.replace(tmp, out)
    with open(ready) as f:
        prep = json.load(f)
    prep["dir"] = out
    with open(os.path.join(out, "golden.json")) as f:
        prep["golden"] = {q: [tuple(r) for r in rows] for q, rows in json.load(f).items()}
    with open(os.path.join(out, "bands.json")) as f:
        prep["bands"] = json.load(f)
    return prep
