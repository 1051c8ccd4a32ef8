"""Deterministic sampling / splitting / sequence-packing operators for
training-data pipelines.

The reference engine stops at retrieval; assembling a pretraining corpus
additionally needs (a) reproducible train/val/test splits, (b) source
mixture weighting (sample each source at a different rate to hit target
proportions, cf. GPT-3 §2.2 / The Pile §1), and (c) token-budget
sequence packing (concatenate documents in a deterministic order and
chunk into fixed-length training sequences). All three are pure
column/window expressions — no Python in the hot path — and every
random choice is an md5 hash of the row key, so the result is identical
across partition counts, reruns, and engines (the DuckDB oracle replays
the same arithmetic).

Scale shapes:
- hash_split / mixture_sample: per-row projection + filter, zero
  shuffle; rates live in the plan as literals (or a broadcast-size CASE).
- pack_sequences: one shuffle — hash-shard the corpus, then a running
  sum window within each shard. Shard count bounds the sort size
  (100 TB / n_shards per task), and sequences never cross shards, so
  packing parallelism is explicit and independent of input partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ivory_spark.ops.textstats import _tokens

# 16^15 — the hash domain of the 15-hex-digit md5 prefix used below.
# A power of two, so h / HASH_DOMAIN is an exact binary scaling and
# u-vs-threshold comparisons agree bit-for-bit across engines.
HASH_DOMAIN = float(1 << 60)


def _h60(seed: str, col):
    """Portable 60-bit hash: bigint of the first 15 hex chars of
    md5(seed || ':' || value). Same construction as ops/dedup._h —
    DuckDB twin: ('0x' || substr(md5(seed || ':' || v), 1, 15))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def _u(seed: str, col):
    """Deterministic uniform in [0, 1): hash scaled by 2^-60 (exact)."""
    return _h60(seed, col) / F.lit(HASH_DOMAIN)


def split_boundaries(weights: dict[str, float]) -> list[tuple[str, float]]:
    """(name, cumulative upper bound) per split, last bound omitted (it
    is the catch-all). Shared by hash_split and its SQL oracle twin so
    the float accumulation is bit-identical in both engines."""
    total = float(sum(weights.values()))
    out, acc = [], 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        out.append((name, acc))
    return out


def hash_split(
    docs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Assign every row to a named split by hashing its id: returns the
    input plus a `split` column. weights are relative (normalized here);
    assignment is u(md5(salt:id)) against the cumulative weight
    boundaries, so it is independent of row order, partitioning, and
    engine — the property `sample()` / `randomSplit()` do NOT have.

    Rows-per-split is binomial around the target fraction (exact
    proportions would need a global sort); docs sharing an id land in
    the same split, which is what leakage-free eval wants.
    """
    u = _u(salt, F.col(id_col))
    expr = None
    for name, acc in split_boundaries(weights):
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(list(weights)[-1])
    expr = last if expr is None else expr.otherwise(last)
    return docs.withColumn("split", expr)


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Keep each row with its source's probability, deterministically:
    row survives iff u(md5(salt:id)) < rates[source]. Sources missing
    from `rates` default to 0 (dropped). Pure filter — no shuffle; the
    rate table compiles to a CASE over source literals (mixtures have
    dozens of sources, not millions).
    """
    u = _u(salt, F.col(id_col))
    rate = None
    for name, r in rates.items():
        cond = F.col(source_col) == F.lit(name)
        rate = F.when(cond, F.lit(float(r))) if rate is None else rate.when(cond, F.lit(float(r)))
    rate = F.lit(0.0) if rate is None else rate.otherwise(F.lit(0.0))
    return docs.filter(u < rate)


def weighted_sample(
    docs: DataFrame,
    prob_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Keep each row with the per-row probability in `prob_col` (clamped
    to [0, 1]), deterministically: the row survives iff u(md5(salt:id))
    < p. The soft-filter generalization of mixture_sample — FineWeb-style
    quality weighting, where a 0.9-quality doc is 3x likelier to survive
    than a 0.3 one, instead of a hard threshold. Pure filter — zero
    shuffle, no Python; identical across partitioning/reruns/engines.
    """
    u = _u(salt, F.col(id_col))
    p = F.least(F.greatest(F.col(prob_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    return docs.filter(u < p)


def mixture_rates(
    docs: DataFrame,
    weights: dict[str, float],
    target_rows: int,
    source_col: str = "source",
) -> dict[str, float]:
    """Per-source sampling rates that hit `target_rows` total at the
    given relative mixture weights: rate_s = min(1, target * w_s /
    (sum_w * n_s)). One partial-aggregated count per source (bounded by
    the number of sources, not rows) — the only driver-side step in the
    mixture pipeline, and it collects len(weights) rows.
    """
    counts = {
        r[0]: r[1]
        for r in docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total_w = float(sum(weights.values()))
    return {
        s: min(1.0, target_rows * (w / total_w) / counts[s])
        for s, w in weights.items()
        if counts.get(s)
    }


def corpus_shuffle(
    docs: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle order for corpus assembly: returns
    (id, bucket, pos) where `pos` is the row's 0-based position in the
    order (md5-hash(salt:id), id) — i.e. a reproducible random permutation
    of the corpus that is identical across partition counts, reruns, and
    engines. Training pipelines need this instead of `orderBy(rand())`
    (non-deterministic) or RDD zipWithIndex (partition-order-dependent).

    Scale shape: the standard two-phase global-rank pattern. `bucket` is
    the top log2(n_buckets) bits of the 60-bit hash, so buckets are
    contiguous hash ranges and concatenating them in bucket order IS the
    global order. Phase 1 aggregates per-bucket counts (collects
    n_buckets rows — bounded by the parameter, not the data) into
    exclusive prefix offsets; phase 2 ranks within each bucket with one
    window sort. No single-partition total sort: per-task sort size is
    corpus/n_buckets, so at 100 TB you raise n_buckets, not executor
    memory. Hash ties across distinct ids are broken by id on both
    engines.
    """
    bits = n_buckets.bit_length() - 1
    if 1 << bits != n_buckets:
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    key = _h60(salt, F.col(id_col))
    base = docs.select(
        F.col(id_col),
        key.alias("_skey"),
        F.shiftright(key, 60 - bits).cast("int").alias("bucket"),
    )
    counts = dict(
        (r["bucket"], r["n"])
        for r in base.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for b in range(n_buckets):
        offsets.append(acc)
        acc += counts.get(b, 0)
    # element_at over a literal array: O(1) lookup, keeps the plan a pure
    # projection (no second join for the offsets).
    off = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offsets]), F.col("bucket") + 1
    )
    w = Window.partitionBy("bucket").orderBy("_skey", id_col)
    pos = (off + F.row_number().over(w) - 1).cast("long").alias("pos")
    return base.select(id_col, "bucket", pos)


def epoch_upsample(
    docs: DataFrame,
    epochs: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "epoch",
) -> DataFrame:
    """Repeat each document `epochs[source]` times (fractional): a doc
    whose source has e = 2.3 epochs appears floor(e) = 2 times always,
    plus a 3rd time iff u(md5(salt:id)) < 0.3 — so the expected copy
    count is exactly e and the choice of WHICH docs get the extra pass
    is deterministic and engine-portable (cf. The Pile §1 / LLaMA tables:
    per-source epoch counts like Wikipedia 2.45, Books 1.5). Sources
    missing from `epochs` default to 0 (dropped). Returns one row per
    copy: the input columns plus `epoch` in [0, n_copies).

    Scale shape: pure projection + explode — zero shuffle, no Python;
    output size is sum(n_copies). The epoch table compiles to a CASE
    over source literals (mixtures have dozens of sources).
    """
    u = _u(salt, F.col(id_col))
    whole, frac = None, None
    for name, e in epochs.items():
        e = float(e)
        w_i, f_i = int(e), e - int(e)
        cond = F.col(source_col) == F.lit(name)
        if whole is None:
            whole = F.when(cond, F.lit(w_i))
            frac = F.when(cond, F.lit(f_i))
        else:
            whole = whole.when(cond, F.lit(w_i))
            frac = frac.when(cond, F.lit(f_i))
    if whole is None:
        whole, frac = F.lit(0), F.lit(0.0)
    else:
        whole, frac = whole.otherwise(F.lit(0)), frac.otherwise(F.lit(0.0))
    n = (whole + (u < frac).cast("int")).alias("_n")
    return (
        docs.select("*", n)
        .filter(F.col("_n") >= 1)
        .select(
            *docs.columns,
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("epoch"),
        )
    )


def assemble_corpus(
    docs: DataFrame,
    budget: int,
    rates: dict[str, float] | None = None,
    epochs: dict[str, float] | None = None,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """One-call corpus assembly: optional deterministic mixture
    sampling, optional fractional epoch upsampling (each copy gets the
    distinct derived id `id * (max_whole_epochs + 1) + epoch`, so packing
    treats copies as separate documents), then materialization into
    `budget`-token training sequences with document boundaries. One lazy
    plan: the sampling stages are zero-shuffle filters/projections that
    fuse into the scan before the single packing exchange.
    """
    out = docs
    if rates:
        out = mixture_sample(out, rates, source_col, id_col)
    if epochs:
        out = epoch_upsample(out, epochs, source_col, id_col)
        k = int(max(float(e) for e in epochs.values())) + 1
        out = out.select(
            (F.col(id_col) * k + F.col("epoch")).alias(id_col),
            F.col(text_col),
        )
    return materialize_sequences(out, budget, n_shards, id_col, text_col)


def _layout(
    docs: DataFrame,
    n_shards: int,
    id_col: str,
    text_col: str,
    keep_tokens: bool = False,
) -> DataFrame:
    """Shared packing layout: (id, shard, n_tokens, tok_start[, toks])
    where shard = md5-hash(id) mod n_shards and tok_start is the running
    token offset within the shard's (id ascending) stream. One shuffle —
    the per-shard running-sum window."""
    toks = _tokens(F.col(text_col))
    shard = (_h60("shard", F.col(id_col)) % n_shards).cast("int")
    cols = [
        F.col(id_col),
        shard.alias("shard"),
        F.size(toks).cast("long").alias("n_tokens"),
    ]
    if keep_tokens:
        cols.append(toks.alias("toks"))
    base = docs.select(*cols)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tok_start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("tok_start")
    keep = [id_col, "shard", "n_tokens", tok_start]
    return base.select(*(keep + (["toks"] if keep_tokens else [])))


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concatenation packing (GPT-style): documents are laid out
    end-to-end in a deterministic order and chunked into fixed
    `budget`-token training sequences; documents may straddle chunk
    boundaries. Returns per-document placement:

    (doc_id, shard, n_tokens, tok_start, seq_first, seq_last,
     offset_in_seq) where tok_start is the document's offset in its
    shard's token stream, seq_first/seq_last the first/last sequence
    index it touches (empty docs occupy no space: seq_last = seq_first),
    and offset_in_seq its offset inside seq_first.

    Layout order is (shard = md5-hash(id) mod n_shards, id ascending) —
    reproducible across engines and partition counts. One shuffle: the
    running-sum window sorts each shard once; shard size bounds the
    per-task sort, and sequences never cross shards so downstream chunk
    materialization is embarrassingly parallel.
    """
    placed = _layout(docs, n_shards, id_col, text_col)
    # integer `div`, not `/`: Spark's `/` is double division, which stops
    # being exact past 2^53 tokens — a real corpus size, not a corner.
    b = int(budget)
    seq_first = F.expr(f"tok_start div {b}")
    seq_last = F.when(
        F.col("n_tokens") > 0, F.expr(f"(tok_start + n_tokens - 1) div {b}")
    ).otherwise(seq_first)
    return placed.select(
        id_col,
        "shard",
        "n_tokens",
        "tok_start",
        seq_first.cast("long").alias("seq_first"),
        seq_last.cast("long").alias("seq_last"),
        (F.col("tok_start") % F.lit(b)).cast("long").alias("offset_in_seq"),
    )


def materialize_sequences(
    docs: DataFrame,
    budget: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The training sequences pack_sequences places: one row per
    (shard, seq) with the space-joined `budget`-token slice of the
    shard's concatenated token stream (the last sequence of each shard
    is the shorter tail). A document straddling a boundary contributes
    its prefix to one sequence and the remainder to the next, exactly
    like GPT-style concatenation packing.

    Returns (shard, seq, n_tokens, boundaries, text) where `boundaries`
    is the sorted list of 0-based offsets inside the sequence where a
    NEW document starts — what a trainer needs to reset attention across
    document boundaries (block-diagonal masks / EOS insertion). A
    sequence wholly inside one long document has an empty list. All JVM
    expressions: each doc explodes into the sequences it touches
    (size/budget + 1 rows, not per-token), pieces are array slices, and
    the per-sequence assembly is an
    array_sort(collect_list(struct(tok_start, piece, boundary))) — no
    Python, no per-token rows. One shuffle total: the layout window's
    hashpartitioning(shard) is reused by the (shard, seq) grouping
    (same-shard rows are already co-located), and groups are
    budget-bounded, so group size is a parameter — not a skew risk — at
    any corpus size.
    """
    b = int(budget)
    placed = _layout(docs, n_shards, id_col, text_col, keep_tokens=True).filter(
        F.col("n_tokens") > 0
    )
    return _assemble_sequences(placed, b).select(
        "shard",
        F.col("seq").cast("long").alias("seq"),
        F.size("toks").cast("int").alias("n_tokens"),
        "boundaries",
        F.array_join("toks", " ").alias("text"),
    )


def _assemble_sequences(placed: DataFrame, b: int) -> DataFrame:
    """Shared sequence-assembly core for materialize_sequences and
    materialize_token_sequences: placed = (shard, tok_start, n_tokens,
    toks) with n_tokens > 0 -> (shard, seq, toks, boundaries). The toks
    element type flows through unchanged (strings or token ids)."""
    seq_first = F.expr(f"tok_start div {b}")
    seq_last = F.expr(f"(tok_start + n_tokens - 1) div {b}")
    x = placed.select(
        "shard",
        "tok_start",
        "n_tokens",
        "toks",
        F.explode(F.sequence(seq_first, seq_last)).alias("seq"),
    )
    # 0-based [start, end) of this doc's tokens that land in sequence `seq`
    start0 = F.greatest(F.lit(0).cast("long"), F.col("seq") * b - F.col("tok_start"))
    end0 = F.least(F.col("n_tokens"), (F.col("seq") + 1) * b - F.col("tok_start"))
    piece = F.slice(F.col("toks"), (start0 + 1).cast("int"), (end0 - start0).cast("int"))
    # the piece opens a document iff it begins at the doc's first token;
    # its in-sequence offset is then tok_start - seq*budget
    boundary = (
        F.when(start0 == 0, (F.col("tok_start") - F.col("seq") * b).cast("int"))
        .otherwise(F.lit(None).cast("int"))
    )
    parts = x.select(
        "shard",
        "seq",
        F.struct(
            F.col("tok_start"), piece.alias("piece"), boundary.alias("boundary")
        ).alias("p"),
    )
    ps = F.array_sort(F.collect_list("p"))
    toks = F.flatten(F.transform(ps, lambda s: s["piece"]))
    bounds = F.filter(
        F.transform(ps, lambda s: s["boundary"]), lambda o: o.isNotNull()
    )
    return parts.groupBy("shard", "seq").agg(
        toks.alias("toks"), bounds.alias("boundaries")
    )


def materialize_token_sequences(
    docs: DataFrame,
    budget: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
) -> DataFrame:
    """materialize_sequences over an ALREADY-TOKENIZED corpus — e.g. the
    (doc_id, token_ids) output of ops/bpe.encode: packs the integer
    token-id arrays into fixed `budget`-id training sequences, the
    actual tensors a pretraining loader consumes.

    Returns (shard, seq, n_tokens, boundaries, token_ids) with the same
    layout order ((md5-shard, id ascending)), the same document-boundary
    offsets, and the same ONE-shuffle plan as the text version: the
    layout window's hashpartitioning(shard) is reused by the
    (shard, seq) assembly agg. Tokenize once with the expensive
    tokenizer (Arrow UDF), pack entirely in JVM expressions.
    """
    b = int(budget)
    shard = (_h60("shard", F.col(id_col)) % n_shards).cast("int")
    base = docs.select(
        F.col(id_col),
        shard.alias("shard"),
        F.size(ids_col).cast("long").alias("n_tokens"),
        F.col(ids_col).alias("toks"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = base.select(
        "shard",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("tok_start"),
        "n_tokens",
        "toks",
    ).filter(F.col("n_tokens") > 0)
    return _assemble_sequences(placed, b).select(
        "shard",
        F.col("seq").cast("long").alias("seq"),
        F.size("toks").cast("int").alias("n_tokens"),
        "boundaries",
        F.col("toks").alias("token_ids"),
    )
