"""grouped_apply: groupBy(keys).applyInPandas with one Python dispatch
per PARTITION instead of per group.

Spark's FlatMapGroupsInPandas round-trips one Arrow batch per group;
for kernels invoked over many tiny groups (a 15-query WAND batch over a
32-shard grid is ~480 groups of a handful of rows) the per-group
dispatch tax (~8 ms, see CLAUDE.md) dwarfs the kernel. This helper
reproduces the same (hash-partition by keys, all rows of a group in one
call) contract with repartition + sortWithinPartitions + mapInPandas,
splitting groups inside each partition stream — the same
carry-across-Arrow-batches pattern index/build.encode_partition uses.

The group function receives (key_tuple, pandas.DataFrame) exactly like
applyInPandas's two-argument form. Row order within a group follows the
partition sort by the key columns only — unspecified beyond that, same
as applyInPandas.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame


def grouped_apply(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[tuple, pd.DataFrame], pd.DataFrame],
    schema: str,
    partitions: int | None = None,
) -> DataFrame:
    if partitions is None:
        try:
            partitions = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
        except ValueError:  # e.g. "auto"
            partitions = 32
    sdf = df.repartition(partitions, *keys).sortWithinPartitions(*keys)

    def emit(body: pd.DataFrame):
        outs = []
        # dropna=False: applyInPandas keeps null-keyed groups, so we do
        # too (no current caller has nullable keys, but don't diverge)
        for key, g in body.groupby(keys, sort=False, dropna=False):
            key_t = key if isinstance(key, tuple) else (key,)
            out = fn(key_t, g.reset_index(drop=True))
            if out is not None and len(out):
                outs.append(out)
        if outs:
            yield pd.concat(outs, ignore_index=True)

    def _eq_mask(pdf: pd.DataFrame, key_row) -> "pd.Series":
        """Rows of pdf whose key columns equal key_row, null-safe
        (NaN == NaN counts as equal, matching groupby dropna=False)."""
        m = None
        for k in keys:
            v = key_row[k]
            col = pdf[k]
            mk = col.isna() if pd.isna(v) else (col == v)
            m = mk if m is None else (m & mk)
        return m.to_numpy()

    def stream(batches):
        # carry: list of frames all belonging to the current tail group —
        # appended per batch and concatenated ONCE when the group closes,
        # so a group spanning B batches copies its rows once, not B times
        carry: list[pd.DataFrame] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry:
                ck = carry[-1][keys].iloc[-1]
                m = _eq_mask(pdf, ck)
                if m.all():
                    carry.append(pdf)
                    continue
                # keys are sorted within the partition, so the carry
                # group's remaining rows are a contiguous batch prefix
                split = int((~m).argmax())
                if split:
                    carry.append(pdf.iloc[:split])
                yield from emit(pd.concat(carry, ignore_index=True))
                carry = []
                pdf = pdf.iloc[split:].reset_index(drop=True)
                if len(pdf) == 0:
                    continue
            m = _eq_mask(pdf, pdf[keys].iloc[-1])
            if m.all():
                carry = [pdf]  # whole batch is one (possibly straddling) group
                continue
            tail_start = len(pdf) - int(m[::-1].argmin())
            carry = [pdf.iloc[tail_start:]]
            yield from emit(pdf.iloc[:tail_start])
        if carry:
            yield from emit(pd.concat(carry, ignore_index=True))

    return sdf.mapInPandas(stream, schema)


def spread_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Raise scan-bound parallelism to the session's shuffle parallelism
    before CPU-heavy per-row work.

    A small parquet input is often one row group — unsplittable, so the
    scan is ONE task no matter how many cores the session has, and every
    pre-exchange projection (hashing, cosine folds, tokenization) runs
    serially (measured: the 500k-doc 10x minhash block spent ~13 s of a
    ~15 s pipeline on a 2-task signature stage). Round-robin repartition
    to the shuffle parallelism unlocks the cores; when the input already
    has at least that many partitions (any real at-scale table) this is
    a NO-OP — scale-adaptive, not a local-mode constant.

    The partition count is read only from a plan without an Exchange: a
    scan's count is known up front, but under AQE reading df.rdd of a
    plan with an Exchange runs the upstream stages to settle it. Such a
    plan is repartitioned without asking; its shuffle's own count is
    the session's, or fewer once AQE has coalesced it.
    """
    if min_partitions is None:
        try:
            min_partitions = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
        except ValueError:
            min_partitions = 32
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" not in plan and df.rdd.getNumPartitions() >= min_partitions:
        return df
    return df.repartition(min_partitions)
