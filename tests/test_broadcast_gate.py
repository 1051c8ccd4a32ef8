"""The byte gates on the forced broadcasts: the vocabulary-sized termid
joins (the cf re-attach of the postings stage, refresh_bounds'
current-stats join) and the docmap's content re-attach. Past the
broadcast budget they run as a shuffled-hash join and produce the same
rows, byte for byte."""

import os

import pyarrow.dataset as pads

from ivory_spark.index import build
from ivory_spark.index.build import IndexConfig, build_docmap, build_index, join_on_termid
from ivory_spark.index.compact import refresh_bounds


def _postings(root):
    tab = pads.dataset(os.path.join(root, "postings")).to_table()
    return tab.sort_by([("termid", "ascending"), ("salt", "ascending")])


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_termid_joins_shuffle_past_budget_match_broadcast(
    spark, tiny_corpus_path, tmp_path, monkeypatch
):
    cfg = IndexConfig(salt_threshold=16, n_shards=5)
    runs = spark.createDataFrame([(1, "a"), (2, "b")], "termid long, x string")
    stats = spark.createDataFrame([(1, 10), (2, 20)], "termid long, cf long")

    assert "BroadcastHashJoin" in _plan(join_on_termid(runs, stats, 2, row_bytes=16))
    wide = str(tmp_path / "broadcast")
    build_index(spark, tiny_corpus_path, wide, cfg)
    built = _postings(wide)
    refresh_bounds(spark, wide)

    monkeypatch.setattr(build, "BROADCAST_BUDGET_BYTES", 0)
    plan = _plan(join_on_termid(runs, stats, 2, row_bytes=16))
    assert "ShuffledHashJoin" in plan and "Broadcast" not in plan
    gated = str(tmp_path / "shuffle")
    build_index(spark, tiny_corpus_path, gated, cfg)
    assert _postings(gated).equals(built)
    refresh_bounds(spark, gated)
    assert _postings(gated).equals(_postings(wide))


def test_docmap_shuffles_past_budget_match_broadcast(spark, tiny_corpus_path, monkeypatch):
    corpus = spark.read.parquet(tiny_corpus_path)

    def docmap_rows():
        docmap, _, pinned = build_docmap(spark, corpus, 4)
        plan = _plan(docmap)
        rows = docmap.orderBy("docno").collect()
        pinned.unpersist()
        return plan, rows

    # assign_sequential_ids always broadcasts its (pid, offset) local
    # frame, a row per partition, which no byte budget gates; the
    # docmap's content re-attach is every other broadcast join
    def reattach_broadcasts(plan):
        return [
            ln for ln in plan.splitlines()
            if "Broadcast" in ln and "Join" in ln and "BroadcastHashJoin [_pid#" not in ln
        ]

    plan, broadcast_rows = docmap_rows()
    assert any("BroadcastHashJoin" in ln for ln in reattach_broadcasts(plan)), plan
    # past the row cut the width probe runs; a zero budget then refuses
    monkeypatch.setattr(build, "DOCMAP_PROBE_SKIP_ROWS", 0)
    monkeypatch.setattr(build, "BROADCAST_BUDGET_BYTES", 0)
    plan, shuffled_rows = docmap_rows()
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin [_pid#" in plan
    assert not reattach_broadcasts(plan), plan
    assert shuffled_rows == broadcast_rows
