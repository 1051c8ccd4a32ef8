"""Feature extraction (ltr/ExtractFeatures parity): Spark kernel vs the
numpy oracle twin bit-exact, operator aggregates, Instances wiring, and
the extract -> greedy_learn end-to-end loop."""

import numpy as np
import pytest

from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.oracle import build_oracle_index
from ivory_spark.query.batch import Model, parse_model_xml
from ivory_spark.query.features import (
    extract_features,
    feature_columns,
    features_to_instances,
    oracle_extract_features,
)
from ivory_spark.query.mrf import MrfModel


@pytest.fixture(scope="module")
def fpos_index(spark, tiny_corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fidx") / "pos")
    build_index(
        spark, tiny_corpus_path, root,
        IndexConfig(positional=True, salt_threshold=16, n_shards=5),
    )
    return open_index(spark, root)


@pytest.fixture(scope="module")
def fpos_oracle(tiny_corpus):
    return build_oracle_index(tiny_corpus.drop(columns=["sha256"]))


QUERIES = [
    {"qid": "f1", "query": "import class"},
    {"qid": "f2", "query": "public static void"},
    {"qid": "f3", "query": "import"},
    {"qid": "f4", "query": "qqqqq zzzzz"},  # fully OOV -> skipped
    {"qid": "f5", "query": "def return"},  # no judgments -> skipped
]


def make_qrels(n_docs):
    # deterministic graded qrels: every 3rd doc judged, grade = docno % 4
    # (covers docs with and without the query terms, grade 0 included)
    judged = {d: float(d % 4) for d in range(1, n_docs + 1, 3)}
    return {"f1": judged, "f2": dict(list(judged.items())[:20]), "f3": judged,
            "f4": judged}


MODELS = {
    "bm25": Model(scorer="bm25", params={"k1": 1.2, "b": 0.75}),
    "sd": MrfModel(dependence="sd", k=10),
}


def _by_key(rows):
    return {(r["qid"], r["docno"]): r for r in rows}


def test_spark_matches_oracle_bitexact(spark, fpos_index, fpos_oracle):
    qrels = make_qrels(fpos_oracle.n_docs)
    df = extract_features(spark, fpos_index, QUERIES, qrels, MODELS)
    golden = oracle_extract_features(fpos_oracle, QUERIES, qrels, MODELS)
    got = _by_key([r.asDict() for r in df.collect()])
    want = _by_key(golden)
    assert set(got) == set(want)
    names = feature_columns(MODELS)
    for key, w in want.items():
        g = got[key]
        assert g["grade"] == w["grade"], key
        for nm in names:
            gb = np.float32(g[nm]).view(np.uint32)
            wb = np.float32(w[nm]).view(np.uint32)
            assert gb == wb, (key, nm, g[nm], w[nm])
    # judged docs without the query terms still get rows (f3: single term)
    f3_rows = [k for k in got if k[0] == "f3"]
    assert len(f3_rows) == len(qrels["f3"])
    # fully-OOV and unjudged queries are dropped
    assert not any(k[0] in ("f4", "f5") for k in got)


def test_feature_column_names_and_xml_ids():
    xml = """
    <model id="sdm" type="Feature" hits="10">
      <feature id="termWt" weight="0.82" cliqueSet="TermCliqueSet"
               scoreFunction="BM25ScoringFunction"/>
      <feature id="orderedWt" weight="0.09" cliqueSet="OrderedCliqueSet"
               generator="OrderedWindowExpressionGenerator" width="1"
               dependence="sequential" scoreFunction="BM25ScoringFunction"/>
      <feature id="unorderedWt" weight="0.09" cliqueSet="UnorderedCliqueSet"
               generator="UnorderedWindowExpressionGenerator" width="4"
               dependence="sequential" scoreFunction="BM25ScoringFunction"/>
    </model>"""
    m = parse_model_xml(xml)
    assert feature_columns({"sdm": m}) == [
        "sdm-termWt", "sdm-orderedWt", "sdm-unorderedWt"
    ]
    # unnamed specs fall back to kind+index
    assert feature_columns({"sd": MrfModel()}) == ["sd-term0", "sd-od1", "sd-uw2"]


def test_operator_aggregates(spark, fpos_index, fpos_oracle):
    qrels = {"f1": {d: 1.0 for d in list(range(1, 40, 3))}}
    models = {"sd": MrfModel(dependence="sd")}
    ops = {"sd-term0": "max", "sd-od1": "boolean_count", "sd-uw2": "mean"}
    df = extract_features(spark, fpos_index, QUERIES[:1], qrels, models, operators=ops)
    golden = oracle_extract_features(fpos_oracle, QUERIES[:1], qrels, models, operators=ops)
    got, want = _by_key([r.asDict() for r in df.collect()]), _by_key(golden)
    assert set(got) == set(want)
    for key, w in want.items():
        for nm in ops:
            assert np.float32(got[key][nm]).view(np.uint32) == np.float32(w[nm]).view(
                np.uint32
            ), (key, nm)
    # boolean_count is integral
    assert all(float(r["sd-od1"]).is_integer() for r in golden)


def test_unknown_operator_and_column_rejected(spark, fpos_index):
    qrels = {"f1": {1: 1.0}}
    with pytest.raises(ValueError, match="unknown operator"):
        extract_features(
            spark, fpos_index, QUERIES[:1], qrels, {"sd": MrfModel()},
            operators={"sd-term0": "median"},
        )
    with pytest.raises(ValueError, match="unknown feature columns"):
        extract_features(
            spark, fpos_index, QUERIES[:1], qrels, {"sd": MrfModel()},
            operators={"nope": "sum"},
        )


def test_nonpositional_index_rejects_proximity(spark, tiny_corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fflat") / "flat")
    build_index(spark, tiny_corpus_path, root, IndexConfig())
    idx = open_index(spark, root)
    with pytest.raises(ValueError, match="not positional"):
        extract_features(spark, idx, QUERIES[:1], {"f1": {1: 1.0}}, {"sd": MrfModel()})
    # term-only models extract fine without positions
    df = extract_features(
        spark, idx, QUERIES[:1], {"f1": {1: 1.0, 4: 2.0}}, {"bm25": MODELS["bm25"]}
    )
    assert df.count() == 2


def test_extract_learn_end_to_end(spark, fpos_index, fpos_oracle):
    """The full ffg/ltr loop: extract features over judged docs, learn a
    model on NDCG, and check the learned blend scores the instances."""
    # grades correlated with term presence so there is signal to learn
    qrels = make_qrels(fpos_oracle.n_docs)
    df = extract_features(spark, fpos_index, QUERIES[:3], qrels, MODELS)
    inst = features_to_instances(df)
    assert inst.feature_names == feature_columns(MODELS)
    # contiguous qid blocks, sorted docnos inside each
    assert list(inst.qids) == sorted(inst.qids)
    from ivory_spark.ltr import greedy_learn

    model, measure = greedy_learn(inst, metric="ndcg")
    assert 0.0 < measure <= 1.0
    scores = model.score(inst.features)
    assert scores.dtype == np.float32 and len(scores) == inst.n


def test_tsv_round_trip_reference_header(spark, fpos_index, tmp_path):
    qrels = {"f1": {d: float(d % 3) for d in range(1, 30, 3)}}
    df = extract_features(spark, fpos_index, QUERIES[:1], qrels, MODELS)
    inst = features_to_instances(df)
    p = str(tmp_path / "features.tsv")
    inst.to_tsv(p)
    header = open(p).readline().rstrip("\n").split("\t")
    assert header[:2] == ["qid", "docid"]
    assert "grade" in header  # sorted in among features (ExtractFeatures.java:143)
    from ivory_spark.ltr import Instances

    back = Instances.from_tsv(p)
    assert back.n == inst.n
    for nm in inst.feature_names:
        a = inst.features[:, inst.feature_names.index(nm)]
        b = back.features[:, back.feature_names.index(nm)]
        assert np.array_equal(a, b), nm


def test_extract_features_for_run(spark, fpos_index):
    """ffg rank-and-features: features computed for a retrieval run's
    hits (grade 0), one row per (qid, docno) of the result frame."""
    from ivory_spark.query.features import extract_features_for_run
    from ivory_spark.query.wand import bm25_topk_wand

    res = bm25_topk_wand(spark, fpos_index, QUERIES[:2], k=5, with_docid=False)
    df = extract_features_for_run(spark, fpos_index, QUERIES[:2], res, MODELS)
    rows = df.collect()
    want = {(r["qid"], r["docno"]) for r in res.collect()}
    assert {(r["qid"], r["docno"]) for r in rows} == want
    assert all(r["grade"] == 0.0 for r in rows)
    # retrieved docs contain query terms -> bm25 term feature nonzero
    assert any(r["bm25-term"] != 0.0 for r in rows)


def test_instances_from_a_frame_in_any_order(spark, fpos_index, jobs_started):
    """features_to_instances orders the rows (qid, docno) on the driver:
    the extracted frame and its rows in reverse order give the same
    Instances, and the collect is the call's only Spark job (no sort)."""
    qrels = make_qrels(fpos_index.n_docs)
    df = extract_features(spark, fpos_index, QUERIES[:3], qrels, MODELS)
    rows = df.collect()
    rev = spark.createDataFrame(rows[::-1], df.schema)
    assert rev.collect() == rows[::-1] and rows != rows[::-1]
    want, jobs = jobs_started(lambda: features_to_instances(df))
    assert len(jobs) == 1
    got = features_to_instances(rev)
    assert list(want.qids) == sorted(want.qids)
    for a in ("qids", "docids", "grades", "features"):
        assert np.array_equal(getattr(got, a), getattr(want, a)), a
    assert got.feature_names == want.feature_names
