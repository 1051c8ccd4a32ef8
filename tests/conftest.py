import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ivory_spark.session import get_spark

    s = get_spark("ivory-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture
def jobs_started(spark):
    """jobs_started(fn) -> (fn(), ids of the Spark jobs fn started). The
    listener bus is drained first, so a job fn started is counted."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_started_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def tiny_corpus():
    from ivory_spark.corpus import generate_corpus

    return generate_corpus(200, seed=13)


@pytest.fixture(scope="session")
def tiny_corpus_path(tmp_path_factory, tiny_corpus):
    d = tmp_path_factory.mktemp("corpus")
    p = str(d / "corpus.parquet")
    tiny_corpus.drop(columns=["sha256"]).to_parquet(p, index=False)
    return p
