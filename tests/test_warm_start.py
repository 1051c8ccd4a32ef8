"""The session warm-up's Python step (session._warm_workers) leaves a
Python worker in every task slot with the batch modules imported, so a
session's first batch neither spawns workers nor imports the serve
chain inside its own timing."""

from ivory_spark import session


def test_warm_step_imports_the_serve_chain_in_every_task(spark):
    """Run right after the step: Spark's PythonWorkerFactory kills a
    worker that sits idle for 60 s, so a check some time after the
    session's own warm-up would depend on test order."""

    def serve_imported(batches):
        import sys

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"ok": ["ivory_spark.query.serve" in sys.modules]})

    session._warm_workers(spark)
    n = spark.sparkContext.defaultParallelism
    got = spark.range(0, n, 1, n).mapInPandas(serve_imported, "ok boolean").collect()
    assert len(got) == n
    assert all(r["ok"] for r in got)
