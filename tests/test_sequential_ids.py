"""assign_sequential_ids (index/build.py) against a pandas twin: dense
1-based ids in order-column order, whatever the partition count (more
partitions than rows leaves some empty), with the offsets added in the
JVM — no Python worker in the plan."""

import numpy as np
import pandas as pd
import pytest

from ivory_spark.index.build import assign_sequential_ids
from ivory_spark.session import local_frame


@pytest.mark.parametrize("partitions, n_rows", [(1, 300), (3, 300), (8, 300), (8, 5)])
def test_ids_match_pandas_twin(spark, partitions, n_rows):
    rng = np.random.RandomState(partitions * 1000 + n_rows)
    # a repeats, so b (unique) breaks its ties: the order is total
    pdf = pd.DataFrame({
        "a": rng.randint(0, 20, n_rows).astype(np.int64),
        "b": [f"k{x:06d}" for x in rng.choice(10**6, n_rows, replace=False)],
        "v": rng.rand(n_rows),
    })
    df = local_frame(spark, list(pdf.itertuples(index=False)), "a long, b string, v double")
    out, total, pinned = assign_sequential_ids(df, ["a", "b"], "id", partitions)
    try:
        got = out.toPandas()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        pinned.unpersist()
    want = pdf.sort_values(["a", "b"]).reset_index(drop=True)
    want["id"] = np.arange(1, n_rows + 1, dtype=np.int64)
    assert total == n_rows
    assert list(got.columns) == ["a", "b", "v", "id"]
    pd.testing.assert_frame_equal(
        got.sort_values("id").reset_index(drop=True), want, check_dtype=False
    )
    assert not any(n in plan for n in ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython"))
