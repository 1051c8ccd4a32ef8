"""Driver-side rows enter Spark only through session.local_frame, as an
Arrow local relation (a JVM LocalTableScan). A list or an RDD fed to
createDataFrame, or sc.parallelize, is read through a Python map, so
every task of the plan starts one more Python worker."""

import ast
import pathlib

import numpy as np

from ivory_spark import session
from ivory_spark.session import local_frame

PACKAGE = pathlib.Path(session.__file__).parent


class _Calls(ast.NodeVisitor):
    """(file, enclosing function) of each call of a function or method
    named `name`."""

    def __init__(self, name: str):
        self.name, self.file, self.scope, self.found = name, "", ["<module>"], []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if getattr(node.func, "attr", getattr(node.func, "id", None)) == self.name:
            self.found.append((self.file, self.scope[-1]))
        self.generic_visit(node)


def _calls(name: str) -> list[tuple[str, str]]:
    v = _Calls(name)
    for path in sorted(PACKAGE.rglob("*.py")):
        v.file = str(path.relative_to(PACKAGE))
        v.visit(ast.parse(path.read_text(), str(path)))
    return v.found


def test_driver_rows_enter_spark_only_through_local_frame():
    assert _calls("parallelize") == []
    assert _calls("createDataFrame") == [("session.py", "local_frame")]


def test_local_frame_is_a_local_table_scan(spark, jobs_started):
    """Contiguous slices in row order, min(len(rows), defaultParallelism)
    of them, cast to the DDL types; an empty frame collects with no job."""
    rows = [(f"q{i:02d}", i, i / 3) for i in range(10)]
    df = local_frame(spark, rows, "qid string, n long, w float")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    slices = df.rdd.glom().collect()
    assert len(slices) == min(len(rows), spark.sparkContext.defaultParallelism)
    assert [tuple(r) for s in slices for r in s] == [
        (q, n, float(np.float32(w))) for q, n, w in rows
    ]
    assert df.schema.simpleString() == "struct<qid:string,n:bigint,w:float>"
    empty = local_frame(spark, [], "qid string, feats array<float>")
    got, jobs = jobs_started(empty.collect)
    assert got == [] and jobs == []
    assert empty.schema.simpleString() == "struct<qid:string,feats:array<float>>"
