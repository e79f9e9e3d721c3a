"""``local_frame``: every driver-built relation in the package is shipped to
the JVM as Arrow record batches, never as a pickled Python RDD — so no
job that scans one starts a Python worker."""

import inspect
import os

import pytest
from pyspark.sql.types import StructType

from kafka_connect_gcs_spark.operators.util import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_connect_gcs_spark",
)


@pytest.mark.parametrize(
    "schema, rows",
    [
        ("path string, lo string, hi string", [("a", "b", "c"), ("d", None, "")]),
        ("rank int, token string", [(0, "ab"), (None, "c")]),
        ("q long, centroid int", [(2**40, 3), (-1, None)]),
        ("doc_id string, tokens array<int>", [("x", [1, None, 3]), ("y", None)]),
        ("q long, _qvec array<float>", [(1, [0.5, -2.25]), (2, [])]),
        ("bloom array<boolean>", [([True, False, None],)]),
        ("key string, offset long, value double, is_delete boolean", []),
    ],
)
def test_round_trips_rows_and_schema(spark, schema, rows):
    struct = StructType.fromDDL(schema)
    for given in (schema, struct):
        df = local_frame(spark, rows, given)
        assert df.schema == struct
        assert [tuple(r) for r in df.collect()] == rows


def test_lineage_has_no_python_rdd(spark):
    df = local_frame(spark, [("a", "b", "c")], "path string, lo string, hi string")
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    # the check can fail: a pickled list shows a PythonRDD in its lineage
    pickled = spark.createDataFrame([("a",)], "path string")
    assert "PythonRDD" in pickled._jdf.queryExecution().toRdd().toDebugString()


def test_package_builds_driver_relations_only_through_local_frame():
    hits = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    for i, line in enumerate(f, 1):
                        if "createDataFrame(" in line:
                            hits.append((os.path.relpath(path, PKG), i))
    body, start = inspect.getsourcelines(local_frame)
    assert len(hits) == 1, hits
    where, line = hits[0]
    assert where == os.path.join("operators", "util.py")
    assert start <= line < start + len(body)
