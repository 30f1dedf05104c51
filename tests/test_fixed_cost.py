"""Fixed costs per query: Python workers import the installed pyspark,
a re-read of unchanged parquet files infers no schema, and a repeated
query compiles no class."""

from __future__ import annotations

import json
import os
import sys
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
import pytest

from rsyslog_spark import _pydaemon
from rsyslog_spark.sources import read_parquet


def test_python_workers_import_the_installed_pyspark(spark):
    def probe(batches):
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            yield pd.DataFrame({
                "file": [pyspark.__file__],
                "path": [json.dumps(sys.path)],
                "zipimporters": [sum(
                    type(f).__name__ == "zipimporter"
                    for f in sys.path_importer_cache.values())],
            })

    rows = spark.range(2).repartition(2).mapInPandas(
        probe, "file string, path string, zipimporters int").collect()
    assert len(rows) == 2
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    for r in rows:
        assert os.path.isfile(r.file), r.file  # not a member of an archive
        assert _pydaemon.spark_archives(json.loads(r.path), home) == []
        assert r.zipimporters == 0


def test_daemon_keeps_archives_of_another_version(tmp_path):
    def archive(name, members):
        p = tmp_path / name
        with zipfile.ZipFile(p, "w") as z:
            for n, text in members.items():
                z.writestr(n, text)
        return str(p)

    rest = [p for p in sys.path if not p.endswith((".zip", ".jar"))]
    same = archive("same.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": f"__version__: str = '{pyspark.__version__}'\n",
    })
    other = archive("other.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__: str = '0.0.1'\n",
    })
    unversioned = archive("unversioned.zip", {"pyspark/__init__.py": ""})
    no_package = archive("core.jar", {"org/apache/spark/X.class": ""})
    assert _pydaemon.redundant(same, rest)
    assert _pydaemon.redundant(no_package, rest)
    assert not _pydaemon.redundant(other, rest)
    assert not _pydaemon.redundant(unversioned, rest)
    assert not _pydaemon.redundant(same, [str(tmp_path)])  # not installed
    assert _pydaemon.spark_archives(
        [same, str(tmp_path), "/elsewhere/x.zip"], str(tmp_path)) == [same]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn(), sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_read_parquet_reuses_the_inferred_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    first, _ = _jobs(spark, "rp-first", lambda: read_parquet(spark, path))
    again, jobs = _jobs(spark, "rp-again", lambda: read_parquet(spark, path))
    assert jobs == []  # no schema job before an action
    assert again.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(again.collect()) == sorted(first.collect())

    # rewritten: an added column and a changed type mean a fresh inference
    pq.write_table(pa.table({"a": ["1", "2"], "b": ["x", "y"],
                             "c": [0.5, 1.5]}), path)
    new = read_parquet(spark, path)
    assert new.schema == spark.read.parquet(path).schema
    assert new.schema.simpleString() == "struct<a:string,b:string,c:double>"
    assert sorted(new.collect()) == [("1", "x", 0.5), ("2", "y", 1.5)]


def test_read_parquet_directory_and_missing_path(spark, tmp_path):
    path = str(tmp_path / "parts")
    spark.range(6).selectExpr("id", "id % 2 as k").write.partitionBy(
        "k").parquet(path)
    first = read_parquet(spark, path)
    again, jobs = _jobs(spark, "rp-dir", lambda: read_parquet(spark, path))
    assert jobs == []
    assert again.columns == first.columns == ["id", "k"]
    assert sorted(again.collect()) == sorted(first.collect())
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "missing.parquet"))


def test_repeated_query_compiles_no_class(spark):
    """The codegen cache outlives a working set past Spark's default 100
    classes, so a repeated query reuses its compiled classes."""
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()

    def query(i):
        return spark.range(3).selectExpr(f"id * {i} + {i} as x").collect()

    query(0)
    for i in range(1, 120):  # 119 classes that differ in a literal
        query(i)
    before = compiles.getCount()
    assert query(0) == [(0,), (0,), (0,)]
    assert compiles.getCount() == before
