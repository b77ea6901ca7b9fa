"""Sink metadata: the watermark and recycle of parquet lakehouse sinks
answered from parquet footers (models._sink_last_value /
models._recycle_files), checked against what Spark itself reads."""

import itertools
import os
import types

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pydin_spark import (ORC, Filesystem, Parquet, Pipeline, Select,
                         SourceRegistry, Table)

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"sink-metadata-{next(_GROUPS)}"
    sc.setJobGroup(group, "sink metadata test")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _table(spark, base, name, **kwargs):
    registry = SourceRegistry(autoload=False)
    registry.register(Filesystem("lake", base))
    table = Table(source_name="lake", schema_name="stage", table_name=name,
                  **kwargs)
    table.pipeline = types.SimpleNamespace(registry=registry, spark=spark)
    return table


def _identity(path):
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns


def _data_files(root):
    return sorted(os.path.join(d, f) for d, dirs, files in os.walk(root)
                  for f in files if f.endswith(".parquet")
                  and not f.startswith(".")
                  and not any(p.startswith("_") and "=" not in p
                              for p in os.path.relpath(d, root).split("/")))


def _spark_max(spark, path, column):
    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path).agg(F.max(column)).first()[0]


def test_footer_watermark_equals_spark_max(spark, tmp_path):
    table = _table(spark, str(tmp_path), "wm")
    path = table.fs_path
    schema = pa.schema([("i", pa.int32()), ("l", pa.int64())])
    os.makedirs(path)
    # two row groups: the first holds only nulls
    pq.write_table(pa.table({"i": [None, None, 5, 9],
                             "l": [None, None, 2 ** 40, -3]}, schema=schema),
                   os.path.join(path, "part-a.parquet"), row_group_size=2)
    # a zero-row file next to a Spark-written file with nulls
    spark.createDataFrame([], "i int, l long").write.mode("append") \
        .parquet(path)
    spark.createDataFrame([(12, None), (None, 7)], "i int, l long") \
        .coalesce(1).write.mode("append").parquet(path)
    # Spark never reads these, so the footers must not either
    big = pa.table({"i": [10 ** 6], "l": [10 ** 12]}, schema=schema)
    os.makedirs(os.path.join(path, "_temporary", "0"))
    pq.write_table(big, os.path.join(path, "_temporary", "0", "p.parquet"))
    pq.write_table(big, os.path.join(path, ".hidden.parquet"))
    for column in ("i", "l"):
        value, jobs = _jobs(spark, lambda: table.get_last_value(column))
        assert jobs == 0
        assert value == _spark_max(spark, path, column)
    assert table.get_last_value("i") == 12
    assert table.get_last_value("l") == 2 ** 40


def test_footer_watermark_all_null_and_empty_sinks(spark, tmp_path):
    table = _table(spark, str(tmp_path), "nulls")
    path = table.fs_path
    spark.createDataFrame([(None,), (None,)], "v long").coalesce(1) \
        .write.parquet(path)
    value, jobs = _jobs(spark, lambda: table.get_last_value("v"))
    assert (value, jobs) == (None, 0)
    assert _spark_max(spark, path, "v") is None

    empty = _table(spark, str(tmp_path), "empty")
    spark.createDataFrame([], "v long").write.parquet(empty.fs_path)
    value, jobs = _jobs(spark, lambda: empty.get_last_value("v"))
    assert (value, jobs) == (None, 0)
    assert _table(spark, str(tmp_path), "missing").get_last_value("v") \
        is None
    # a scheme with no filesystem behind it: Spark decides, as before
    assert _table(spark, "nosuchfs://bucket/lake", "t") \
        .get_last_value("v") is None


def test_non_integral_watermark_falls_back_to_spark(spark, tmp_path):
    sink = Parquet(file_name="typed", path=str(tmp_path))
    sink.pipeline = None
    spark.sql("SELECT TIMESTAMP'2024-01-02 03:04:05' ts, 'zz' s, "
              "CAST(12.5 AS DECIMAL(10, 2)) d UNION ALL "
              "SELECT TIMESTAMP'2024-01-01 00:00:00', 'aa', "
              "CAST(99.25 AS DECIMAL(10, 2))") \
        .write.parquet(sink.resolved_path)
    for column in ("ts", "s", "d"):
        value, jobs = _jobs(spark, lambda: sink.get_last_value(column))
        assert jobs > 0
        assert value == _spark_max(spark, sink.resolved_path, column)


def _write_run(spark, path, pid, n, offset=0):
    spark.range(offset, offset + n).selectExpr(
        "id", f"CAST({pid} AS INT) AS pd_process_id") \
        .coalesce(1).write.mode("append").parquet(path)


def test_unpartitioned_recycle_deletes_pure_files_only(spark, tmp_path):
    table = _table(spark, str(tmp_path), "pure")
    path = table.fs_path
    _write_run(spark, path, 1, 10)
    run1 = set(_data_files(path))
    _write_run(spark, path, 2, 5, offset=10)
    kept = {f: _identity(f) for f in _data_files(path) if f not in run1}
    _, jobs = _jobs(spark,
                    lambda: table.recycle("pd_process_id", 1))
    assert jobs == 0
    assert {f: _identity(f) for f in _data_files(path)} == kept
    for f in run1:  # the checksum sibling goes with its file
        crc = os.path.join(os.path.dirname(f),
                           "." + os.path.basename(f) + ".crc")
        assert not os.path.exists(f) and not os.path.exists(crc)
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() == 5


def test_mixed_file_rewritten_and_null_keys_survive(spark, tmp_path):
    table = _table(spark, str(tmp_path), "mixed")
    path = table.fs_path
    spark.createDataFrame([(1, 1), (2, 2), (3, None), (4, 1)],
                          "id long, pd_process_id int") \
        .coalesce(1).write.parquet(path)
    # min = max = the run, but a null key: mixed, not pure
    spark.createDataFrame([(5, 1), (6, None)], "id long, pd_process_id int") \
        .coalesce(1).write.mode("append").parquet(path)
    mixed = set(_data_files(path))
    _write_run(spark, path, 3, 2, offset=10)
    untouched = {f: _identity(f) for f in _data_files(path)
                 if f not in mixed}
    table.recycle("pd_process_id", 1)
    after = _data_files(path)
    assert not mixed & set(after)
    assert {f: _identity(f) for f in after if f in untouched} == untouched
    rows = sorted(tuple(r) for r in spark.read.parquet(path)
                  .select("id", "pd_process_id").collect())
    assert rows == [(2, 2), (3, None), (6, None), (10, 3), (11, 3)]


def test_recycle_ignores_hidden_entries(spark, tmp_path):
    table = _table(spark, str(tmp_path), "hidden")
    path = table.fs_path
    _write_run(spark, path, 1, 4)
    _write_run(spark, path, 2, 4, offset=4)
    # an aborted writer's leftovers carry the run too; Spark never
    # reads them, so recycle must neither count nor touch them
    stale = os.path.join(path, "_temporary", "0", "part-stale.parquet")
    os.makedirs(os.path.dirname(stale))
    pq.write_table(pa.table({"id": [99], "pd_process_id": [1]}), stale)
    _, jobs = _jobs(spark, lambda: table.recycle("pd_process_id", 1))
    assert jobs == 0
    assert os.path.exists(stale)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not [n for n in os.listdir(path) if n.endswith(".crc")
                and not os.path.exists(os.path.join(path, n[1:-4]))]
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() == 4


def test_recycle_of_every_file_keeps_schema(spark, tmp_path):
    table = _table(spark, str(tmp_path), "all")
    path = table.fs_path
    _write_run(spark, path, 7, 6)
    schema = spark.read.parquet(path).schema
    table.recycle("pd_process_id", 7)
    spark.catalog.refreshByPath(path)
    out = spark.read.parquet(path)
    assert out.schema == schema and out.count() == 0
    assert table.get_last_value("id") is None


def test_partitioned_mixed_file_keeps_partition_columns(spark, tmp_path):
    sink = Parquet(file_name="parts", path=str(tmp_path),
                   partition_by=["part"])
    sink.pipeline = None
    path = sink.resolved_path
    spark.createDataFrame([(1, "a", 1), (2, "a", 2), (3, "b", 2),
                           (4, None, 1), (5, None, 2)],
                          "id long, part string, pd_process_id int") \
        .coalesce(1).write.partitionBy("part").parquet(path)
    b_files = {f: _identity(f)
               for f in _data_files(os.path.join(path, "part=b"))}
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    sink.recycle("pd_process_id", 1)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") \
        == before
    assert {f: _identity(f) for f in
            _data_files(os.path.join(path, "part=b"))} == b_files
    spark.catalog.refreshByPath(path)
    rows = sorted((r["id"], r["part"] or "") for r in
                  spark.read.parquet(path).collect())
    assert rows == [(2, "a"), (3, "b"), (5, "")]


def test_orc_recycle_scans_for_affected_files(spark, tmp_path):
    sink = ORC(file_name="o", path=str(tmp_path))
    sink.pipeline = None
    path = sink.resolved_path
    spark.createDataFrame([(1, 1), (2, 2), (3, None)],
                          "id long, pd_process_id int") \
        .coalesce(1).write.orc(path)
    spark.createDataFrame([(4, 1)], "id long, pd_process_id int") \
        .coalesce(1).write.mode("append").orc(path)
    sink.recycle("pd_process_id", 1)
    spark.catalog.refreshByPath(path)
    rows = sorted(tuple(r) for r in spark.read.orc(path).collect())
    assert rows == [(2, 2), (3, None)]


def test_file_uri_base_recycle_and_cleanup(spark, tmp_path):
    """A scheme-qualified lake base (file://, and by the same code path
    hdfs:// or s3a://) must recycle and clean up, not skip silently."""
    spark.range(10).createOrReplaceTempView("ten_rows")
    registry = SourceRegistry(autoload=False)
    registry.register(Filesystem("lake", "file://" + str(tmp_path)))
    path = str(tmp_path / "stage" / "t")

    def run(recycle=None, cleanup=False):
        sink = Table(source_name="lake", schema_name="stage",
                     table_name="t", key_field="process_id",
                     cleanup=cleanup)
        Pipeline(Select(text="SELECT id FROM ten_rows"), sink, spark=spark,
                 registry=registry, process_id=5).run(recycle=recycle)
        spark.catalog.refreshByPath(path)
        return spark.read.parquet(path).count()

    assert run() == 10
    assert run(recycle=5) == 10
    assert run() == 20
    assert run(cleanup=True) == 10
