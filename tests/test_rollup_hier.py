"""q_rollup_status hierarchical rewrite (round 11): the Spark-side
hierarchical-dedup SQL must equal the direct ROLLUP + COUNT(DISTINCT)
form row-for-row — including the edge cases the fixtures never hit
(NULL group values, NULL orderkeys, empty input, a single row)."""

import sys

from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entrymod  # noqa: E402

HIER = entrymod.SPARK_ONLY_SQL["q_rollup_status"]
ROLLUP = entrymod.DUCK_ONLY_SQL["q_rollup_status"]

SCHEMA = StructType([
    StructField("l_returnflag", StringType()),
    StructField("l_linestatus", StringType()),
    StructField("l_orderkey", LongType()),
])


def _multiset(spark, sql):
    rows = spark.sql(sql).collect()
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    return sorted((tuple(r) for r in rows), key=key)


def _check(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    df.createOrReplaceTempView("lineitem")
    try:
        got = _multiset(spark, HIER)
        want = _multiset(spark, ROLLUP)
        assert got == want, f"\nhier:   {got}\nrollup: {want}"
        # schema contract: same names, same integer types
        h = spark.sql(HIER)
        r = spark.sql(ROLLUP)
        assert h.columns == r.columns
        assert [f.dataType for f in h.schema] == \
               [f.dataType for f in r.schema]
    finally:
        # the session-scoped views fixture registered the REAL
        # lineitem view; dropping ours must put the fixture's back or
        # every later spark.table("lineitem") test in the session dies
        spark.catalog.dropTempView("lineitem")
        # ALL tables, not just lineitem: register_tables caches "this
        # session is registered for this dir", so a partial re-register
        # would make the session fixture's later call a no-op
        from pydin_spark import register_tables
        from tests.conftest import SF_DIR
        register_tables(spark, SF_DIR, force=True)


def test_hier_equals_rollup_basic(spark):
    _check(spark, [
        ("A", "F", 1), ("A", "F", 1), ("A", "F", 2),
        ("A", "O", 1), ("N", "F", 3), ("N", "F", 3),
        ("R", "O", 2), ("R", "O", 4), ("R", "F", 4),
    ])


def test_hier_equals_rollup_null_orderkeys(spark):
    # COUNT(DISTINCT l_orderkey) skips NULLs while COUNT(*) keeps the
    # rows — the rewrite's COUNT(l_orderkey)-over-deduped-rows must
    # reproduce both
    _check(spark, [
        ("A", "F", None), ("A", "F", None), ("A", "F", 1),
        ("N", "O", None), ("N", "O", 2),
    ])


def test_hier_equals_rollup_null_group_values(spark):
    # a data-NULL flag/status group is distinct from a rollup-NULL
    # subtotal row only by multiplicity; both forms must emit the same
    # multiset
    _check(spark, [
        (None, "F", 1), (None, None, 1), ("A", None, 2),
        ("A", "F", 2), (None, "F", 3),
    ])


def test_hier_equals_rollup_empty_and_single(spark):
    # on empty input Spark's Expand-based ROLLUP emits NO rows, while
    # the DuckDB oracle emits one (NULL, NULL, 0, 0) grand-total row;
    # this check is Spark vs Spark, so that known divergence is not
    # covered here (the oracle never sees an empty lineitem)
    _check(spark, [])
    _check(spark, [("A", "F", 7)])
