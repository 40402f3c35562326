"""merge_into: update + insert semantics, null-safe
keys, multi-match fail-fast, column checks, partition invariance."""
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from msi_preprocessing_pipeline_spark.operators.changelog import (
    merge_into)


def _t(spark):
    return spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=None, v="n")],
        "k int, v string")


def _s(spark):
    return spark.createDataFrame(
        [Row(k=2, v="B"), Row(k=3, v="C"), Row(k=None, v="N")],
        "k int, v string")


def test_update_insert(spark):
    got = {r["k"]: r["v"]
           for r in merge_into(_t(spark), _s(spark), "k").collect()}
    # k=2 updated, k=3 inserted, k=1 kept, null key matches null-safely
    assert got == {1: "a", 2: "B", 3: "C", None: "N"}


def test_multi_match_raises_at_runtime(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    dup = spark.createDataFrame(
        [Row(k=2, v="x"), Row(k=2, v="y")], "k int, v string")
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception),
                       match="multiple source rows"):
        merge_into(_t(spark), dup, "k").collect()


def test_missing_column_and_bad_clause(spark):
    bad = spark.createDataFrame([Row(k=2)], "k int")
    with pytest.raises(ValueError, match="missing target columns"):
        merge_into(_t(spark), bad, "k")


def test_partition_invariance_and_extra_source_cols_ignored(spark):
    t = spark.range(0, 50).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("t"), F.col("id")).alias("v"))
    s = spark.range(25, 75).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("v"),
        F.lit("extra").alias("junk"))
    a = sorted(map(tuple, merge_into(t, s, "k").collect()))
    b = sorted(map(tuple, merge_into(t.repartition(7), s.repartition(3),
                                     "k").collect()))
    assert a == b and len(a) == 75
    assert all(len(r) == 2 for r in a)  # junk column not leaked
