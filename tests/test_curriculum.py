"""Curriculum keys/order: bucket monotone in score, deterministic md5
shuffle key, null handling, partition invariance, and the total-sort
materialization."""
import hashlib

from pyspark.sql import Row

from msi_preprocessing_pipeline_spark.operators.curriculum import (
    curriculum_keys, curriculum_order)


def _df(spark):
    rows = [Row(doc_id=i, score=s) for i, s in
            [(1, 10), (2, 3), (3, 7), (4, 1), (5, 20), (6, 5),
             (7, 12), (8, 8), (9, None)]]
    return spark.createDataFrame(rows, "doc_id int, score int")


def _key(i, seed=7):
    return int(hashlib.md5(f"{i}:cur:{seed}".encode())
               .hexdigest()[:8], 16) % (1 << 30)


def test_buckets_monotone_in_score(spark):
    got = {r["doc_id"]: (r["cur_bucket"], r["score"])
           for r in curriculum_keys(_df(spark), "score",
                                    n_buckets=4).collect()}
    assert got[9][0] is None
    by_score = sorted((s, b) for b, s in got.values() if s is not None)
    buckets = [b for _s, b in by_score]
    assert buckets == sorted(buckets)
    assert set(buckets) == {0, 1, 2, 3}


def test_shuffle_key_is_md5_of_id(spark):
    got = {r["doc_id"]: r["cur_key"]
           for r in curriculum_keys(_df(spark), "score").collect()}
    assert got == {i: _key(i) for i in range(1, 10)}


def test_order_is_bucket_then_key_nulls_last(spark):
    rows = curriculum_order(_df(spark), "score", n_buckets=4).collect()
    keys = [(r["cur_bucket"], r["cur_key"], r["doc_id"]) for r in rows]
    non_null = [k for k in keys if k[0] is not None]
    assert non_null == sorted(non_null)
    assert keys[-1][0] is None and keys[-1][2] == 9


def test_partition_invariance(spark):
    df = _df(spark)
    a = sorted(map(tuple, curriculum_keys(df, "score").collect()))
    b = sorted(map(tuple,
                   curriculum_keys(df.repartition(7), "score")
                   .collect()))
    assert a == b
