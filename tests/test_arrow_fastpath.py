"""Focused coverage for the Arrow driver-transfer helpers.

The size-gated driver fast paths (operators/fastpath.py) cross the JVM
boundary through `_arrow_numpy_cols` (collect → numpy columns via Arrow
record batches) and `_local_result_df` (driver result → DataFrame as one
Arrow batch).
These tests pin the contract the union-find / CSR consumers rely on:
values, row counts, the null flag that routes back to the distributed
path, the empty-frame shape, the toPandas fallback, and conf restore.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_wrap_spark.operators.fastpath import _arrow_numpy_cols, _local_result_df


def test_arrow_numpy_cols_values_and_nonnull(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "src long, dst long, label string"
    )
    cols, n_rows, has_null = _arrow_numpy_cols(df)
    assert n_rows == 3
    assert has_null is False
    assert sorted(cols) == ["dst", "label", "src"]
    assert sorted(cols["src"].tolist()) == [1, 2, 3]
    # column alignment: src=2 row carries dst=20/label="b"
    rows = sorted(zip(cols["src"].tolist(), cols["dst"].tolist(), cols["label"].tolist()))
    assert rows == [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]


def test_arrow_numpy_cols_null_flag_set(spark):
    df = spark.createDataFrame([(1, None), (2, 20)], "src long, dst long")
    cols, n_rows, has_null = _arrow_numpy_cols(df)
    assert n_rows == 2
    assert has_null is True  # routes the fast path back to distributed


def test_arrow_numpy_cols_empty_frame(spark):
    df = spark.range(0).select(F.col("id").alias("src"), F.col("id").alias("dst"))
    cols, n_rows, has_null = _arrow_numpy_cols(df)
    assert n_rows == 0
    assert has_null is False
    assert set(cols) == {"src", "dst"}  # schema-complete even with no batches


def test_arrow_numpy_cols_topandas_fallback(spark):
    class _NoArrow:
        """Shim without _collect_as_arrow: exercises the fallback leg."""

        def __init__(self, df):
            self._df = df

        def toPandas(self):
            return self._df.toPandas()

    df = spark.createDataFrame([(1, None), (2, 20)], "src long, dst long")
    cols, n_rows, has_null = _arrow_numpy_cols(_NoArrow(df))
    assert n_rows == 2
    assert has_null is True
    assert sorted(int(v) for v in cols["src"].tolist()) == [1, 2]


def test_local_result_df_roundtrip_and_conf_restore(spark):
    import numpy as np

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    schema = StructType(
        [StructField("node", LongType(), False), StructField("comp", LongType(), False)]
    )
    out = _local_result_df(
        spark,
        {"node": np.arange(5, dtype=np.int64), "comp": np.zeros(5, dtype=np.int64)},
        schema,
    )
    assert out.schema == schema
    got = sorted((r.node, r.comp) for r in out.collect())
    assert got == [(i, 0) for i in range(5)]
    assert spark.conf.get(key, None) == prev  # batch-size pin is scoped


def test_local_result_df_empty(spark):
    schema = StructType([StructField("node", LongType(), True)])
    out = _local_result_df(spark, {"node": []}, schema)
    assert out.count() == 0
    assert out.schema == schema


def test_local_result_df_string_column(spark):
    schema = StructType(
        [StructField("k", StringType(), True), StructField("v", LongType(), True)]
    )
    out = _local_result_df(spark, {"k": ["x", "y"], "v": [1, 2]}, schema)
    assert sorted((r.k, r.v) for r in out.collect()) == [("x", 1), ("y", 2)]
