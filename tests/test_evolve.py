"""Additive schema evolution: union_schema rules, column alignment,
and widening through the lake sink."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from go_cdc_spark.evolve import align_to_schema, union_schema

TARGET = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("c", T.DoubleType()),  # missing from input → null
    ]
)


def test_union_schema_additive_and_conflict():
    base = T.StructType([T.StructField("a", T.LongType())])
    inc = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("z", T.StringType())]
    )
    out = union_schema(base, inc)
    assert [f.name for f in out.fields] == ["a", "z"]
    assert out["z"].nullable
    bad = T.StructType([T.StructField("a", T.StringType())])
    with pytest.raises(TypeError, match="non-additive"):
        union_schema(base, bad)


def test_align_to_schema_pads_and_reorders(spark):
    # input: wrong column order, missing column c
    df = spark.createDataFrame([("x", 7), ("y", 8)], ["b", "a"])
    aligned = align_to_schema(df, TARGET)
    r = sorted(aligned.collect())[0]
    assert (r["a"], r["b"], r["c"]) == (7, "x", None)
    assert aligned.schema == TARGET


def test_union_schema_widens_numerics():
    """int→long and float→double promote (Iceberg's safe set), in
    either direction; string→long still raises."""
    base = T.StructType(
        [T.StructField("n", T.IntegerType()), T.StructField("x", T.FloatType())]
    )
    inc = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("x", T.DoubleType())]
    )
    out = union_schema(base, inc)
    assert out["n"].dataType == T.LongType()
    assert out["x"].dataType == T.DoubleType()
    # narrow incoming against wide base keeps the wide type
    assert union_schema(out, base)["n"].dataType == T.LongType()
    with pytest.raises(TypeError, match="non-additive"):
        union_schema(base, T.StructType([T.StructField("n", T.StringType())]))


def test_lake_widens_int_column_to_long(spark, tmpdir_path):
    """End to end through the sink: a long-typed batch widens an
    int-typed table column; old rows read back unchanged, new rows keep
    values beyond int range."""
    from pyspark.sql import functions as F

    from go_cdc_spark.operators.resolve import lww_resolve
    from go_cdc_spark.sinks.lake import ParquetLakeTable

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("n", T.IntegerType())]
    )
    t = ParquetLakeTable.create(spark, tmpdir_path, schema, ["k"], 4)

    def batch(rows, n_type):
        df = spark.createDataFrame(
            rows, f"k long, ts_t long, ts_i long, seq long, op string, n {n_type}"
        )
        return lww_resolve(df, ["k"], ["ts_t", "ts_i", "seq"], ["n"])

    t.apply_batch(batch([(1, 1, 0, 1, "i", 7)], "int"), "e1")
    big = 5_000_000_000  # beyond int32
    t.apply_batch(batch([(2, 2, 0, 2, "i", big)], "long"), "e2")
    assert t.schema["n"].dataType == T.LongType()
    out = {r["k"]: r["n"] for r in t.read().collect()}
    assert out == {1: 7, 2: big}
