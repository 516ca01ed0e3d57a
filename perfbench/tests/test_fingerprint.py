"""Fingerprints ignore row order, partitioning and column order, and see
every changed, missing or duplicated row."""

from pyspark.sql import functions as F

from fingerprint import dangling, fingerprint

ROWS = [(i, f"name{i % 7}", [3 - i % 3, i % 3], {"k": i}) for i in range(50)]
SCHEMA = "id long, name string, tags array<long>, attrs map<string,long>"


def test_order_and_layout_independent(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    fp = fingerprint(df)
    assert fp.startswith("50:")
    assert fingerprint(df.orderBy(F.desc("id")).repartition(5)) == fp
    assert fingerprint(df.coalesce(1).select("tags", "attrs", "name", "id")) == fp
    assert fingerprint(df.withColumn("tags", F.reverse("tags"))) == fp  # arrays are sets here


def test_sees_content_changes(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    fp = fingerprint(df)
    assert fingerprint(df.filter("id != 3")) != fp
    assert fingerprint(df.unionByName(df.filter("id = 3"))) != fp
    for value in ("x", None):
        changed = F.when(F.col("id") == 9, value).otherwise(F.col("name"))
        assert fingerprint(df.withColumn("name", changed)) != fp


def test_dangling(spark):
    parent = spark.createDataFrame([("a",), ("b",)], "uuid string")
    child = spark.createDataFrame([("a",), ("c",), (None,)], "ref string")
    assert dangling(child, "ref", parent) == 1
