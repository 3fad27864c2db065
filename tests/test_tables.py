"""sources/tables.load_table: the cached inferred schema follows a
table rewritten in place, one cache entry per table."""

from geist_spark.sources import tables


def test_rewrite_replaces_the_cached_schema(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/t.parquet"

    spark.createDataFrame([(1,)], "a int").write.parquet(path)
    assert tables.load_table(spark, sf_dir, "t").columns == ["a"]
    spark.createDataFrame([(1, "x")], "a int, b string").write.mode("overwrite").parquet(path)
    assert tables.load_table(spark, sf_dir, "t").columns == ["a", "b"]
    spark.createDataFrame([("y",)], "c string").write.mode("overwrite").parquet(path)
    df = tables.load_table(spark, sf_dir, "t")
    assert df.columns == ["c"] and df.collect()[0]["c"] == "y"
    assert len([k for k in tables._SCHEMA_CACHE if k[:2] == (sf_dir, "t")]) == 1
