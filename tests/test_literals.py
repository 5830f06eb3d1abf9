"""functions.literals — JVM literal relations for tiny lookup tables
(the spark.createDataFrame Python-RDD path is banned by plan contract)."""

from __future__ import annotations


def test_literal_df_types_and_values(spark):
    from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df

    df = literal_df(
        spark,
        [("a", 1, 0.5, [1.0, 2.0]), ("b", None, None, [])],
        "k string, n int, x double, arr array<double>",
    )
    assert [f.simpleString() for f in df.schema.fields] == [
        "k:string", "n:int", "x:double", "arr:array<double>",
    ]
    rows = {r["k"]: r for r in df.collect()}
    assert rows["a"]["n"] == 1 and rows["a"]["arr"] == [1.0, 2.0]
    assert rows["b"]["n"] is None and rows["b"]["x"] is None and rows["b"]["arr"] == []


def test_literal_df_plan_has_no_python_rdd(spark):
    from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df

    df = literal_df(spark, [("x", 1)], "k string, v int")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "applySchemaToPythonRDD" not in plan


def test_schema_split_handles_nested_brackets():
    from cicevse2024_tfm_datapipeline_spark.functions.literals import _split_schema

    assert _split_schema("a int, b array<double>, c map<string,int>") == [
        ("a", "int"), ("b", "array<double>"), ("c", "map<string,int>"),
    ]


def test_literal_df_strings_ignore_escaped_string_literals_conf(spark):
    """Quotes and backslashes in values and field names must round-trip
    whatever ``spark.sql.parser.escapedStringLiterals`` says."""
    from cicevse2024_tfm_datapipeline_spark.functions.literals import literal_df

    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    try:
        for flag in ("true", "false"):
            spark.conf.set(key, flag)
            row = literal_df(
                spark, [("it's", "a\\b")], "x string, y'\\z string"
            ).collect()[0]
            assert (row[0], row[1]) == ("it's", "a\\b"), flag
            assert row.__fields__ == ["x", "y'\\z"], flag
    finally:
        spark.conf.set(key, old)
