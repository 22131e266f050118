"""register_sql: one SQL text serves as the Spark builder (spark.sql
over load_table frames) and as the DuckDB oracle."""

from __future__ import annotations

import pytest

from fegis_spark.catalog import catalog, sql_entry

SF_DIR = "/root/testdata/sf0.001"


def test_alias_equal_to_a_table_name_keeps_its_name(spark):
    # only {placeholders} are tables: the output alias `nation` and the
    # string literal stay plain text on both engines
    e = sql_entry(
        "t",
        "SELECT n_name AS nation, 'nation' AS k FROM {nation} WHERE n_nationkey = 0",
    )
    assert e.oracle == (
        "SELECT n_name AS nation, 'nation' AS k FROM nation WHERE n_nationkey = 0"
    )
    df = e.builder(spark, SF_DIR)
    assert df.columns == ["nation", "k"]
    assert df.collect()[0]["k"] == "nation"


def test_placeholder_must_name_a_table():
    with pytest.raises(ValueError):
        sql_entry("t", "SELECT 1 AS x FROM {nations}")


def test_generator_text_gives_each_engine_its_spelling():
    e = sql_entry("t", lambda *, spark: f"SELECT {'a' if spark else 'b'} AS x FROM {{events}}")
    assert e.sql == "SELECT a AS x FROM {events}"
    assert e.oracle == "SELECT b AS x FROM events"


def test_build_leaves_no_temp_view(spark):
    before = {t.name for t in spark.catalog.listTables()}
    for e in catalog().values():
        if e.sql is not None:
            e.builder(spark, SF_DIR)
    assert {t.name for t in spark.catalog.listTables()} == before


@pytest.mark.parametrize(
    "name, column, dtype",
    [
        # Spark's row_number is INT; DuckDB's (and the builders') BIGINT
        ("top_orders_per_segment", "rnk", "bigint"),
        ("sequence_numbering", "sequence_order", "bigint"),
        # ts stays TIMESTAMP_NTZ: no CAST(ts AS TIMESTAMP) on Spark
        ("latest_event_per_user", "ts", "timestamp_ntz"),
    ],
)
def test_sql_text_output_types(spark, name, column, dtype):
    df = catalog()[name].builder(spark, SF_DIR)
    assert dict(df.dtypes)[column] == dtype
