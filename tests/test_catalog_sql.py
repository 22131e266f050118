"""register_sql: one SQL text serves as the Spark builder (spark.sql
over load_table frames) and as the DuckDB oracle."""

from __future__ import annotations

import duckdb
import pytest

from fegis_spark.catalog import catalog, sql_entry
from fegis_spark.model import TABLES
from fegis_spark.queries.sqlfrag import (
    epoch_us_sql,
    ignore_nulls_sql,
    isodow_sql,
    json_str_sql,
    rows_sql,
    series_sql,
)
from tools.check_correctness import compare
from tools.type_audit import class_mismatches

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


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with every table as a view over `sf_dir`, as
    tools/check_correctness.py registers them."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def duck():
    return _duck(SF_DIR)


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """Zero-row copies of every table (same parquet schemas)."""
    d = tmp_path_factory.mktemp("sf_empty")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"COPY (SELECT * FROM '{SF_DIR}/{t}.parquet' LIMIT 0) "
            f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    return str(d)


def _sql_entries():
    return {n: e for n, e in catalog().items() if e.sql is not None}


def _type_mismatches(spark, duck, e) -> dict:
    rel = duck.sql(e.oracle)
    d_types = dict(zip(rel.columns, (str(x) for x in rel.types)))
    return class_mismatches(dict(e.builder(spark, SF_DIR).dtypes), d_types)


def test_sql_texts_type_classes_agree(spark, duck):
    # one text typed by two engines: each output column must reach the
    # type-sensitive output hash as the same Python class
    # (tools/type_audit.py)
    bad = {n: m for n, e in _sql_entries().items() if (m := _type_mismatches(spark, duck, e))}
    assert not bad, bad


def test_type_class_pin_catches_sum_of_int(spark, duck):
    # DuckDB types SUM(int) as HUGEINT (a Decimal through Arrow), Spark
    # as BIGINT: the unCAST text is the class drift the pin exists for
    e = sql_entry("t", "SELECT SUM(l_linenumber) AS s FROM {lineitem}")
    assert _type_mismatches(spark, duck, e) == {
        "s": {"spark": "bigint", "duck": "HUGEINT",
              "spark_class": "int", "duck_class": "decimal"}
    }


def test_sql_texts_agree_on_empty_tables(spark, empty_sf):
    # zero-row inputs: one-row aggregates over nothing, cross-joined
    # 1-row counts and percentiles of an empty group must come out the
    # same on both engines
    con = _duck(empty_sf)
    bad = {}
    for n, e in _sql_entries().items():
        errs = compare(n, e.builder(spark, empty_sf), con, e.oracle)
        if errs:
            bad[n] = errs
    assert not bad, bad


def _both(spark, spark_sql: str, duck_sql: str) -> tuple[list, list]:
    """Rows of one query on each engine, in order."""
    s_rows = [tuple(r) for r in spark.sql(spark_sql).collect()]
    d_rows = [tuple(r) for r in duckdb.sql(duck_sql).fetchall()]
    return s_rows, d_rows


def _text(gen) -> tuple[str, str]:
    return gen(spark=True), gen(spark=False)


def test_percentile_cont_agrees_on_null_and_empty_groups(spark):
    # a common spelling: Spark's percentile_cont is its exact percentile
    sql = """
    SELECT k, percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS p50,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY x) AS p90
    FROM (VALUES (1, CAST(NULL AS DOUBLE)), (1, NULL),
                 (2, 1.0), (2, NULL), (2, 4.0), (2, 2.5)) AS t(k, x)
    GROUP BY k ORDER BY k
    """
    s, d = _both(spark, sql, sql)
    assert s == d == [(1, None, None), (2, 2.5, 3.7)]
    empty = (
        "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS p "
        "FROM (VALUES (1.0)) AS t(x) WHERE x > 2"
    )
    assert _both(spark, empty, empty) == ([(None,)], [(None,)])


def test_epoch_us_sql_keeps_sub_second_micros(spark):
    s, d = _text(lambda *, spark: (
        f"SELECT {epoch_us_sql('ts', spark=spark)} AS us FROM (VALUES "
        "(TIMESTAMP '2024-03-01 12:34:56.789012'), (TIMESTAMP '1969-12-31 23:59:59.5'), "
        "(CAST(NULL AS TIMESTAMP))) AS t(ts)"
    ))
    rows = _both(spark, s, d)
    assert rows[0] == rows[1] == [(1709296496789012,), (-500000,), (None,)]


def test_json_str_sql_on_missing_key_number_and_null(spark):
    s, d = _text(lambda *, spark: (
        f"SELECT {json_str_sql('j', '$.k', spark=spark)} AS v FROM (VALUES "
        """('{"k": 3}'), ('{"k": 2.5}'), ('{"k": "a b"}'), ('{"x": 1}'), """
        "(CAST(NULL AS STRING))) AS t(j)"
    ))
    rows = _both(spark, s, d)
    assert rows[0] == rows[1] == [("3",), ("2.5",), ("a b",), (None,), (None,)]


def test_ignore_nulls_sql_with_leading_nulls(spark):
    def q(*, spark):
        last = ignore_nulls_sql("last_value", "x", spark=spark)
        first = ignore_nulls_sql("first_value", "x", spark=spark)
        return f"""
        SELECT i, {last} OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
               {first} OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS first_x
        FROM (VALUES (1, CAST(NULL AS DOUBLE)), (2, NULL), (3, 1.5), (4, NULL), (5, 2.0))
          AS t(i, x)
        ORDER BY i
        """

    rows = _both(spark, *_text(q))
    assert rows[0] == rows[1] == [
        (1, None, 1.5), (2, None, 1.5), (3, 1.5, 1.5), (4, 1.5, 1.5), (5, 2.0, 1.5)
    ]


def test_series_sql_on_empty_and_null_ranges(spark):
    # Spark's sequence raises on hi < lo; the generator yields no row
    s, d = _text(lambda *, spark: (
        f"SELECT k, x FROM (SELECT k, {series_sql('lo', 'hi', '400', spark=spark)} AS x "
        "FROM (VALUES (1, 1, 801), (2, 1, 0), (3, 5, 5), (4, 1, NULL)) AS t(k, lo, hi)) "
        "ORDER BY k, x"
    ))
    rows = _both(spark, s, d)
    assert rows[0] == rows[1] == [(1, 1), (1, 401), (1, 801), (3, 5)]


def test_isodow_sql_is_monday_one(spark):
    # 2024-01-01 is a Monday; NULL stays NULL
    s, d = _text(lambda *, spark: (
        f"SELECT CAST({isodow_sql('d', spark=spark)} AS INT) AS w FROM (VALUES "
        + ", ".join(f"(DATE '2024-01-0{i}')" for i in range(1, 8))
        + ", (CAST(NULL AS DATE))) AS t(d)"
    ))
    rows = _both(spark, s, d)
    assert rows[0] == rows[1] == [(i,) for i in range(1, 8)] + [(None,)]


def test_rows_sql_unpivots_one_row_with_nulls(spark):
    rows_spec = [
        {"tag": "'a'", "v": "x", "w": "y"},
        {"tag": "'b'", "v": "y", "w": "x"},
    ]
    s, d = _text(lambda *, spark: (
        f"SELECT {rows_sql(rows_spec, spark=spark)} "
        "FROM (VALUES (CAST(1 AS BIGINT), CAST(NULL AS BIGINT))) AS t(x, y)"
    ))
    rows = _both(spark, s, d)
    assert sorted(rows[0], key=repr) == sorted(rows[1], key=repr) == [
        ("a", 1, None), ("b", None, 1)
    ]
