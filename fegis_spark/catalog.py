"""Query catalog: the driver-facing inventory of implemented operators.

Each entry couples a PySpark plan builder with the ANSI-SQL oracle the
driver runs through DuckDB on the same parquet tables (pre-registered
views: region nation customer supplier part orders lineitem events
documents embeddings). Contract (see __spark_entry__.py):

* builder(spark, sf_dir) -> DataFrame
* oracle: equivalent SQL, or None for non-SQL-expressible ops
  (driver then records a weaker rows-only check)
* column names must match exactly — every computed column is aliased
  identically on both sides.

A relational query is ONE SQL text (``register_sql``): Spark runs it
through ``spark.sql`` over ``load_table`` frames and DuckDB runs the
same text as the oracle, so the two cannot drift. Where the engines
spell a construct differently, use a spelling both accept first
(``max_by``, ``CAST(x AS STRING)``, ``percentile_cont(p) WITHIN GROUP
(ORDER BY x)``, ``CAST(floor(a / b) AS BIGINT)``, ``CAST(date - date AS
BIGINT)`` days, a filtering subquery instead of QUALIFY), and a
``queries/sqlfrag.py`` dialect generator only where none exists:
``ts_sql``, ``epoch_us_sql``, ``json_str_sql``, ``ignore_nulls_sql``,
``series_sql``, ``isodow_sql``, ``rows_sql`` and the portable recipes
(``md5_int_sql``, ``norm_text_sql``, ``tokens_sql``). The text is then
a generator ``lambda *, spark: f"..."``. A query keeps a hand-written
builder (``register``) only when:

* it covers a library operator (its ``covers`` ids name one: the
  dedup/sketch/ANN/media families, ``compile_filters``) — as SQL it
  would stop exercising the operator;
* its oracle asserts literals (e.g. ``TRUE AS within_rel_5pct``) that
  stand in for a value only the builder computes;
* its scale shape is absent from the oracle (a sharded window, a
  bounded-slice aggregate, in-row pair generation, a persist, a
  pandas UDF) — the oracle is the naive form the builder avoids;
* its SQL text measured slower in an A/B (evidence/sql_text_ab_r11.json
  and evidence/sql_text_ab_r12.json list each kept builder and why).

Determinism rules applied throughout (SURVEY.md §7.4):
* double aggregates go through DECIMAL(38,10) on both sides, then cast
  back to DOUBLE — exact, order-independent, hash-stable;
* every top-k has a total-order tiebreaker;
* per-row double outputs are rounded to 6 dp on both sides;
* timestamps compare in UTC (session.configure_for_oracle).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from string import Formatter

from pyspark.sql import DataFrame, SparkSession

from fegis_spark.model import TABLES, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
#: a query's SQL text, or a generator of it: ``sql(spark=True)`` is the
#: Spark spelling, ``sql(spark=False)`` the DuckDB one
SqlText = str | Callable[..., str]


@dataclass
class CatalogEntry:
    name: str
    builder: QueryFn
    oracle: str | None
    #: SURVEY.md §2 operator ids this query exercises (judge cross-ref).
    covers: tuple[str, ...] = field(default=())
    #: queries included in bench.py's headline set
    bench: bool = False
    #: the Spark-run SQL text (table placeholders unfilled) of a
    #: register_sql entry; None for a hand-written builder
    sql: str | None = None


_REGISTRY: dict[str, CatalogEntry] = {}


def _add(entry: CatalogEntry) -> None:
    if entry.name in _REGISTRY:
        raise ValueError(f"duplicate catalog entry: {entry.name}")
    _REGISTRY[entry.name] = entry


def register(
    name: str,
    oracle: str | None,
    covers: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        _add(CatalogEntry(name, fn, oracle, covers, bench))
        return fn

    return deco


def sql_entry(
    name: str, sql: SqlText, covers: tuple[str, ...] = (), bench: bool = False
) -> CatalogEntry:
    """The catalog entry of a query written once as SQL.

    `sql` names each base table as a ``{lineitem}``-style placeholder
    at table positions only (a column or alias that happens to equal a
    table name stays plain text). The builder fills the placeholders
    with ``load_table`` frames, so the table memo and the events.ts
    read apply; pyspark registers each frame as a temp view for the
    one ``spark.sql`` call and drops it again. The oracle fills them
    with the bare table names the driver registers in DuckDB."""
    text = sql if callable(sql) else lambda *, spark: sql
    spark_sql, duck_sql = text(spark=True), text(spark=False)
    tables = sorted({f for _, f, _, _ in Formatter().parse(spark_sql) if f is not None})
    if not set(tables) <= set(TABLES):
        raise ValueError(f"{name}: placeholders {tables} must name tables {TABLES}")

    def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(spark_sql, **{t: load_table(spark, sf_dir, t) for t in tables})

    builder.__name__ = builder.__qualname__ = name
    oracle = duck_sql.format(**{t: t for t in TABLES})
    return CatalogEntry(name, builder, oracle, covers, bench, spark_sql)


def register_sql(
    name: str, sql: SqlText, covers: tuple[str, ...] = (), bench: bool = False
) -> None:
    """Register a query whose Spark builder and DuckDB oracle are one
    SQL text (see sql_entry)."""
    _add(sql_entry(name, sql, covers, bench))


def catalog() -> dict[str, CatalogEntry]:
    _load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: e.builder for name, e in catalog().items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in catalog().items() if e.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers catalog entries."""
    global _LOADED
    if _LOADED:
        return
    from fegis_spark.queries import (  # noqa: F401
        aggregates,
        bitext_q,
        dedup,
        filters_q,
        importance_q,
        joins,
        lineage_q,
        media_q,
        pipeline_q,
        ranking_q,
        search_q,
        stream_q,
        text_q,
        textstats_q,
        tpch_q,
        vector_q,
    )

    _LOADED = True
