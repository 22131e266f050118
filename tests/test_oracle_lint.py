"""Unit tests for the oracle determinism linter — the linter guards the
driver contract, so its rules get pinned too."""

from __future__ import annotations

from tools.oracle_lint import lint_sql


def test_flags_nondeterminism():
    assert lint_sql("q", "SELECT rand() AS x FROM t")
    assert lint_sql("q", "SELECT now() FROM t")
    assert lint_sql("q", "SELECT current_timestamp FROM t")


def test_flags_spark_only_hash():
    assert lint_sql("q", "SELECT xxhash64(c) FROM t")
    assert not lint_sql("q", "SELECT md5(c) FROM t")


def test_flags_unprotected_double_sum_but_not_decimal_transit():
    assert lint_sql("q", "SELECT SUM(x * 1.5) FROM t")
    assert not lint_sql(
        "q", "SELECT CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) FROM t"
    )


def test_flags_decimal_product():
    assert lint_sql("q", "SELECT CAST(a AS DECIMAL(38,6)) * CAST(b AS DECIMAL(38,6)) FROM t")


def test_flags_single_key_topk_but_not_tiebroken():
    assert lint_sql("q", "SELECT * FROM t ORDER BY score LIMIT 5")
    assert not lint_sql("q", "SELECT * FROM t ORDER BY score DESC, id LIMIT 5")


def test_allow_marker_suppresses_same_and_previous_line():
    assert not lint_sql("q", "SELECT SUM(x * 1.5) FROM t -- lint: allow R3")
    assert not lint_sql(
        "q", "-- lint: allow R3 (reason)\nSUM(CASE WHEN a THEN 1.0 ELSE 0.0 END) AS s"
    )


def test_two_markers_on_one_line_suppress_both_rules():
    sql = "SELECT SUM(xxhash64(c) * 1.5) FROM t -- lint: allow R2 -- lint: allow R3"
    assert not lint_sql("q", sql)


def test_topk_with_parenthesized_sort_key():
    # pre-fix the [^)]+? regex silently skipped any paren-bearing key
    assert lint_sql("q", "SELECT * FROM t ORDER BY round(x, 6) LIMIT 5")
    assert not lint_sql("q", "SELECT * FROM t ORDER BY round(x, 6), id LIMIT 5")
    assert not lint_sql(
        "q", "SELECT * FROM t ORDER BY round(x, 6) LIMIT 5 -- lint: allow R5"
    )


def test_subquery_order_by_without_limit_not_flagged():
    sql = "SELECT * FROM (SELECT a FROM t ORDER BY a) q JOIN u ON q.a = u.a LIMIT 3"
    # the inner ORDER BY closes before any LIMIT; the outer LIMIT has no
    # ORDER BY at all — neither is a top-k
    assert not lint_sql("q", sql)


def test_r6_collapsed_scan_catches_multiline_rounded_mean():
    # a rounded decimal-transit mean split across lines escapes the
    # per-line regex; the collapsed pass must still flag it (r7 advisor)
    sql = (
        "SELECT round(\n"
        "  CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE)\n"
        "  / COUNT(*), 6) AS m FROM t GROUP BY g"
    )
    assert any("R6" in f for f in lint_sql("q", sql))
    # allow marker anywhere in the query suppresses the collapsed pass
    assert not lint_sql("q", sql + " -- lint: allow R6 (reason)")


def test_r6_collapsed_scan_catches_rounded_count_ratio():
    sql = (
        "SELECT round(\n"
        "  SUM(CASE WHEN bad THEN 1 ELSE 0 END)\n"
        "  / CAST(COUNT(*) AS DOUBLE), 6) AS rate FROM t GROUP BY g"
    )
    assert any("R6" in f for f in lint_sql("q", sql))


def test_r6_unrounded_ratio_not_flagged():
    sql = (
        "SELECT CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)"
        " AS m FROM t GROUP BY g"
    )
    assert not lint_sql("q", sql)


def test_r7_flags_widened_integer_sum():
    # DuckDB widens SUM(int) to HUGEINT -> Arrow decimal128(38,0),
    # which the driver's type-sensitive hash can never match against
    # Spark's BIGINT (the r7 quantize_embeddings driver FAIL)
    from types import SimpleNamespace

    from tools.oracle_lint import typed_findings

    bad = {"fx": SimpleNamespace(oracle="SELECT SUM(n_chars) AS s FROM documents")}
    out = typed_findings(bad)
    assert out and "R7" in out[0] and "HUGEINT" in out[0]

    good = {
        "fx": SimpleNamespace(
            oracle="SELECT CAST(SUM(n_chars) AS BIGINT) AS s FROM documents"
        )
    }
    assert not typed_findings(good)

    allowed = {
        "fx": SimpleNamespace(
            oracle="SELECT SUM(n_chars) AS s FROM documents -- lint: allow R7"
        )
    }
    assert not typed_findings(allowed)


def test_type_audit_class_mapping():
    """The typed-schema audit's class map must fold engine spellings to
    the Python classes the driver's hash sees — int widths together,
    HUGEINT with DECIMAL (Arrow decimal128), array forms recursing."""
    from tools.type_audit import _class_of

    assert _class_of("bigint") == _class_of("INTEGER") == "int"
    assert _class_of("HUGEINT") == _class_of("DECIMAL(38,6)") == "decimal"
    assert _class_of("decimal(38,6)") == "decimal"
    assert _class_of("double") == _class_of("FLOAT") == "float"
    assert _class_of("string") == _class_of("VARCHAR") == "str"
    assert _class_of("timestamp_ntz") == _class_of("TIMESTAMP") == "timestamp"
    assert _class_of("array<double>") == _class_of("DOUBLE[]") == "list<float>"
    assert _class_of("array<bigint>") == "list<int>"
    assert _class_of("BIGINT[]") == "list<int>"
    assert _class_of("boolean") == _class_of("BOOLEAN") == "bool"


def test_r8_flags_native_transcendentals_but_not_portable_ln():
    from fegis_spark.queries.sqlfrag import portable_ln

    assert any("R8" in f for f in lint_sql("q", "SELECT ln(x) FROM t"))
    assert any("R8" in f for f in lint_sql("q", "SELECT exp(x) FROM t"))
    assert any("R8" in f for f in lint_sql("q", "SELECT pow(x, 2) FROM t"))
    assert any("R8" in f for f in lint_sql("q", "SELECT power(x, 0.5) FROM t"))
    # portable_ln's expansion (log2 + power-of-two probes) must not fire
    assert not lint_sql("q", f"SELECT {portable_ln('x')} AS v FROM t")
    # r9 (r8 ADVICE): the power(2.0e0, ...) exemption is scoped to
    # portable_ln's emitted forms and integer literals — an arbitrary
    # (possibly non-integer) exponent must fire even with base 2.0e0
    assert any("R8" in f for f in lint_sql("q", "SELECT power(2.0e0, y) FROM t"))
    assert any(
        "R8" in f for f in lint_sql("q", "SELECT power(2.0e0, x / 3.0) FROM t")
    )
    assert not lint_sql("q", "SELECT power(2.0e0, pl_e0) AS v FROM t")
    assert not lint_sql("q", "SELECT power(2.0e0, pl_e0 + 1.0e0) AS v FROM t")
    assert not lint_sql("q", "SELECT power(2.0e0, -12) AS v FROM t")
    # sqrt is IEEE-exact and allowed
    assert not lint_sql("q", "SELECT sqrt(x) FROM t")
    # comments mentioning ln() must not fire
    assert not lint_sql("q", "SELECT x FROM t -- uses ln() upstream")
    assert not lint_sql("q", "SELECT ln(x) FROM t -- lint: allow R8 (reason)")


def test_catalog_has_no_findings():
    """The full lint over every catalog oracle (DuckDB-bound R7
    included) is clean (tools/verify_all.sh runs the same scan)."""
    from tools.oracle_lint import catalog_findings

    findings = catalog_findings()
    assert findings == [], "\n".join(findings)
