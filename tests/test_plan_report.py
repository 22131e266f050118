"""tools/plan_report.report tags a plan that is only a literal frame
`eager` (its all-zero PLANS.md row says nothing of the work the builder
ran) and leaves a plan that reads parquet untagged, also when it joins a
literal."""

from __future__ import annotations

import importlib.util
import io
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _report():
    spec = importlib.util.spec_from_file_location(
        "plan_report", ROOT / "tools" / "plan_report.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.report


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_literal_plan_is_eager_and_parquet_plan_is_not(spark, tmp_path):
    report = _report()
    literal = spark.sql(
        "SELECT CAST(id AS BIGINT) AS id, CAST(s AS DOUBLE) AS s"
        " FROM VALUES (1, 0.5), (2, 0.25) AS t(id, s)"
    )
    r = report(_formatted(literal))
    assert r["eager"] == 1 and r["checkpointed"] == 0
    assert r["scans"] == 0 and r["exchanges"] == 0

    path = str(tmp_path / "t.parquet")
    spark.range(4).selectExpr("id", "id * 2 AS v").write.parquet(path)
    parquet = spark.read.parquet(path)
    for df in (parquet, parquet.join(literal, "id")):
        r = report(_formatted(df))
        # formatted mode names each scan twice (tree and detail block)
        assert r["scans"] == 2
        assert r["eager"] == 0 and r["checkpointed"] == 0
