"""Each portable recipe is spelled once: the md5 integer hash and the
normalized text live only in their generators (queries/sqlfrag.py
md5_int_sql and norm_text_sql, each returning the Spark-SQL or the
DuckDB spelling). A hand-written copy anywhere else in fegis_spark/ —
SQL string or Spark Column chain — fails here. Static text scan,
whitespace- and line-break-tolerant, session-free."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
GENERATORS = ROOT / "fegis_spark" / "queries" / "sqlfrag.py"
SOURCES = sorted(p for p in (ROOT / "fegis_spark").rglob("*.py") if p != GENERATORS)


def _spelling(*parts: str) -> re.Pattern:
    """`parts` in order, any whitespace (line breaks included) between."""
    return re.compile(r"\s*".join(re.escape(p) for p in parts))


RECIPES = {
    "md5 integer hash (sqlfrag.md5_int_sql)": [
        _spelling("conv(", "substring(", "md5("),
        _spelling("F.conv(", "F.substring(", "F.md5("),
        _spelling("'0x'", "||", "substr(", "md5("),
    ],
    "normalized text (sqlfrag.norm_text_sql)": [
        _spelling("lower(", "trim(", "regexp_replace("),
        _spelling("F.lower(", "F.trim(", "F.regexp_replace("),
    ],
}


def _copies(path: Path, root: Path = ROOT) -> list[str]:
    text = path.read_text()
    return [
        f"{path.relative_to(root)}:{text.count(chr(10), 0, m.start()) + 1}: {recipe}"
        for recipe, spellings in RECIPES.items()
        for pat in spellings
        for m in pat.finditer(text)
    ]


def test_scan_sees_broken_lines(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "h = F.conv(\n    F.substring(F.md5(c), 1, 8), 16, 10)\n"
        "d = f\"\"\"CAST(('0x' ||\n substr( md5(c), 1, 8)) AS BIGINT)\"\"\"\n"
        "n = F.lower(F.trim(\n F.regexp_replace(c, ' ', ' ')))\n"
        "ok = F.lower(c)\n"
    )
    assert _copies(src, tmp_path) == [
        "m.py:1: md5 integer hash (sqlfrag.md5_int_sql)",
        "m.py:3: md5 integer hash (sqlfrag.md5_int_sql)",
        "m.py:5: normalized text (sqlfrag.norm_text_sql)",
    ]


def test_recipes_are_spelled_only_by_their_generators():
    assert [c for p in SOURCES for c in _copies(p)] == []
    # the generators themselves do spell them (the scan is not vacuous)
    assert {c.rsplit(": ", 1)[1] for c in _copies(GENERATORS)} == set(RECIPES)
