"""Typed-schema parity audit: Spark dtypes vs DuckDB oracle types.

The driver's value hash is type-sensitive at the *Python class* level
(the r7 `quantize_embeddings` FAIL: DuckDB HUGEINT reaches the hash as
Arrow decimal128(38,0) → Decimal, which can never equal Spark's BIGINT
int even when the values match). This tool compares, for every
oracle-checked catalog query, the hash-relevant TYPE CLASS of each
output column on both engines — Spark from `df.dtypes` (plan-only, no
job), DuckDB from relation binding (no execution) — and writes the full
matrix to evidence/oracle_types_r<N>.json.

Class space (what each engine's cell becomes in Python/Arrow):
  int     tinyint/smallint/int/bigint (+ unsigned)     → Python int
  decimal DECIMAL(p,s), HUGEINT/UHUGEINT (→ dec128)    → Decimal
  float   float/real/double                            → Python float
  bool / str / date / timestamp (tz-normalized) / binary
  list<class> recurses on the element.

Exit 1 on any class mismatch. Usage:
  python tools/type_audit.py [--sf DIR] [--out FILE] [name ...]
"""

from __future__ import annotations

import argparse
import json
import re
import sys

import duckdb

sys.path.insert(0, "/root/repo")

from fegis_spark.catalog import catalog  # noqa: E402
from fegis_spark.model import TABLES  # noqa: E402
from fegis_spark.session import configure_for_oracle, get_spark  # noqa: E402

_INTS = {
    "tinyint", "smallint", "int", "integer", "bigint",
    "utinyint", "usmallint", "uinteger", "ubigint",
}
_FLOATS = {"float", "real", "double"}


def _class_of(t: str) -> str:
    """Map a Spark dtype string or DuckDB type string to the Python
    class the driver's hash sees."""
    t = t.strip().lower()
    m = re.fullmatch(r"(?:array<(.*)>|(.*)\[\])", t)
    if m:
        inner = m.group(1) if m.group(1) is not None else m.group(2)
        return f"list<{_class_of(inner)}>"
    if t.startswith("struct<") or t.startswith("struct("):
        return "struct"
    if t.startswith("map<") or t.startswith("map("):
        return "map"
    if t in _INTS:
        return "int"
    if t in ("hugeint", "uhugeint") or t.startswith("decimal"):
        return "decimal"
    if t in _FLOATS:
        return "float"
    if t in ("boolean", "bool"):
        return "bool"
    if t in ("string", "varchar", "text", "char"):
        return "str"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "timestamp"
    if t in ("binary", "blob"):
        return "binary"
    return t  # unknown: compare raw, a mismatch will surface it


def class_mismatches(s_types: dict[str, str], d_types: dict[str, str]) -> dict:
    """Per output column whose type class differs between the Spark
    dtypes and the DuckDB types (a column missing on one side counts):
    both types and both classes."""
    bad = {}
    for c in sorted(set(s_types) | set(d_types)):
        sc = _class_of(s_types.get(c, "<missing>"))
        dc = _class_of(d_types.get(c, "<missing>"))
        if sc != dc:
            bad[c] = {"spark": s_types.get(c), "duck": d_types.get(c),
                      "spark_class": sc, "duck_class": dc}
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None, help="write the JSON matrix here")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    spark = configure_for_oracle(get_spark("type_audit"))
    entries = catalog()
    names = args.names or list(entries)
    matrix: dict[str, dict] = {}
    n_mismatch = n_checked = n_rowsonly = 0
    for name in names:
        e = entries[name]
        if e.oracle is None:
            n_rowsonly += 1
            matrix[name] = {"rows_only": True}
            continue
        try:
            s_types = dict(e.builder(spark, args.sf).dtypes)
            rel = con.sql(e.oracle)
            d_types = dict(zip(rel.columns, (str(x) for x in rel.types)))
        except Exception as ex:  # noqa: BLE001
            n_mismatch += 1
            matrix[name] = {"error": f"{type(ex).__name__}: {str(ex)[:160]}"}
            print(f"ERROR {name}: {matrix[name]['error']}")
            continue
        n_checked += 1
        bad = class_mismatches(s_types, d_types)
        matrix[name] = {
            "spark": s_types,
            "duck": d_types,
            "mismatches": bad,
        }
        if bad:
            n_mismatch += 1
            print(f"MISMATCH {name}: {bad}")
    summary = {
        "sf": args.sf,
        "checked": n_checked,
        "rows_only": n_rowsonly,
        "mismatched": n_mismatch,
    }
    print(json.dumps(summary))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "queries": matrix}, f, indent=1,
                      sort_keys=True)
    return 1 if n_mismatch else 0


if __name__ == "__main__":
    raise SystemExit(main())
