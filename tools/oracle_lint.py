"""Determinism linter for catalog oracles (CLAUDE.md rules, mechanized).

The pack_sequences_sharded episode (rounds 1-2: green locally, red in
the driver environment) was a float-formatting divergence that a
static scan would have caught. This tool walks every registered
catalog entry and flags the patterns that produce engine- or
environment-dependent values:

  R1  rand()/random()/now()/current_* /uuid() in an oracle (or Spark
      monotonically_increasing_id in a builder) — nondeterministic.
  R2  Spark-only hashes (xxhash64/hash(...)) in an ORACLE-CHECKED
      query's SQL — only md5 is portable.
  R3  SUM over a DOUBLE expression without the DECIMAL(38,x) transit —
      partition-order-dependent fp association.
  R4  DECIMAL * DECIMAL — DuckDB and Spark widen products differently.
  R5  a top-k (ORDER BY ... LIMIT) whose ORDER BY has a single key —
      no total-order tiebreak.
  R6  round(<decimal-transit SUM> / COUNT, 6) — a rounded mean of
      6dp-grid values can land EXACTLY on a .5e-6 midpoint where the
      engines' rounding tie-breaks diverge (hit in text_kn_logprob r5
      and dsir_importance r7). Emit the decimal-exact SUM + count.
      Also flags round(<integer-count SUM> / COUNT) — the same
      midpoint class for count ratios (r8, per advisor). Scanned both
      per-line AND over a whitespace-collapsed form so multi-line
      formatting can't defeat the rule.
  R7  oracle output column typed HUGEINT/UHUGEINT — DuckDB widens
      integer SUM / list_aggregate('sum') to INT128, which reaches the
      driver's type-sensitive value hash as Arrow decimal128(38,0)
      and can NEVER match Spark's BIGINT even when values are equal
      (the r7 quantize_embeddings driver FAIL). Detected by BINDING
      each oracle in DuckDB (no execution) and inspecting result
      types. Fix: CAST(... AS BIGINT) at the output site.
  R8  native ln()/log()/exp()/pow() in an oracle — Spark's Math.log
      intrinsic is 1 ulp off glibc/DuckDB on ~2.5% of inputs
      (evidence/ln_ulp_probe_r8.json), and exp/pow are likewise not
      correctly-rounded. Use sqlfrag.portable_ln (bit-identical by
      construction); log2 is allowed ONLY inside portable_ln's
      expansion (its 1-ulp noise is clamped by the exact power-of-2
      comparisons). sqrt is IEEE-exact and fine.

Heuristic (regex over SQL text), so false positives are possible:
suppress a finding by adding `-- lint: allow RN` on the same line
(R6-collapsed and R7 accept the marker anywhere in the query).
Exit 1 on any unsuppressed finding; run in CI next to the gate.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fegis_spark.catalog import catalog  # noqa: E402

NONDET = re.compile(r"\b(rand|random|now|uuid|gen_random_uuid)\s*\(", re.I)
CURRENT = re.compile(r"\bcurrent_(date|time|timestamp)\b", re.I)
SPARK_HASH = re.compile(r"\b(xxhash64|hash)\s*\(", re.I)
DOUBLE_SUM = re.compile(
    r"\bSUM\s*\(\s*(?![^)]*DECIMAL)[^)]*(?:::\s*DOUBLE|AS\s+DOUBLE|[0-9]\.[0-9])",
    re.I,
)
DEC_MUL = re.compile(r"DECIMAL\s*\([^)]*\)\s*\)?\s*\*", re.I)
ROUNDED_MEAN = re.compile(
    r"round\s*\(.*SUM\s*\(\s*CAST[^)]*DECIMAL[^/]*/\s*COUNT", re.I
)
# collapsed-text forms (span-capped so unrelated round()/SUM()/COUNT()
# pairs far apart in a big query don't cross-match):
ROUNDED_MEAN_ANYFMT = re.compile(
    r"round\s*\([^;]{0,200}?SUM\s*\(\s*CAST[^)]*DECIMAL[^/]{0,200}?/\s*[^,;]{0,80}?COUNT",
    re.I,
)
ROUNDED_COUNT_RATIO = re.compile(
    r"round\s*\([^;]{0,160}?SUM\s*\(\s*CASE[^;]{0,160}?/\s*[^,;]{0,80}?COUNT",
    re.I,
)
ALLOW = re.compile(r"--\s*lint:\s*allow\s+(R\d)")
# R8: native transcendentals (ln/log/exp/pow) — log2 excluded via the
# negative lookahead (portable_ln's internal exponent probe, clamped
# exact). The power() exemption is scoped to EXACTLY the forms
# portable_ln emits (power(2.0e0, pl_e<N> [+ 1.0e0]) — let-bound
# integer-valued exponents) plus integer-literal exponents: only
# exact powers of two at integer exponents were probed bit-exact, so
# a future power(2.0e0, <arbitrary expr>) must NOT ride the exemption
# (pow is not correctly-rounded cross-engine — r8 ADVICE).
NATIVE_TRANSCENDENTAL = re.compile(
    r"(?<![\w.])(ln|log(?!2)|log10|exp)\s*\("
    r"|(?<![\w.])pow(?:er)?\s*\(\s*"
    r"(?!2\.0e0\s*,\s*(?:pl_e\d+(?:\s*\+\s*1\.0e0)?|-?\d+(?:\.0e0)?)\s*\))",
    re.I,
)


def _allowed(text: str, rule: str) -> bool:
    # every marker counts, so one line can suppress two different rules
    return rule in ALLOW.findall(text)


def _topk_clauses(sql: str):
    """Yield the sort-key text of every ORDER BY that directly feeds a
    LIMIT. Paren-aware: a `)` at depth 0 closes the subquery (that ORDER
    BY has no LIMIT), and parenthesized keys like round(x, 6) don't end
    the scan the way a [^)]+? regex would."""
    for m in re.finditer(r"ORDER\s+BY", sql, re.I):
        i = j = m.end()
        depth = 0
        while j < len(sql):
            c = sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif (
                depth == 0
                and sql[j : j + 5].upper() == "LIMIT"
                and not sql[j - 1].isalnum()
            ):
                # context = the lines the clause spans, plus the one
                # before and after, so allow-markers work like the
                # line-scanned rules
                lo = sql.rfind("\n", 0, m.start())
                lo = sql.rfind("\n", 0, lo) if lo != -1 else -1
                hi = sql.find("\n", j)
                yield sql[i:j], sql[lo + 1 : hi if hi != -1 else len(sql)]
                break
            j += 1


def _split_depth0(clause: str) -> list[str]:
    keys, depth, cur = [], 0, ""
    for c in clause:
        depth += c == "("
        depth -= c == ")"
        if c == "," and depth == 0:
            keys.append(cur)
            cur = ""
        else:
            cur += c
    keys.append(cur)
    return [k for k in keys if k.strip()]


def lint_sql(name: str, sql: str) -> list[str]:
    findings = []
    lines = sql.splitlines()
    for i, ln in enumerate(lines):
        prev = lines[i - 1] if i else ""
        for rule, rx in (("R1", NONDET), ("R1", CURRENT), ("R2", SPARK_HASH),
                         ("R3", DOUBLE_SUM), ("R4", DEC_MUL),
                         ("R6", ROUNDED_MEAN)):
            # an allow-marker suppresses on its own line or the next
            # (comma-joined SQL fragments can't carry trailing comments)
            if rx.search(ln) and not (_allowed(ln, rule) or _allowed(prev, rule)):
                findings.append(f"{name}: {rule} `{ln.strip()[:90]}`")
    # R5: single-key ORDER BY feeding a LIMIT
    for clause, ctx in _topk_clauses(sql):
        if len(_split_depth0(clause)) < 2 and not _allowed(ctx, "R5"):
            findings.append(f"{name}: R5 top-k with single-key ORDER BY (no tiebreak)")
    # R8: native transcendentals anywhere in the oracle (collapsed
    # scan — comments stripped so docs mentioning ln() don't fire)
    if not _allowed(sql, "R8"):
        stripped = re.sub(r"--[^\n]*", "", sql)
        m = NATIVE_TRANSCENDENTAL.search(stripped)
        if m:
            findings.append(
                f"{name}: R8 native transcendental `{m.group(0).strip()}` — "
                "use sqlfrag.portable_ln (bit-identical cross-engine)"
            )
    # R6 over a whitespace-collapsed form: a rounded mean formatted
    # across lines escapes the per-line regex (advisor r7 finding).
    # Only fires when the per-line pass found nothing, and an allow
    # marker anywhere in the query suppresses it (line position is
    # meaningless after collapsing).
    if not any(" R6 " in f for f in findings) and not _allowed(sql, "R6"):
        collapsed = re.sub(r"--[^\n]*", "", sql)  # drop comments first
        collapsed = re.sub(r"\s+", " ", collapsed)
        for rx, what in (
            (ROUNDED_MEAN_ANYFMT, "rounded decimal-transit mean"),
            (ROUNDED_COUNT_RATIO, "rounded integer-count ratio"),
        ):
            m = rx.search(collapsed)
            if m:
                findings.append(
                    f"{name}: R6 {what} (collapsed scan) `{m.group(0)[:90]}`"
                )
    return findings


def typed_findings(entries, sf: str = "/root/testdata/sf0.001") -> list[str]:
    """R7: bind every oracle in DuckDB (no execution) and flag output
    columns typed HUGEINT/UHUGEINT — they reach the driver's
    type-sensitive hash as Arrow decimal128(38,0) and can never match
    Spark's BIGINT (the r7 quantize_embeddings driver FAIL)."""
    import duckdb

    from fegis_spark.model import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = []
    for name, e in sorted(entries.items()):
        if e.oracle is None or _allowed(e.oracle, "R7"):
            continue
        try:
            rel = con.sql(e.oracle)
            cols, types = rel.columns, [str(t).upper() for t in rel.types]
        except Exception as ex:  # noqa: BLE001
            out.append(f"{name}: R7 oracle bind error {type(ex).__name__}: {str(ex)[:90]}")
            continue
        for col, ty in zip(cols, types):
            if "HUGEINT" in ty:
                out.append(
                    f"{name}: R7 oracle output `{col}` typed {ty} — cast to BIGINT"
                )
    return out


def catalog_findings() -> list[str]:
    """Every unsuppressed finding over the whole catalog."""
    findings: list[str] = []
    entries = catalog()
    findings.extend(typed_findings(entries))
    for name, e in sorted(entries.items()):
        if e.oracle is not None:
            findings.extend(lint_sql(name, e.oracle))
        # builder-side nondeterminism: source-level scan
        import inspect

        try:
            src = inspect.getsource(e.builder)
        except OSError:
            continue
        for rule, rx in (
            ("R1", re.compile(r"monotonically_increasing_id|F\.rand\(|current_timestamp")),
        ):
            for ln in src.splitlines():
                s = ln.strip()
                if s.startswith("#") or '"""' in s:  # comments/docstrings
                    continue
                if rx.search(ln) and "lint: allow" not in ln:
                    findings.append(f"{name}: {rule} (builder) `{s[:90]}`")
        if e.oracle is not None:
            for ln in src.splitlines():
                if re.search(r"F\.(xxhash64|hash)\(", ln) and "lint: allow" not in ln:
                    findings.append(
                        f"{name}: R2 (builder of oracle-checked query) `{ln.strip()[:90]}`"
                    )
    return findings


def main() -> int:
    findings = catalog_findings()
    for f in findings:
        print("LINT", f)
    print(f"{len(findings)} finding(s) over {len(catalog())} catalog entries")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
