#!/usr/bin/env python
"""Broadcast-hint + global-window audit (r9 verdict #1/#3, mechanized).

An explicit ``F.broadcast()`` hint takes PRECEDENCE over AQE's size
logic: Spark attempts the broadcast regardless of runtime statistics
and fails hard at the 8 GB / 512M-row limit. So a raw hint is only
safe when the side is provably bounded — and "provably" must be
visible at the call site, not tribal knowledge. This tool enforces the
repo invariant (SCALE.md "Broadcast discipline"):

  * every raw ``F.broadcast(`` call in fegis_spark/ must carry a
    ``# bcast-ok: <bound>`` marker naming the structural bound
    (1-row agg, 25 nations, k-row panel, caller-gated flag, ...) on
    the same line or in the contiguous comment block above it;
  * sides whose size scales with the corpus (base TPC-H tables,
    vocab/drop-set/degree tables, CDC batches constructed from the
    corpus) must NOT use a raw hint at all — they go through
    ``model.maybe_broadcast(df, table_bytes(sf_dir, t))``, which
    applies the hint only under BROADCAST_GATE_BYTES and otherwise
    leaves the strategy to AQE.

It also audits the other unbounded-plan hazard class: a GLOBAL window
(``Window.orderBy(`` with no partitionBy) funnels its whole input
through ONE task. Every such site must be over a bounded DERIVED table
(deciles, buckets, days, top-k slices) and must say so with a
``# window-ok: <bound>`` marker; a corpus-scaled input reaching one
would be a single-task bottleneck at 100 TB.

r11 additions (r10 verdict #1/#3, mechanized):

  * every ``.crossJoin(`` site must carry a ``# bcast-ok: <bound>``
    marker (same line, contiguous comment block above, or inside the
    call's argument span) — a crossJoin is a cartesian product; its
    non-corpus side must be a 1-row agg or a structurally bounded
    panel, and the site must say which;
  * every candidate-pair GENERATOR call (the ``bucket_pairs`` emitter,
    ``banded_candidate_pairs`` and the named near-dup wrappers) must either pass an explicit non-None
    ``max_bucket_size=`` cap or carry a ``# band-ok: <keyspace bound>``
    marker. This closes the class the r10 64x probe caught: a
    fixed-width band family (SRP: 4x2^8 buckets, SimHash: 4x2^15)
    saturates linearly with corpus size, making the uncapped band
    self-join QUADRATIC — md5/xxhash band families (2^60+ keyspace)
    may declare that bound instead of capping. Manual bucket
    self-joins (the ``alias("l")`` pattern) need the same marker.

r12 addition (r11 verdict #2, mechanized — resolved by measurement,
evidence/topk_ab_r12.json):

  * every ``Window.partitionBy(`` site must state its scale posture
    with one of two markers:
      - ``# grpwin-ok: <scaling argument>`` — the partition key's
        cardinality scales with the input (per-doc, per-user,
        per-bucket windows): no funnel because task count grows with
        the data;
      - ``# panel-ok: <mechanism or bound>`` — the partition key is a
        BOUNDED panel (1-100 query ids, strategy names, ...); the
        marker must name why this is not a <= |panel|-task funnel:
        either the window input is itself bounded (probe lists,
        shortlists), or the plan gets WindowGroupLimit(Partial) below
        the exchange (row_number + immediate filter — pinned in
        tests/test_plans.py). A bounded-panel window whose input is
        corpus-proportional and whose filter the group-limit rule
        cannot cover (e.g. bounding TWO rank columns at once) must be
        rewritten as the single-pass bounded-slice aggregation
        (grouped_topk / ann_pq_recall_audit pattern) instead.

The window and hint rules also bind the Spark-run SQL text of every
``register_sql`` catalog entry (its ``sql``), with the markers as SQL
``--`` comments on the clause's line or in the comment block directly
above it:

  * ``OVER (PARTITION BY`` needs ``-- grpwin-ok:`` or ``-- panel-ok:``;
  * ``OVER (ORDER BY`` (no partition clause) needs ``-- window-ok:``;
  * a ``/*+ BROADCAST`` hint needs ``-- bcast-ok:``.

Like oracle_lint, this is a static text scan: it cannot prove the
marker's claim, but it guarantees every hint site states its bound for
review, and any new unmarked hint fails CI. Exit 1 on findings.
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "fegis_spark"
sys.path.insert(0, str(ROOT))

CALL = re.compile(r"F\.broadcast\(")
MARKER = re.compile(r"#\s*bcast-ok:\s*\S")
GLOBAL_WINDOW = re.compile(r"\bWindow\.orderBy\(")
WINDOW_MARKER = re.compile(r"#\s*window-ok:\s*\S")
PART_WINDOW = re.compile(r"\bWindow\.partitionBy\(")
#: either marker satisfies the partitioned-window rule
PART_WINDOW_MARKER = re.compile(r"#\s*(?:grpwin-ok|panel-ok):\s*\S")
CROSSJOIN = re.compile(r"\.crossJoin\(")
BAND_MARKER = re.compile(r"#\s*band-ok:\s*\S")
#: candidate-pair generators: a call must cap (non-None
#: max_bucket_size=) or carry a # band-ok: <keyspace bound> marker
PAIR_GENERATORS = re.compile(
    r"\b(bucket_pairs|banded_candidate_pairs|minhash_lsh_pairs|simhash_pairs"
    r"|ngram_jaccard_pairs|embedding_neardup_pairs"
    r"|embedding_neardup_pairs_lsh"
    r"|minhash_incremental_pairs_portable"
    r"|minhash_incremental_pairs_precomputed)\("
)
MANUAL_SELF_JOIN = re.compile(r"\.alias\(\"l\"\)")
CAP_ARG = re.compile(r"max_bucket_size\s*=\s*(?!None\b)\S")
#: the same rules over a register_sql text: (clause, marker, what to say)
SQL_RULES = (
    (
        # OVER (PARTITION BY ..., or a named window: WINDOW w AS (PARTITION BY
        re.compile(r"\b(?:OVER|AS)\s*\(\s*PARTITION\s+BY\b", re.I),
        re.compile(r"--\s*(?:grpwin-ok|panel-ok):\s*\S"),
        "partitioned window without a '-- grpwin-ok: <scaling arg>' or "
        "'-- panel-ok: <mechanism/bound>' marker",
        "pwindows",
    ),
    (
        re.compile(r"\b(?:OVER|AS)\s*\(\s*ORDER\s+BY\b", re.I),
        re.compile(r"--\s*window-ok:\s*\S"),
        "global window (OVER (ORDER BY with no PARTITION BY) without a "
        "'-- window-ok: <bound>' marker",
        "windows",
    ),
    (
        re.compile(r"/\*\+\s*BROADCAST", re.I),
        re.compile(r"--\s*bcast-ok:\s*\S"),
        "BROADCAST hint without a '-- bcast-ok: <bound>' marker",
        "raw",
    ),
)
#: how far above a contiguous comment block may start
MAX_COMMENT_BLOCK = 8
#: how many lines a multi-line call's argument span may cover
MAX_CALL_SPAN = 12


def site_is_marked(
    lines: list[str], i: int, marker: re.Pattern = MARKER, comment: str = "#"
) -> bool:
    """Marker on the call line, or in the contiguous comment block
    directly above it (comment-only lines, no blank/code gaps)."""
    if marker.search(lines[i]):
        return True
    j = i - 1
    steps = 0
    while j >= 0 and steps < MAX_COMMENT_BLOCK:
        stripped = lines[j].strip()
        if not stripped.startswith(comment):
            return False
        if marker.search(lines[j]):
            return True
        j -= 1
        steps += 1
    return False


def call_span(lines: list[str], i: int, start_col: int) -> str:
    """The call text from the opening paren at/after start_col on line i
    until its parens balance (capped at MAX_CALL_SPAN lines) — lets the
    cap-argument and marker checks see multi-line calls."""
    depth = 0
    out: list[str] = []
    for j in range(i, min(i + MAX_CALL_SPAN, len(lines))):
        seg = lines[j][start_col:] if j == i else lines[j]
        for k, ch in enumerate(seg):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    out.append(seg[: k + 1])
                    return "\n".join(out)
        out.append(seg)
    return "\n".join(out)


def audit_lines(name: str, lines: list[str]) -> tuple[list[str], Counter]:
    """Findings and site counts for one source file's lines; ``name``
    labels the findings."""
    findings: list[str] = []
    n: Counter = Counter()
    in_doc = False
    for i, line in enumerate(lines):
        # crude docstring tracker: prose mentions of patterns
        # (module docs describing the rules) are not call sites.
        # Only triple-double-quote blocks are tracked; a line that
        # opens and closes one stays "code".
        tq = line.count('"""')
        if in_doc:
            if tq % 2 == 1:
                in_doc = False
            continue
        if tq % 2 == 1:
            in_doc = True
        if line.lstrip().startswith("#"):
            continue
        n["gated"] += line.count("maybe_broadcast(")
        for m in CROSSJOIN.finditer(line):
            n["cross"] += 1
            span = call_span(lines, i, m.start())
            if not (site_is_marked(lines, i) or MARKER.search(span)):
                findings.append(
                    f"{name}:{i + 1}: crossJoin without "
                    f"a '# bcast-ok: <bound>' marker — name the bounded "
                    f"side (1-row agg, k-row panel, ...)\n    {line.strip()}"
                )
        for m in PAIR_GENERATORS.finditer(line):
            # skip the definitions themselves — the rule binds call
            # sites, where the cap decision is made
            if line.lstrip().startswith("def ") or "import" in line.split("(")[0]:
                continue
            n["band"] += 1
            span = call_span(lines, i, m.end() - 1)
            if not (
                CAP_ARG.search(span)
                or site_is_marked(lines, i, BAND_MARKER)
                or BAND_MARKER.search(span)
            ):
                findings.append(
                    f"{name}:{i + 1}: candidate-pair "
                    f"generator without an explicit max_bucket_size cap or "
                    f"a '# band-ok: <keyspace bound>' marker — fixed-width "
                    f"band families saturate and go quadratic (r10 64x "
                    f"probe)\n    {line.strip()}"
                )
        for _ in MANUAL_SELF_JOIN.finditer(line):
            n["band"] += 1
            if not site_is_marked(lines, i, BAND_MARKER):
                findings.append(
                    f"{name}:{i + 1}: manual bucket "
                    f"self-join (alias(\"l\") pattern) without a "
                    f"'# band-ok: <keyspace bound>' marker\n    {line.strip()}"
                )
        for _ in CALL.finditer(line):
            n["raw"] += 1
            if not site_is_marked(lines, i):
                findings.append(
                    f"{name}:{i + 1}: raw F.broadcast "
                    f"without a '# bcast-ok: <bound>' marker — name the "
                    f"structural bound, or use model.maybe_broadcast for "
                    f"a corpus-proportional side\n    {line.strip()}"
                )
        for _ in PART_WINDOW.finditer(line):
            n["pwindows"] += 1
            if not site_is_marked(lines, i, PART_WINDOW_MARKER):
                findings.append(
                    f"{name}:{i + 1}: partitioned "
                    f"window without a '# grpwin-ok: <scaling arg>' or "
                    f"'# panel-ok: <mechanism/bound>' marker — say whether "
                    f"the partition count scales with the input, or why a "
                    f"bounded panel over this input is not a funnel "
                    f"(WindowGroupLimit(Partial) / bounded input)\n"
                    f"    {line.strip()}"
                )
        for _ in GLOBAL_WINDOW.finditer(line):
            n["windows"] += 1
            if not site_is_marked(lines, i, WINDOW_MARKER):
                findings.append(
                    f"{name}:{i + 1}: global window "
                    f"(Window.orderBy with no partitionBy) without a "
                    f"'# window-ok: <bound>' marker — the windowed input "
                    f"must be a bounded derived table, and the site must "
                    f"name the bound\n    {line.strip()}"
                )
    return findings, n


def audit_sql(name: str, sql: str) -> tuple[list[str], Counter]:
    """Findings and site counts for one register_sql text (the window
    and hint rules, with ``--`` comment markers)."""
    findings: list[str] = []
    n: Counter = Counter()
    lines = sql.splitlines()
    for clause, marker, what, kind in SQL_RULES:
        for m in clause.finditer(sql):
            n[kind] += 1
            i = sql.count("\n", 0, m.start())
            if not site_is_marked(lines, i, marker, comment="--"):
                findings.append(f"{name} (sql line {i + 1}): {what}\n    {lines[i].strip()}")
    return findings, n


def package_findings() -> tuple[list[str], Counter]:
    """Findings and site counts over every fegis_spark source file and
    every register_sql text in the catalog."""
    from fegis_spark.catalog import catalog

    findings: list[str] = []
    n: Counter = Counter()
    for path in sorted(PKG.rglob("*.py")):
        f, c = audit_lines(str(path.relative_to(ROOT)), path.read_text().splitlines())
        findings += f
        n.update(c)
    for name, e in sorted(catalog().items()):
        if e.sql is not None:
            f, c = audit_sql(name, e.sql)
            findings += f
            n.update(c)
            n["sql"] += 1
    return findings, n


def audit() -> int:
    findings, n = package_findings()
    # docstring/comment mentions of F.broadcast( inside strings are rare
    # and harmless; the scan is per-line source text like oracle_lint.
    for f in findings:
        print(f)
    print(
        f"broadcast_audit: {n['raw']} raw hint sites, {n['gated']} size-gated "
        f"maybe_broadcast sites, {n['windows']} global-window sites, "
        f"{n['pwindows']} partitioned-window sites, "
        f"{n['cross']} crossJoin sites, {n['band']} band-generator sites "
        f"(sites include {n['sql']} register_sql texts), {len(findings)} findings"
    )
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(audit())
