#!/usr/bin/env bash
# One-shot round-close verification — every gate in CLAUDE.md's verify
# list, in order, with the correct flags (notably: the correctness
# gate takes --sf DIR; SPARK_GRAFT_SF_DIR only affects bench.py).
# Usage: tools/verify_all.sh [--full]   (--full adds the sf0.1 sweep)
#
# Every step runs even when an earlier one fails; the script exits
# non-zero at the end and names each failed step.
set -uo pipefail
cd "$(dirname "$0")/.."

failed=()
step=""
begin() { step="$1"; echo "== $1 =="; }
# a failing command marks its step failed once; the script goes on
trap '[[ ${#failed[@]} -gt 0 && ${failed[-1]} == "$step" ]] || failed+=("$step")' ERR

begin "1/8 DuckDB-oracle gate (sf0.01, full catalog)"
python tools/check_correctness.py 2>/dev/null | tail -1

begin "2/8 driver smoke (bare session)"
python - <<'EOF' 2>/dev/null
from pyspark.sql import SparkSession
import __spark_entry__ as E
spark = SparkSession.builder.master("local[8]").getOrCreate()
print("entry rows:", E.entry(spark).count())
print("queries:", len(E.queries()), "oracles:", len(E.oracle_sql()))
EOF

begin "3/8 bench smoke (sf0.001)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python bench.py 2>/dev/null | tail -1

begin "4/8 pytest"
# tier-1 flags: a module that fails to collect must not stop the
# other tests
python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider 2>/dev/null | tail -1

begin "5/8 perfbench self-tests"
# reads perfbench/ only (its harness, checks and generators)
python -m pytest perfbench/tests -q -p no:cacheprovider 2>/dev/null | tail -1

begin "6/8 oracle lint + typed-schema parity"
python tools/oracle_lint.py 2>/dev/null
# Spark-dtype vs DuckDB-bound-type class matrix (the r7 driver FAIL
# class: HUGEINT/DECIMAL oracle outputs vs Spark BIGINT/DOUBLE)
python tools/type_audit.py 2>/dev/null | tail -1
# every raw F.broadcast must name its structural bound (corpus-scaled
# sides use the size-gated maybe_broadcast); every global Window.orderBy
# names its bounded derived input (r9); every crossJoin / band-generator
# site caps or names its keyspace (r11); every Window.partitionBy states
# its scale posture via # grpwin-ok / # panel-ok (r12)
python tools/broadcast_audit.py

begin "7/8 coverage + plan reports"
python tools/coverage_report.py 2>/dev/null
python tools/plan_report.py --md 2>/dev/null | tail -1

if [[ "${1:-}" == "--full" ]]; then
  begin "8/8 full sf0.1 sweep (bench scale factor)"
  python tools/check_correctness.py --sf /root/testdata/sf0.1 2>/dev/null | tail -1
  # sf0.001's degenerate-small corpora hit rounding/tie edge cases the
  # bigger factors mask (caught the dsir_importance .5e-6 midpoint in
  # r7) — sweep it too whenever closing a round.
  begin "8b full sf0.001 sweep (degenerate-corpus tier)"
  python tools/check_correctness.py --sf /root/testdata/sf0.001 2>/dev/null | tail -1
else
  echo "== 8/8 sf0.1 + sf0.001 sweeps skipped (pass --full; ~30 min) =="
fi
if [[ ${#failed[@]} -gt 0 ]]; then
  echo "verify_all: ${#failed[@]} step(s) failed:"
  printf '  - %s\n' "${failed[@]}"
  exit 1
fi
echo "verify_all: done"
