"""Solo interleaved A/B of cosine spellings, measured in JVM CPU
seconds (utime+stime of the local-mode JVM from /proc/<pid>/stat) —
wall time on this box swings 2-5x with host steal (the r14
"measurement environment" note), while CPU-time minimums repeat to
within a few percent across quiet rounds.

Forms, all bit-identical (asserted on the summed result here and
pinned element-wise in tests/test_search.py):

  pair leg (corpus x corpus verify, the semdedup/near-dup shape):
    hof       cosine_sql(a, b)             3 HOF folds per pair
    parts     per-side precomputed norms + 1 HOF dot per pair
              (cosine_from_parts_sql — what shipped)

  lit leg (corpus x literal query, the score_against shape):
    hof       cosine_sql(v, lit_vector_sql(q))
    parts     cosine_lit_sql — HOF dot + HOF corpus norm + the query
              self-norm hoisted to a driver-computed literal (shipped)

The rejected r14 candidate, a fully-unrolled known-dim spelling, was
a third leg of each. The spelling is deleted; its numbers are in the
committed evidence file (a rerun rewrites that file without them).

Input: a 2M-row dim-64 float32 frame materialized to parquet first.

Writes evidence/cosine_codegen_ab_r14.json. Run SOLO.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fegis_spark.session import configure_for_oracle, get_spark  # noqa: E402

N = 2_000_000
DIM = 64
RUNS = 5


def _cpu_s(pid: int) -> float:
    f = open(f"/proc/{pid}/stat").read().split()
    return (int(f[13]) + int(f[14])) / 100  # USER_HZ=100 on this box


def main() -> None:
    from fegis_spark.functions.vector import (
        cosine_from_parts_sql,
        cosine_lit_sql,
        cosine_sql,
        dot_sql,
        lit_vector_sql,
        norm_sql,
    )

    spark = configure_for_oracle(get_spark("cosine_ab"))
    jvm_pid = int(
        subprocess.check_output(["pgrep", "-f", "pyspark-shell"]).split()[0]
    )

    terms_a = ", ".join(f"CAST(sin(id * {i + 1}) AS FLOAT)" for i in range(DIM))
    terms_b = ", ".join(f"CAST(cos(id * {i + 2}) AS FLOAT)" for i in range(DIM))
    path = tempfile.mkdtemp(prefix="cosine_ab_") + "/vecs"
    spark.range(N).selectExpr(
        f"array({terms_a}) AS va", f"array({terms_b}) AS vb"
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    df.count()

    q = [((-1) ** i) * (1.0 + i / 64.0) for i in range(DIM)]

    def parts_pair():
        return df.selectExpr(
            "va", "vb",
            f"{norm_sql('va')} AS na", f"{norm_sql('vb')} AS nb",
        ).selectExpr(
            f"sum({cosine_from_parts_sql(dot_sql('va', 'vb'), 'na', 'nb')}) AS s"
        )

    legs = {
        "pair_hof": lambda: df.selectExpr(f"sum({cosine_sql('va', 'vb')}) AS s"),
        "pair_parts": parts_pair,
        "lit_hof": lambda: df.selectExpr(
            f"sum({cosine_sql('va', lit_vector_sql(q))}) AS s"
        ),
        "lit_parts": lambda: df.selectExpr(
            f"sum({cosine_lit_sql('va', q)}) AS s"
        ),
    }
    cpu = {k: [] for k in legs}
    wall = {k: [] for k in legs}
    vals: dict[str, float] = {}
    for _ in range(RUNS):
        for name, build in legs.items():
            c0, t0 = _cpu_s(jvm_pid), time.time()
            vals[name] = build().collect()[0].s
            cpu[name].append(round(_cpu_s(jvm_pid) - c0, 1))
            wall[name].append(round(time.time() - t0, 2))
    # ADVICE r14: these compare global double SUMs from separate jobs —
    # the final merge of partial aggregates is completion-order
    # dependent for a single-group double sum, so inequality here is a
    # WARNING, not proof of per-row divergence (the element-wise pins
    # in tests/test_search.py are the real bit-identity evidence).
    if vals["pair_hof"] != vals["pair_parts"]:
        print("WARNING: pair sums differ (merge-order noise possible):", vals)
    if vals["lit_hof"] != vals["lit_parts"]:
        print("WARNING: lit sums differ (merge-order noise possible):", vals)
    out: dict[str, object] = {
        "n_rows": N, "dim": DIM, "runs": RUNS,
        "metric": "JVM CPU seconds (min over runs; first run includes JIT)",
    }
    for name in legs:
        out[name] = {
            "cpu_s": cpu[name],
            "cpu_min": min(cpu[name]),
            "wall_s": wall[name],
        }
        print(name, out[name])
    Path("evidence/cosine_codegen_ab_r14.json").write_text(
        json.dumps(out, indent=1)
    )
    spark.stop()


if __name__ == "__main__":
    main()
