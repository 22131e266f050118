"""Headline benchmark: runs the bench-flagged catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop-sink write (full plan
execution, no driver collect overhead); per-query time is the BEST of
3 runs after a warmup, with an explicit page-cache priming pass over
the parquet inputs before any timing (r9, per the r8 verdict: three
rounds of judges/builders adjudicated ±2x page-cache deltas; timing
noise is one-sided additive — GC pauses and cold reads only ever read
HIGH — so min is the right estimator of the plan's cost and is what
tools/scale_probe.py already uses. Stability evidence: three
consecutive solo runs in evidence/bench_stability_r9.json).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fegis_spark.catalog import catalog
from fegis_spark.session import configure_for_oracle, get_spark

RUNS = 3
REGRESSION_FACTOR = 1.5

#: second measured group (r6 verdict #6): the capped scale-path plans
#: and the end-to-end curation flagship, tracked round-over-round
#: WITHOUT touching the 17-query headline set (whose total must stay
#: comparable across rounds). Reported under capped_queries /
#: capped_total_sec; "value" remains the headline total only.
GROUP2 = ["dedup_minhash_capped", "winnow_match_capped", "curation_flagship"]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sentinel_sec(spark) -> float:
    """Fixed-cost contention sentinel (r10 verdict #2): a constant
    CPU-bound job — xxhash64 fold over range(100M), zero I/O, zero
    data dependence — timed min-of-3 like the queries. Its wall time
    depends ONLY on available cores, so a sentinel reading far above
    its round-over-round baseline means the environment (not the code)
    was contended during this bench run; per-query regressions in the
    same run should be re-measured solo before being believed."""
    # bit_xor, not sum: a sum of 100M random 64-bit hashes overflows
    # BIGINT under the ANSI session
    job = spark.range(100_000_000).selectExpr("bit_xor(xxhash64(id)) AS h")
    samples = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        force(job)
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 4)


def prime_page_cache(sf_dir: str) -> int:
    """Read every parquet byte in the scale-factor dir so the first
    timed query doesn't pay cold-read I/O that later ones don't.
    Returns bytes primed."""
    total = 0
    for p in glob.glob(os.path.join(sf_dir, "**", "*.parquet"), recursive=True):
        if not os.path.isfile(p):  # a multi-file table is a *.parquet dir
            continue
        with open(p, "rb") as f:
            while chunk := f.read(1 << 22):
                total += len(chunk)
    return total


def prior_round(repo_dir: str, sf) -> tuple[str, dict] | None:
    """Latest BENCH_r{N}.json recorded at the same scale factor — the
    round-over-round comparison anchor."""
    import glob

    best = None
    for p in sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))):
        try:
            with open(p) as f:
                d = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        d = d.get("parsed", d)  # driver rounds wrap the bench line
        if d.get("sf") == sf and d.get("queries"):
            best = (os.path.basename(p), d)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = configure_for_oracle(get_spark("fegis_spark_bench"))

    cat = catalog()
    prime_page_cache(sf_dir)

    def time_entries(entries) -> dict[str, float]:
        t: dict[str, float] = {}
        for e in entries:
            force(e.builder(spark, sf_dir))  # warmup: JIT + file listing + codegen
            samples = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                force(e.builder(spark, sf_dir))
                samples.append(time.perf_counter() - t0)
            # min, not median: noise (GC pause, shuffle hiccup, cold
            # read) is strictly one-sided, 5-10x high on ~1 query per
            # run (CLAUDE.md lone-outlier gotcha)
            t[e.name] = round(min(samples), 4)
        return t

    sent_pre = sentinel_sec(spark)
    times = time_entries([e for e in cat.values() if e.bench])
    times2 = time_entries([cat[n] for n in GROUP2 if n in cat])
    sent_post = sentinel_sec(spark)

    total = round(sum(times.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        # estimator provenance (advisor r9): r1-r8 BENCH files are
        # median-of-3 without a priming pass; r9+ are min-of-3 after
        # priming, which is one-sidedly flatter — delta reports across
        # the estimator change should annotate or skip the comparison
        "estimator": "min3_primed",
        "capped_queries": times2,
        "capped_total_sec": round(sum(times2.values()), 4),
        # fixed-cost CPU sentinel before/after the query set — compare
        # against prior rounds' sentinel to self-diagnose driver-side
        # contention (r10's official train_test_split 1.85x class)
        "sentinel_pre_sec": sent_pre,
        "sentinel_post_sec": sent_post,
    }
    prior = prior_round(os.path.dirname(os.path.abspath(__file__)), sf_val)
    if prior is not None:
        name, d = prior
        # session-normalized total (r13 verdict #6): cross-session runs
        # on this box differ by a uniform session factor (~1.2x
        # observed r13, affecting the fixed-cost sentinel and every
        # query alike — evidence/bench_rebaseline_r13.json); dividing
        # the headline total by the sentinel ratio vs the baseline
        # round removes it, so round-over-round deltas stop needing
        # manual session-factor triage. Raw totals stay authoritative
        # for absolute claims.
        prior_sents = [
            s
            for s in (d.get("sentinel_pre_sec"), d.get("sentinel_post_sec"))
            if s
        ]
        session_factor = None
        if prior_sents:
            session_factor = round(
                ((sent_pre + sent_post) / 2)
                / (sum(prior_sents) / len(prior_sents)),
                4,
            )
            out["session_factor_vs_baseline"] = session_factor
            out["sentinel_normalized_total"] = round(total / session_factor, 4)
        deltas = {
            q: round(t / d["queries"][q], 3)
            for q, t in times.items()
            if d["queries"].get(q)
        }
        if session_factor:
            out["normalized_delta_vs_baseline"] = {
                q: round(r / session_factor, 3) for q, r in deltas.items()
            }
        out["baseline_file"] = name
        # r1-r8 were median-of-3 unprimed; r9 switched to min3+priming
        # but predates the tag — "untagged" keeps the report honest
        out["baseline_estimator"] = d.get("estimator", "untagged_pre_r10")
        out["delta_vs_baseline"] = deltas
        prior2 = d.get("capped_queries") or {}
        if prior2:
            out["capped_delta_vs_baseline"] = {
                q: round(t / prior2[q], 3)
                for q, t in times2.items()
                if prior2.get(q)
            }
        # >1.5x slower than the prior round at the same sf AFTER
        # session normalization (when available) — removes the uniform
        # session-factor false-positive class; treat survivors as
        # rerun-and-confirm
        flag_deltas = out.get("normalized_delta_vs_baseline", deltas)
        out["regressions"] = {
            q: r for q, r in flag_deltas.items() if r > REGRESSION_FACTOR
        }
        prior_sent = d.get("sentinel_pre_sec")
        if prior_sent:
            out["sentinel_delta_vs_baseline"] = round(sent_pre / prior_sent, 3)
            # a contended run inflates the fixed-cost sentinel too —
            # flag so per-query regressions above aren't over-read
            out["contention_suspect"] = (
                sent_pre > 1.5 * prior_sent or sent_post > 1.5 * prior_sent
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
