"""Seam profile of curation_flagship (VERDICT r14 #4, guide §1):
reconstructs the builder's stages and times each with the noop sink,
separating driver-side plan build from execution. Run SOLO.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/flagship_seam_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import force, prime_page_cache  # noqa: E402
from fegis_spark.catalog import catalog  # noqa: E402
from fegis_spark.model import load_table, maybe_broadcast, table_bytes  # noqa: E402
from fegis_spark.operators.dedup import minhash_lsh_pairs  # noqa: E402
from fegis_spark.operators.scale import pack_greedy_sharded  # noqa: E402
from fegis_spark.operators.text_analysis import quality_score_sql  # noqa: E402
from fegis_spark.queries.pipeline_q import (  # noqa: E402
    _FS_DECILES,
    _FS_GOPHER_KEEP_SPARK,
    HOT_CAP,
    PACK_BUDGET,
)
from fegis_spark.session import configure_for_oracle, get_spark  # noqa: E402


def timed(spark, label: str, build):
    """build() -> DataFrame; returns (build_s, exec_min3_s).

    The cache is cleared and the plan rebuilt before the warmup and
    before every sample: a persist inside build() is paid in every
    sample instead of being read back warm from an earlier one (the
    CacheManager substitutes an identical cached subtree into a later
    build). Execution samples exclude the rebuild."""
    spark.sparkContext.setJobDescription(label)
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = build()
    t_build = time.perf_counter() - t0
    force(df)  # warmup
    samples = []
    for _ in range(3):
        spark.catalog.clearCache()
        df = build()
        t0 = time.perf_counter()
        force(df)
        samples.append(time.perf_counter() - t0)
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    return round(t_build, 4), round(min(samples), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = configure_for_oracle(get_spark("fegis_flagship_probe"))
    prime_page_cache(sf_dir)
    out: dict = {}

    def kept_df(persist=True):
        docs = load_table(spark, sf_dir, "documents")
        scored = docs.select(
            "doc_id",
            "n_chars",
            "text",
            F.round(F.expr(quality_score_sql("text", spark=True)), 6).alias("q"),
            F.expr(_FS_GOPHER_KEEP_SPARK).alias("gk"),
        )
        kept = scored.filter((F.col("gk") == 1) & (F.col("q") >= 0.5)).drop("gk")
        if persist:
            kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
        return kept

    def pairs_df(kept):
        return minhash_lsh_pairs(
            kept, "text", "doc_id", jaccard_threshold=0.5,
            max_bucket_size=HOT_CAP, portable=True,
            seed_bcast_bound=32 * table_bytes(sf_dir, "documents"),
        )

    def surv_df(kept, pairs, persist=True):
        drops = pairs.select(F.col("b").alias("doc_id")).distinct()
        surv = kept.join(
            maybe_broadcast(drops, table_bytes(sf_dir, "documents")),
            "doc_id", "left_anti",
        ).select("doc_id", "n_chars", "q")
        if persist:
            surv = surv.persist(StorageLevel.MEMORY_AND_DISK)
        return surv

    def tail_df(surv):
        cuts = surv.agg(F.percentile("q", F.lit(_FS_DECILES)).alias("c"))
        assigned = surv.crossJoin(F.broadcast(cuts)).select(  # bcast-ok: 1-row decile cutpoints
            "doc_id", "n_chars", "q",
            F.size(F.filter(F.col("c"), lambda x: F.col("q") > x)).alias("cshard"),
        )
        packed = pack_greedy_sharded(
            assigned, ["cshard"], "doc_id", "n_chars",
            budget=PACK_BUDGET, shards=4,
        )
        return packed.groupBy(
            F.col("cshard").alias("shard"), F.col("pack_id")
        ).agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("pack_chars"),
            F.sum(F.col("q").cast("decimal(38,6)")).cast("double").alias("sum_q"),
        )

    # seam 1: scan + gate projection alone, not persisted; every seam
    # starts from an empty cache, so each one pays its own upstream
    out["kept_noop"] = timed(spark, "seam:kept", lambda: kept_df(persist=False))
    # seam 2: minhash pairs over a persisted kept
    out["pairs_noop"] = timed(
        spark, "seam:pairs", lambda: pairs_df(kept_df())
    )
    # seam 3: survivors (anti-join); kept is built twice, cached once
    out["surv_noop"] = timed(
        spark, "seam:surv",
        lambda: surv_df(kept_df(), pairs_df(kept_df()), persist=False),
    )
    # seam 4: full query via the catalog builder
    cat = catalog()
    out["full"] = timed(
        spark, "seam:full", lambda: cat["curation_flagship"].builder(spark, sf_dir)
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
