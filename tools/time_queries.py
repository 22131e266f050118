"""Time named catalog queries at $SPARK_GRAFT_SF_DIR (default sf0.1),
split into the driver-side plan build and the execution. Prints one
JSON line {name: {"build_s", "build_py4j", "exec_s"}}.

Per query: one warmup build + run (it loads the base tables into the
table memo), then 3 samples, each with the derived memos and the cache
cleared first. build_s is the builder call, build_py4j the py4j round
trips it makes (the garbage collector's memory-release commands not
counted), exec_s a noop-sink write of the built frame (physical
planning included); each is the min over the samples. The page cache
is primed first, as in bench.py.

Usage: python tools/time_queries.py <query> [<query>...]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import force, prime_page_cache, sentinel_sec  # noqa: E402
from fegis_spark.catalog import catalog  # noqa: E402
from fegis_spark.model import clear_memos  # noqa: E402
from fegis_spark.session import configure_for_oracle, get_spark  # noqa: E402

SAMPLES = 3


#: py4j's "release this JavaObject" command. Python's garbage collector
#: sends one whenever it frees a JavaObject, so how many fall inside a
#: timed build depends on when the collector runs, not on the build.
_MEMORY_DEL = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


def count_py4j(spark) -> list[int]:
    """Wrap the gateway client's send_command; the returned one-item
    list counts every py4j round trip from then on, except the memory
    release commands (_MEMORY_DEL)."""
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counted(command, *args, **kwargs):
        if not command.startswith(_MEMORY_DEL):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    return calls


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = configure_for_oracle(get_spark("fegis_spark_time"))
    cat = catalog()
    prime_page_cache(sf_dir)
    calls = count_py4j(spark)
    out: dict = {"__sentinel_pre": sentinel_sec(spark)}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        force(cat[name].builder(spark, sf_dir))
        build, py4j, run = [], [], []
        for _ in range(SAMPLES):
            clear_memos()
            spark.catalog.clearCache()
            n0, t0 = calls[0], time.perf_counter()
            df = cat[name].builder(spark, sf_dir)
            t1, n1 = time.perf_counter(), calls[0]
            force(df)
            t2 = time.perf_counter()
            build.append(t1 - t0)
            py4j.append(n1 - n0)
            run.append(t2 - t1)
        out[name] = {
            "build_s": round(min(build), 4),
            "build_py4j": min(py4j),
            "exec_s": round(min(run), 4),
        }
        spark.sparkContext.setJobDescription(None)
    out["__sentinel_post"] = sentinel_sec(spark)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
