"""Cold-cache concurrency probe — the §3d mechanism, isolated.

Measures wall clock AND system-wide CPU seconds (/proc/stat, machine
otherwise idle) for six variants of the same 10^7-row scan over the
engine's frontier-v0 shape, at a given local[N]:

  cold+1job        one job materializes a cold persisted frame
  cold+2jobs       two concurrent jobs race the cold frame
  warm+2jobs       same two jobs after materialization
  cold+bcast-race  a join whose broadcast-build side derives from the
                   same cold frame as its probe side (the r1
                   _grouped_topk shape)
  warm+bcast       same join after materialization
  cold+4jobs       four concurrent jobs race the cold frame

Finding (committed raw: BENCH/race_probe_raw.jsonl): every cold-race
variant is benign at local[4] and catastrophic at local[16] — up to
24x system-CPU inflation (726 CPU-s vs 31 for the warm equivalent) —
while every warm variant scales cleanly.  jstack during the race shows
two phases: executor threads serialized on the whole-stage-codegen
compile KeyLock (each racing plan instance compiles its own generated
class), then all cores churning in broadcast-hash-join probes
interleaved with cache-unroll memory traffic.  This is the evidence
behind the wave-loop rule "materialize each cached frame with ONE
linear job before any concurrent consumer" (engine/crawler.py,
engine/operators.with_global_rank).

Usage: python scripts/race_probe.py CPUS   # prints one JSON line/variant
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def syscpu() -> float:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    # user+nice+system+irq+softirq+steal
    busy = v[0] + v[1] + v[2] + v[5] + v[6] + v[7]
    return busy / os.sysconf("SC_CLK_TCK")


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_rows = int(os.environ.get("RACE_PROBE_N", "10000000"))
    n_hosts = int(os.environ.get("RACE_PROBE_HOSTS", "10000"))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("race-probe")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from spider_1_spark.engine import operators as ops
    from spider_1_spark.fixtures.frontier_gen import write_frontier

    tmp = tempfile.mkdtemp(prefix="race_probe_")
    raw = os.path.join(tmp, "raw")
    write_frontier(spark, raw, n_rows, n_hosts)
    fr0, _, _, _ = ops.ingest_seed_frame(spark.read.parquet(raw))
    fp = os.path.join(tmp, "v0")
    fr0.write.mode("overwrite").parquet(fp)

    def base():
        return spark.read.parquet(fp).withColumn(
            "h2", F.xxhash64("url", F.lit(1))
        )

    base().count()
    base().count()  # warm JIT/codegen for the uncached shape

    def report(label: str, t0: float, c0: float) -> None:
        print(
            json.dumps(
                {
                    "cpus": cpus,
                    "n_rows": n_rows,
                    "label": label,
                    "wall_s": round(time.time() - t0, 2),
                    "sys_cpu_s": round(syscpu() - c0, 1),
                }
            ),
            flush=True,
        )

    def race(label: str, jobs) -> None:
        df = base().persist()
        if label.startswith("warm"):
            df.count()
        t0, c0 = time.time(), syscpu()
        if callable(jobs):
            jobs(df)
        else:
            with ThreadPoolExecutor(len(jobs)) as ex:
                futs = [ex.submit(j, df) for j in jobs]
                [f.result() for f in futs]
        report(label, t0, c0)
        df.unpersist(blocking=True)

    race("cold+1job", lambda df: df.count())
    two = [
        lambda df: df.count(),
        lambda df: df.filter(F.col("h2") % 2 == 0).count(),
    ]
    race("cold+2jobs", two)
    race("warm+2jobs", two)

    def bcast(df):
        small = (
            df.groupBy("host")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > 1000)
            .select("host")
        )
        df.join(F.broadcast(small), "host", "left_semi").count()

    race("cold+bcast-race", bcast)
    race("warm+bcast", bcast)
    race(
        "cold+4jobs",
        [
            (lambda i: (lambda df: df.filter(F.col("h2") % 4 == i).count()))(i)
            for i in range(4)
        ],
    )

    spark.stop()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
