"""Time individual queries() entries exactly as bench.py does (noop
sink, median of $SPARK_GRAFT_REPS, GC hint between queries) without
paying for the other 200 entries — the optimization round's inner
loop. Prints one line per query, with each rep's Spark job count
next to its time (each rep runs under its own job group, counted by
the status tracker); NOT the driver contract (that stays bench.py).

Usage:
    python scripts/time_query.py ext-dedup-semantic stream-eval-ece ...
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from awskinesisconsumer_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark("time-query")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    qs = entrymod.queries()
    qs["query-point-lookup"](spark, SF_DIR).count()  # warm, as bench.py
    total = 0.0
    for name in names:
        spark._jvm.System.gc()  # noqa: SLF001
        reps, jobs = [], []
        for i in range(REPS):
            group = f"time-{name}-{i}"
            sc.setJobGroup(group, f"time: {name}")
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        med = statistics.median(reps)
        total += med
        print(f"{name}: {med:.3f}s  (reps: "
              + ", ".join(f"{r:.3f} [{j} jobs]" for r, j in zip(reps, jobs))
              + ")", flush=True)
    print(f"TOTAL {total:.3f}s over {len(names)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
