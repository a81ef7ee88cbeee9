"""Record the Spark job count of one daily cycle as the curated zone
crosses 32 date partitions (Spark's parallel partition-discovery
threshold, ``spark.sql.sources.parallelPartitionDiscovery.threshold``).

    python3 perfbench/partition_step.py

Loads a 28-day history for seed 1, then runs 8 daily cycles, traced,
and prints one JSON line per cycle: the date partitions in the zone
before the cycle, and the cycle's ``plans.pipeline`` jobs, listing jobs
and wall.  ``daily_ingest`` loads a history past the step so that its
timed cycles all run at the levelled-off count.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED, HISTORY_DAYS, DAYS = 1, 28, 8


def main() -> int:
    sys.path[:0] = [HERE, os.getcwd()]
    from run import make_work, remove_work, start_spark, stop_spark
    from tracing import Tracer
    from workloads import DailyIngest, install_tracing

    from lakehouse_architecture_spark import session

    work = make_work(os.getcwd(), "partition-step")
    spark = start_spark(session, work)
    try:
        tracer = Tracer(spark)
        wl = DailyIngest(spark, SEED, work, tracer)
        wl.HISTORY_DAYS, wl.WARMUP_DAYS = HISTORY_DAYS, 0
        install_tracing(tracer, wl)
        wl.setup()
        parts = []
        for i in range(DAYS):
            parts.append(sum("=" in e for e in os.listdir(os.path.join(wl.curated, "orders"))))
            wl.op(i)
        tracer.restore()
        tracer.harvest()
        kids = tracer.subtree()
        for s in tracer.spans:
            if s["name"] == "plans.pipeline" and s["op"] is not None:
                tot = tracer.totals(s, kids)
                print(json.dumps({"partitions_before": parts[s["op"]], "jobs": tot["jobs"],
                                  "listing_jobs": tot["listing_jobs"], "run_s": round(tot["s"], 3)}))
    finally:
        stop_spark(spark)
        remove_work(work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
