"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``
under ``.perfbench_work/`` in the current directory and removed at the
end.  After an untimed set-up the workload's op runs in a closed loop
until ``--seconds`` have passed; the outputs are then checked, untimed.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it is a
JSON summary with the metrics that apply only to some workloads.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# Pinned engine set-up, chosen by measurement (README.md, "Noise
# controls"): two task slots, and two JIT compiler and two GC threads, so
# the process asks for well under the host's four cores and a busy host
# slows it less.  The heap starts at its maximum, so no run spends set-up
# growing it.
CORES = 2
SPARK_CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
    # the traced run reads every job and stage back from the status store
    "spark.ui.retainedJobs": "20000",
    "spark.ui.retainedStages": "20000",
    "spark.sql.ui.retainedExecutions": "20000",
}

JVM_OPTS = (f"-Xms{SPARK_CONF['spark.driver.memory']} -XX:CICompilerCount=2"
            " -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "sql_p50_s": "s"}


def calibrate() -> float:
    """A fixed pure-Python CPU loop: host speed, independent of Spark."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t


def make_work(root: str, name: str) -> str:
    """A fresh work directory under ``root``; Spark's local dirs and every
    temp file of this process go inside it."""
    work = os.path.join(root, ".perfbench_work", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        TZ="UTC", TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )
    time.tzset()
    return work


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def start_spark(session, work: str):
    spark = session.get_spark(
        "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf={
            **SPARK_CONF,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds like an exception, so the finally below still stops
    # Spark and removes the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    work = make_work(root, f"{args.workload}-{args.seed}")
    sys.path[:0] = [HERE, root]
    spark = None
    try:
        try:
            from lakehouse_architecture_spark import session
            from workloads import WORKLOADS, install_tracing
        except ImportError as e:
            print(f"perfbench: the program is not importable from {root}: {e}", file=sys.stderr)
            return 2
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        from tracing import Tracer, storage_mb, tail_percentile

        calib = [calibrate()]
        t = time.perf_counter()
        spark = start_spark(session, work)
        session_s = time.perf_counter() - t
        tracer = Tracer(spark) if args.trace else None
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        if tracer is not None:
            install_tracing(tracer, wl)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        ops: list[dict] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds:
            try:
                ops.append(wl.op(len(ops)))
            except Exception:  # a failed op is counted, the loop goes on
                traceback.print_exc()
                wl.fail(len(ops), f"op {len(ops)} raised")
                ops.append(None)
        wall_s = time.perf_counter() - t0
        calib.append(calibrate())
        done = [o for o in ops if o is not None]
        op_s = [o["s"] for o in done]
        end = wl.end_metrics(done) if done else {}
        # storage held now; includes slots whose asynchronous release has
        # not landed yet, so it is reported but not gated
        cached_mb = storage_mb(spark.sparkContext)
        if tracer is not None:
            tracer.restore()
        if len(done) == len(ops):
            wl.check(done)

        attempted = len(ops)
        failed = len({i for i in wl.failed_ops if i is not None})
        if None in wl.failed_ops:
            failed = max(failed, 1)
        failed = min(failed, attempted)
        tail = tail_percentile(op_s)
        summary = {
            "workload": args.workload, "seed": args.seed, "ops": attempted,
            "wall_s": wall_s, "session_s": session_s, "host_calib_s": calib,
            "op_tail_s": tail[1] if tail else None,
            "op_tail_pct": tail[0] if tail else None,
            "failed_share": failed / attempted if attempted else None,
            "cached_mb": cached_mb,
            **{k: v for k, v in end.items() if k not in END_TO_END},
            "setup_ops_s": [o["s"] for o in getattr(wl, "setup_ops", [])],
            "op_s": op_s,
            "failures": wl.failures[:20],
        }
        print(json.dumps({"summary": summary}, default=str))

        op_p50_s = statistics.median(op_s) if op_s else None
        if tracer is None:
            values = {"setup_s": setup_s, "op_p50_s": op_p50_s, "sql_p50_s": end.get("sql_p50_s")}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        else:
            tracer.harvest()
            from layers import per_layer

            metrics = per_layer(wl, tracer, done, session_s, statistics.median(calib),
                                cached_mb, op_p50_s)
        ok = not wl.failures and bool(done) and len(done) == attempted
        print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        remove_work(work)


if __name__ == "__main__":
    sys.exit(main())
