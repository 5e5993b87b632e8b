"""One benchmark run in a fresh Spark process: set up, measure, check.

``run.py`` starts this module with ``python -m perfbench.worker`` and
the same arguments plus ``--work DIR``. Its standard output ends with a
JSON line of details (with the workload's named figures under
``metrics``) and a JSON line of raw values, which ``run.py`` checks
against ``BENCHMARK.json`` and turns into the result.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import time


def stop_spark(spark, probe) -> None:
    """Stop Spark and wait until the JVM and its Python workers have
    ended."""
    from perfbench.observe import alive

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    others = [p for p in probe.seen if p != probe.driver]
    deadline = time.monotonic() + 15
    while any(alive(p) for p in others) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in others:
        if alive(p):
            os.kill(p, signal.SIGKILL)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    t0 = time.perf_counter()

    from perfbench.inputs import Tally
    from perfbench.observe import ProcProbe, SparkCounters, Tracer
    from perfbench.workloads import ROUND_METRICS, WORKLOADS

    from deker_server_adapters_spark.session import get_spark

    probe = ProcProbe(os.path.join(args.work, "pids"))
    probe.start()
    spark = None
    tally = Tally()
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        probe.set_jvm(int(sc._jvm.java.lang.ProcessHandle.current().pid()))
        tracer = Tracer() if args.trace else None
        counters = SparkCounters(sc) if args.trace else None
        wl = WORKLOADS[args.workload](spark, args.seed, args.work, tally, tracer, counters)
        if tracer is not None:
            wl.instrument()  # before set-up, which runs the bulk I/O steps
        wl.setup()
        setup_s = (wl.setup_end or time.perf_counter()) - t0
        cpu0 = probe.cpu()
        wl.measure(args.seconds)
        cpu1 = probe.cpu()
        if tracer is not None:
            tracer.unwrap_all()
        wl.verify()
        probe.sample()
        e2e = {"setup_s": setup_s, **wl.end_to_end(), "peak_rss_mb": probe.peak_rss / 2**20}
        named = {**wl.workload_metrics(), "fail_frac": tally.failed / max(1, tally.attempted)}
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        if tracer is None:
            values = e2e
        else:
            values = {
                **wl.layer_metrics(),
                **cpu,
                **named,
                **{f"traced.{k}": e2e[k] for k in ROUND_METRICS},
            }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "metrics": named,
            "notes": wl.notes(),
            "measured_s": wl.wall,
            "cpu_s": cpu,
            "errors": tally.errors[:5],
        }
    finally:
        if spark is not None:
            stop_spark(spark, probe)
        probe.stop()
    print(json.dumps(detail, default=str))
    print(json.dumps({"attempted": tally.attempted, "failed": tally.failed, "values": values}))


if __name__ == "__main__":
    main()
