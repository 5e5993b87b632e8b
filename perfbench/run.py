"""Benchmark entry point.

    python3 perfbench/run.py --workload arrays --seed 1 --seconds 10 --trace 0

Runs one workload (see ``BENCHMARK.json``) in a fresh worker process
with its own Spark JVM on ``local[min(4, nproc)]``, and prints as its
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics). The line before it gives the run's details and the
figures named per workload, each with its unit. Everything the run
writes lives under ``.perfbench_work/`` in the checkout and is removed
at the end; every process the run starts has ended when it exits.
Exits non-zero, without a result, when the run fails or its output does
not match ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))  # run as a script: perfbench/ is sys.path[0]

from perfbench.observe import alive  # noqa: E402

WORKER_TIMEOUT_S = 165  # the run must end within 180 s
DRIVER_MEM = "2g"
# The driver JVM's heap is fixed at its maximum from the start, so that
# a short run does not spend its first minute growing it, and collected
# by the throughput collector, whose pauses on that heap are short and
# which runs no concurrent marking threads beside the Spark task threads.
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:+UseParallelGC"
REAP_TIMEOUT_S = 20


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def describe(spec: dict, detail: dict) -> dict:
    """The worker's detail line with each named figure given its unit
    from ``BENCHMARK.json``; a figure the file does not declare is an
    error."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    unknown = sorted(set(detail["metrics"]) - set(units))
    if unknown:
        raise ValueError(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in detail["metrics"].items()}
    return {**detail, "metrics": metrics}


def format_result(spec: dict, trace: bool, raw: dict) -> dict:
    """The result object: exactly the metrics ``BENCHMARK.json`` lists
    for this mode, each with its unit. Per-layer metrics of a layer the
    workload leaves idle read 0; an end-to-end metric must be measured."""
    wanted = spec["per_layer" if trace else "end_to_end"]
    values = raw["values"]
    unknown = sorted(set(values) - {m["name"] for m in wanted})
    if unknown:
        raise ValueError(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {}
    for m in wanted:
        if not trace and m["name"] not in values:
            raise ValueError(f"end-to-end metric {m['name']} was not measured")
        v = float(values.get(m["name"], 0.0))
        if not math.isfinite(v):
            raise ValueError(f"metric {m['name']} is {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(raw["attempted"]), int(raw["failed"])
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def reap(proc: subprocess.Popen, pid_file: Path) -> None:
    """Kill and wait for the worker and every process it recorded."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    recorded = []
    if pid_file.exists():
        for line in pid_file.read_text().splitlines():
            pid, _, start = line.partition(" ")
            recorded.append((int(pid), start if start and start != "None" else None))
    for pid, start in recorded:
        if alive(pid, start):
            os.kill(pid, signal.SIGKILL)
    deadline = time.monotonic() + REAP_TIMEOUT_S
    while any(alive(p, s) for p, s in recorded) and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        SPARK_SUBMIT_OPTS=f"{JVM_OPTS} -Djava.io.tmpdir={work / 'tmp'}",
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work),
    ]  # fmt: skip
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
        print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
    finally:
        reap(proc, work / "pids")
        shutil.rmtree(work, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass  # another run's work dir is still there
    if out is None or proc.returncode != 0:
        print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    lines = out.strip().splitlines()
    try:
        detail = describe(spec, json.loads(lines[-2]))
        result = format_result(spec, bool(args.trace), json.loads(lines[-1]))
    except (ValueError, KeyError, IndexError) as e:
        print(f"bad worker output: {e}", file=sys.stderr)
        return 1
    for line in lines[:-2]:
        print(line)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
