"""Benchmark entry point.

    python3 perfbench/run.py --workload estimate|curate|snapshot \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds seeded inputs, starts a host-sized
local Spark session, runs the workload, checks its outputs and prints one
JSON line last on stdout: ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). A self-describing record of the run goes to
``.perfbench/records/``; scratch data lives under ``.perfbench/`` and is
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SETUP_REPEATS = 3
THREAD_ENV = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("estimate", "curate", "snapshot"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0,
                   help="minimum length of the request loop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_facts() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"cpus": cpus, "mem_gb": round(kb / 2**20, 1)}


def configure_env(workdir: str, host: dict) -> None:
    """Size the session to the host (otherwise get_spark falls back to
    local[32] and a 48g driver) and keep every scratch file in ``workdir``.
    BLAS/OpenMP thread settings are left as found; the record shows them."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    # the machine is shared: a quarter of it, 1-4 GB
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(host['mem_gb'] // 4)))}g"
    # Python workers import naru_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # keep every job of a run readable from the status store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    # every JVM, spark-submit's launcher included: temp files in the run's
    # directory and no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def box_probe_ms() -> float:
    """The bench.py box-health probe: a fresh, written 128 MB allocation
    (twice). Tens of ms on a healthy host, seconds in a bad window."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.full(16 * 1024 * 1024, 1.0)
    b = a * 1.0000001
    del a, b
    return (time.perf_counter() - t0) * 1000.0


def cpu_probe_ms() -> float:
    """A fixed single-threaded interpreter loop: tracks how fast this host's
    CPUs run right now, which the memory probe does not show."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return (time.perf_counter() - t0) * 1000.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def bench(args, workdir: str) -> int:
    host = host_facts()
    configure_env(workdir, host)
    probe_pre, cpu_pre = box_probe_ms(), cpu_probe_ms()

    import numpy

    from perfbench import catalog, sparkstore, stats
    from perfbench.trace import (Tracer, attribute_jobs, driver_only_s, jobs_within,
                                 self_times, spark_sum)
    from perfbench.workloads import TAIL, WORKLOADS, timed

    tracer = Tracer(args.trace == 1)
    wl = WORKLOADS[args.workload](tracer, args.seed, args.seconds, workdir, host["cpus"])
    # the seeded inputs are the benchmark's own work: outside set-up time
    inputs_s = timed(wl.make_inputs)[1]

    # set-up: session start (imports included), load_table and cache
    # (SETUP_REPEATS times, counted once at the median), then the fixtures
    t_session = time.perf_counter()
    import pyspark

    from naru_spark.session import get_spark

    clock_offset = time.time() - time.perf_counter()
    spark = get_spark("perfbench")
    try:
        session_s = time.perf_counter() - t_session
        wl.spark = spark
        tracer.next_job_id = sparkstore.job_counter(spark)
        prep = []
        for _ in range(SETUP_REPEATS):
            with tracer.span("setup.prepare"):
                prep.append(timed(wl.prepare)[1])
        with tracer.span("setup.fixtures"):
            fixtures_s = timed(wl.fixtures)[1]
        setup_s = session_s + stats.median(prep) + fixtures_s

        e2e = None
        with tracer.span("timed") as timed_span:
            try:
                e2e = wl.run()
            except Exception as e:  # noqa: BLE001 — reported as a failed operation
                traceback.print_exc()
                wl.ops.record(f"{args.workload}.run", False, f"{type(e).__name__}: {e}")

        ops = wl.ops
        metrics: dict = {}
        if e2e is not None:
            req = e2e["request_ms"]
            metrics = {
                "setup_s": setup_s,
                "success_rate": (ops.attempted - ops.failed) / ops.attempted,
                "batch_s": e2e["batch_s"],
                "request_ms_p50": stats.median(req),
                f"request_ms_p{TAIL}": stats.percentile(req, TAIL),
            }
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host,
            "versions": {"python": platform.python_version(), "numpy": numpy.__version__,
                         "spark": pyspark.__version__},
            "env": {k: os.environ.get(k) for k in
                    THREAD_ENV + ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")},
            "setup": {"inputs_s": inputs_s, "session_s": session_s, "prepare_s": prep,
                      "fixtures_s": fixtures_s, "setup_s": setup_s},
            "samples": dict(e2e["samples"], request_ms=e2e["request_ms"]) if e2e else {},
            "end_to_end": metrics,
            "attempted": ops.attempted, "failed": ops.failed, "failures": ops.failures,
        }

        end_to_end, per_layer = catalog.metrics()
        layers = {}
        if tracer.enabled and e2e is not None:
            jobs, stages = sparkstore.read(spark, clock_offset)
            layers = dict.fromkeys(per_layer, 0.0)
            layers["session.start_s"] = session_s
            layers.update(wl.common_layers())
            layers.update(wl.layers(jobs, stages))
            for k, v in spark_sum(jobs_within(timed_span, jobs), jobs, stages).items():
                if f"spark.{k}" in layers:
                    layers[f"spark.{k}"] = v
            layers["spark.driver_only_s"] = driver_only_s(timed_span, jobs)
            layers.update({"host.cpus": host["cpus"], "host.mem_gb": host["mem_gb"]})
            owner = attribute_jobs(tracer.spans, jobs)
            own: dict[int, list[int]] = {}
            for jid, sid in owner.items():
                own.setdefault(sid, []).append(jid)
            selft = self_times(tracer.spans)
            record["spans"] = [
                {"id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                 "start": s.start, "end": s.end, "self_s": selft[s.sid], "cpu_s": s.cpu_s,
                 "spark": spark_sum(own.get(s.sid, []), jobs, stages)}
                for s in tracer.spans
            ]
    finally:
        stop_spark(spark)

    probe_post, cpu_post = box_probe_ms(), cpu_probe_ms()
    record["probe_ms"] = {"pre": probe_pre, "post": probe_post}
    record["cpu_probe_ms"] = {"pre": cpu_pre, "post": cpu_post}
    if layers:
        layers.update({"host.probe_ms_pre": probe_pre, "host.probe_ms_post": probe_post,
                       "host.cpu_probe_ms_pre": cpu_pre, "host.cpu_probe_ms_post": cpu_post})
        record["per_layer"] = {
            k: {"value": v, "unit": per_layer[k]["unit"], "better": per_layer[k]["better"],
                **catalog.tags(k)}
            for k, v in layers.items()}

    rec_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=float)
    for name in ops.failures:
        print(f"# FAILED {name}: {ops.failures[name]}", file=sys.stderr)
    print(f"# record: {os.path.relpath(rec_path, ROOT)}", file=sys.stderr)

    shown = layers if args.trace else metrics
    units = ({k: per_layer[k]["unit"] for k in layers} if args.trace
             else {k: end_to_end[k]["unit"] for k in metrics})
    ok = ops.failed == 0 and e2e is not None
    print(json.dumps({
        "correct": ok, "attempted": ops.attempted, "failed": ops.failed,
        "metrics": {stats.check_name(k): {"value": float(v), "unit": units[k]}
                    for k, v in shown.items()},
    }))
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import naru_spark  # noqa: F401
    except ImportError:
        print("perfbench: no naru_spark package beside perfbench/; run it from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(workdir)
    try:
        return bench(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
