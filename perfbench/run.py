"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_trickle --seed 1 --seconds 16 --trace 0

Run from the repository root. The engine runs on ``local[N]`` with
``SPARK_GRAFT_CPUS=N`` (N = ``--cpus``, default: the host's CPU count)
and ``SPARK_LOCAL_DIRS`` under ``.perfbench/``; every other session
setting is the engine's own default. Temp files of Python and the JVM
go under ``.perfbench/`` as well. Inputs are generated from
``--seed`` under ``.perfbench/``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is the host stamp. A
full record (host stamp, both metric sets, failure reasons and, when
traced, every span) goes to ``.perfbench/out/``; ``layers.py`` prints
it as a layer table.
"""

from __future__ import annotations

import time

STARTED = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "snowflake_data_pipeline_demo_spark"

#: name -> unit, in BENCHMARK.json order
END_TO_END = {"setup_s": "s", "op_wall_s": "s", "rows_per_s": "rows/s",
              "op_cpu_s": "s"}


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    from spans import COUNTERS
    from workloads import LANES, TRICKLE_SPANS

    unit = {"wall_s": "s", "driver_s": "s", "jobs": "count",
            "executor_run_s": "s", "executor_cpu_s": "s", "shuffle_bytes": "bytes"}
    out = [(f"{s}.{c}", unit[c]) for s in TRICKLE_SPANS for c in COUNTERS]
    for s in ("pipe", "tasks.push_trips", "tasks.push_programs", "tasks.push_stations"):
        out += [(f"{s}.{k}", "s") for k in ("query_start_s", "latest_offset_s", "add_batch_s")]
    out += [("tasks.purge_files.files", "count"),
            ("merge.programs.insert_ratio", "ratio"),
            ("merge.stations.insert_ratio", "ratio"),
            ("catalog.files.raw", "count"), ("catalog.files.trips", "count"),
            ("catalog.files.ledgers", "count"), ("catalog.bytes_per_row", "bytes"),
            ("trickle.wave_growth_s", "s"), ("trickle.uncovered_s", "s")]
    for names in LANES.values():
        for n in names:
            out += [(f"lane.{n}.wall_s", "s"), (f"lane.{n}.jobs", "count")]
    for slice_ in LANES:
        out += [(f"lanes.{slice_}.{c}", u) for c, u in (
            ("driver_s", "s"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
            ("shuffle_bytes", "bytes"), ("tasks", "count"))]
    out += [("spark.gc_s", "s"), ("spark.spill_bytes", "bytes"), ("spark.tasks", "count"),
            ("session.jvm_peak_rss_mb", "MB"), ("trickle.freshness_tail_s", "s")]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run.py: no {PACKAGE}/ under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # keep temp files (py4j handshake, native-library extraction, JVM perf
    # data) inside the checkout too
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    from spans import Tracer, host_steal_s

    steal0, load0 = host_steal_s(), os.getloadavg()[0]

    from snowflake_data_pipeline_demo_spark.session import get_spark

    spark = get_spark("perfbench")
    gateway = spark.sparkContext._gateway
    jvm_pid = gateway.proc.pid
    session_s = time.time() - STARTED
    try:
        tracer = Tracer(spark, bool(args.trace))
        ctx = Context(spark, tracer, args.seed, args.seconds, work, STARTED)
        out = WORKLOADS[args.workload](ctx)
        rss = _vm_hwm_mb(jvm_pid)
        host = {
            "nproc": os.cpu_count(), "spark_graft_cpus": args.cpus,
            "steal_s": round(host_steal_s() - steal0, 2), "loadavg_start": load0,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            gateway.proc.kill()
            gateway.proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    e2e = {n: getattr(out, n) for n in END_TO_END}
    measured = {**out.layers, "session.jvm_peak_rss_mb": rss}
    # the result line carries every per-layer metric as a number; one this
    # run did not produce (a layer the workload leaves idle, or tracing
    # off) reads 0 there and is named in the record
    unmeasured = [n for n, _ in per_layer_names() if n not in measured]
    layers = {n: measured.get(n, 0.0) for n, _ in per_layer_names()}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "session_s": session_s,
        "end_to_end": e2e, "per_layer": layers, "unmeasured": unmeasured,
        "attempted": out.attempted, "failed": out.failed,
        "failures": out.failures, "info": out.info,
        "spans": tracer.dump(),
    }
    out_dir = os.path.join(state, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-c{args.cpus}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    if args.trace:
        units = dict(per_layer_names())
        metrics = {n: {"value": v, "unit": units[n]} for n, v in layers.items()}
    else:
        metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in e2e.items()}
    for reason in out.failures:
        print(f"FAILED {reason}")
    print(json.dumps({"host": host, "session_s": session_s,
                      "end_to_end": e2e,
                      "span_walls": tracer.walls(), "info": out.info}, default=str))
    for m in metrics.values():  # a metric an all-failed loop left undefined
        if not math.isfinite(m["value"]):
            m["value"] = None
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
