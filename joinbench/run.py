"""Stream-join benchmark entry point.

    python3 joinbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: ``live_timeout`` (open-loop
generator feeding both reference outputs at once), ``batch_twins`` (the
registered j1-j3 batch joins, the control) and ``replay_clicked`` (closed-loop
backlog drain through the clicked-displays join; runnable, but not in
``BENCHMARK.json`` because its figures did not hold still on a shared 4-core
VM). Every output is checked against DuckDB.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the workload
untraced and traced (traced first on odd seeds, so the warmer second pass
favours neither side over a set of seeds), prints the per-layer metrics with
the tracing overhead between the two, and writes the spans to
``.bench_work/traces/``. A traced streaming run also drains the replay
backlog once on ``local[1]`` (``topology.one_core_rps``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The exit code is 0 only when every output matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kafka_streams_join_spark"


def pin_machine(work: str) -> dict:
    """Pin the session to this machine's shape before the package reads its
    environment: all visible cores, and a driver heap of a quarter of RAM,
    at most 2 GiB (the session default is 16g, more than many boxes have).
    Spark's scratch and temp files stay in ``work``."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_KAFKA", None)  # it would fetch the Kafka connector
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    return {"cores": cores, "mem_total_mb": mem_kb // 1024, "driver_heap_mb": heap_mb}


def main() -> int:
    p = argparse.ArgumentParser(description="Stream-join benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"joinbench: no {PACKAGE}/ package under {ROOT}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}-{time.time_ns()}")
    machine = pin_machine(work)
    sys.path.insert(0, ROOT)

    from joinbench import workloads as wl
    from joinbench.observe import Tracer

    if a.workload not in wl.WORKLOADS:
        print(f"joinbench: unknown workload {a.workload!r}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2
    tag = f"{a.workload}-seed{a.seed}"
    tracer = Tracer(bool(a.trace), tag)
    sess = None
    measures = []
    error = None
    try:
        sess = wl.setup(ROOT, work, tracer)
        machine.update(_versions(sess.spark))
        m = wl.Measure(sess, a.seed, a.seconds, tracer, a.workload)
        order = [m]
        if a.trace:
            base = wl.Measure(sess, a.seed, a.seconds, Tracer(False, tag), "untraced")
            order = [m, base] if a.seed % 2 else [base, m]
        for x in order:
            measures.append(x)
            wl.WORKLOADS[a.workload](x)
        wl.finish(m)
        if a.trace:
            key, higher = wl.HEADLINE[a.workload]
            was, now = base.metrics[key], m.metrics[key]
            m.layers["trace.overhead_pct"] = 100 * ((was - now) if higher else (now - was)) / was
            if a.workload in ("replay_clicked", "live_timeout"):
                sess.spark.stop()  # keep the JVM for a session on one core
                m.layers["topology.one_core_rps"] = wl.one_core_rps(ROOT, work, a.seed)
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        if sess is not None:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            wl.stop_spark(active or sess.spark)
        tracer.write(os.path.join(ROOT, ".bench_work", "traces", f"{tag}.json"))
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(x.attempted for x in measures)
    failed = sum(x.failed for x in measures)
    if error is not None:
        attempted += 1
        failed += 1
    m = next((x for x in measures if x.name == a.workload), None)
    names = wl.PER_LAYER if a.trace else wl.END_TO_END
    got = (m.layers if a.trace else m.metrics) if m else {}
    metrics = {k: {"value": float(got.get(k, 0.0)), "unit": u} for k, u in names.items()}
    for x in measures:
        for note in x.notes:
            print(f"[{x.name}] {note}")
    print("machine: " + json.dumps(machine, sort_keys=True))
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"failed_ratio = {failed / attempted:.6g} ({failed}/{attempted})")
    correct = error is None and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def _versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "state_store": spark.conf.get("spark.sql.streaming.stateStore.providerClass"),
    }


if __name__ == "__main__":
    sys.exit(main())
