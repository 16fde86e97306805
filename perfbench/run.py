"""Seeded benchmark of next_plaid_spark's public API.

Run from the repository root:

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 14 --trace 0

Inputs are generated from ``--seed``; the measured read window lasts
``--seconds``. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics of
a traced run (see README.md). Every line before it is a human-readable
detail: each metric with its unit and sample count, the output checks, the
input properties and the environment.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170

# every workload reports each of these, in this order (BENCHMARK.json lists them)
END_TO_END = ("setup_s", "peak_rss_mb", "op_s", "op_cpu_s", "index_bytes_per_token")


def _environment(tmp: str, trace: bool) -> dict:
    """Give the session's task threads half of this host's cores (the JVM's
    driver, JIT and GC threads and the Python driver use the rest), scrub
    engine knobs a caller's shell may carry, and keep every file the run
    writes under ``tmp``."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    scrubbed = sorted(k for k in os.environ
                      if k.startswith("SPARK_GRAFT_") or k == "SPARK_DRIVER_MEMORY")
    for key in scrubbed:
        del os.environ[key]
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")}
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    # the JVM's JIT and GC threads are capped like the task threads: by
    # default they scale with the host's cores and contend with the tasks
    jvm = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:CICompilerCount=2 "
           f"-XX:ParallelGCThreads={cpus} -XX:ConcGCThreads=1")
    args += ["--driver-java-options", jvm, "pyspark-shell"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in args),
    })
    tempfile.tempdir = tmp
    return {"cpus": cpus, "python": sys.version.split()[0], "scrubbed": scrubbed}


def _jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _shutdown(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _on_term(signum, frame):
    # unwinds through main's cleanup: the JVM is stopped and temp dirs go
    raise SystemExit(128 + signum)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "next_plaid_spark")):
        print(f"next_plaid_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from tracing import (NullTracer, Tracer, dump_spans, layer_metrics,
                         per_layer_names, top_level_coverage)

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(work_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=work_dir)
    env = _environment(tmp, bool(args.trace))
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(DEADLINE_S)
    tracer = Tracer() if args.trace else NullTracer()
    spark = None
    try:
        if args.trace:
            tracer.install()
        from next_plaid_spark import session

        t = time.perf_counter()
        spark = session.get_spark("perfbench")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        spark_version = spark.version
        run = workloads.Run(spark, tracer, tmp, args.seed, args.seconds)
        e2e = workloads.WORKLOADS[args.workload](run, session_s)
        e2e["peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB", 1)
        jvm_hwm = _jvm_hwm_mb(spark)
        _shutdown(spark)
        spark = None

        for name, (value, unit, n) in e2e.items():
            print(f"metric {name} {value:.6g} {unit} (n={n})")
        print("\n".join(run.notes))
        print(f"env: workload={args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} cpus={env['cpus']} python={env['python']} "
              f"pyspark={spark_version} scrubbed={env['scrubbed']}")
        if args.trace:
            per_layer = layer_metrics(tracer, os.path.join(tmp, "events"))
            per_layer["spark.jvm_hwm_mb"] = jvm_hwm
            per_layer["trace.overhead_s"] = tracer.overhead_s
            cov = top_level_coverage(tracer, run.windows)
            print(f"trace: top-level spans cover {cov:.3f} of the timed wall")
            dump_spans(tracer, os.path.join(
                work_dir, "traces", f"{args.workload}-seed{args.seed}.json"))
            metrics = {name: {"value": per_layer.get(name, 0.0), "unit": unit}
                       for name, unit in per_layer_names()}
        else:
            if set(e2e) != set(END_TO_END):
                raise RuntimeError(f"workload metrics {sorted(e2e)} do not match END_TO_END")
            metrics = {name: {"value": e2e[name][0], "unit": e2e[name][1]}
                       for name in END_TO_END}
        print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            try:
                _shutdown(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
