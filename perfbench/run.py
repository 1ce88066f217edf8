"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_sql,skew_stream}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The harness generates its inputs from the
seed, starts one ``local[4]`` session (``SPARK_GRAFT_CPUS=4``,
``SPARK_GRAFT_DRIVER_MEM=3g``, the repository on ``PYTHONPATH`` so Python
workers import the package), and keeps every file it writes under
``.perfbench_run/`` (removed at exit) and ``.perfbench_out/`` (span files).

A run is set-up (session start; input staging, three times, median kept;
one untimed warm-up), then closed-loop passes until ``--seconds`` have
elapsed (at least one), then the output check of the last pass.
``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
and then one traced pass plus the workload's extra traced measurements,
and prints the per-layer metrics; layers the workload does not exercise
read 0. Metric names and units come from ``BENCHMARK.json``. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "3g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("batch_sql", "skew_stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _missing_inputs() -> str | None:
    for rel in ("reshape_on_flink_spark/__init__.py", "tools/oracle_check.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def _pin_environment(work: str, cores: int) -> None:
    """Every process the run starts (JVM, Python workers) inherits these."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # keep the JVMs' scratch files (hsperfdata, java.io.tmpdir) in the run dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    for p in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _start_session(work: str, cores: int):
    from reshape_on_flink_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_confs={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
            # keep every job of a run in the status store for the traced pass
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _environment(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "nproc": os.cpu_count(),
    }


def measure(args, spark, session_start: float, work: str, spec: dict):
    import workloads
    from probes import tail

    env = _environment(spark)
    print(f"# environment {json.dumps(env)}", flush=True)
    wl = workloads.make(
        args.workload, spark, work, args.seed, CORES,
        lambda cores: _start_session(work, cores),
    )

    stage_s = statistics.median(wl.stage() for _ in range(workloads.STAGE_REPEATS))
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0

    passes, t_start = [], time.perf_counter()
    while not passes or time.perf_counter() - t_start < args.seconds:
        passes.append(wl.run_pass())
    wl.check_last()

    wall = statistics.median(p["wall_s"] for p in passes)
    ops = [o for p in passes for o in p["ops_s"]]
    tail_q, tail_v = tail(ops)
    values = {
        "setup_s": session_start + stage_s + warm_s,
        "wall_s": wall,
        "op_p50_s": statistics.median(ops),
        "op_tail_s": tail_v,
        "rows_per_s": wl.input_rows / wall,
        "ok_rate": 1.0 - wl.failed / max(1, wl.attempted),
    }
    print(
        f"# {args.workload}: {len(passes)} timed pass(es), {len(ops)} operations; "
        f"op_tail_s is p{tail_q:.0f} of {len(ops)} samples; "
        f"set-up = session {session_start:.2f} s + staging {stage_s:.2f} s + warm-up {warm_s:.2f} s",
        flush=True,
    )

    if args.trace:
        wl.layer.update({"session.start_s": session_start, "stage.write_s": stage_s})
        values = _trace(args, spark, wl, passes[-1], env, spec)
    return values, wl


def _trace(args, spark, wl, reference: dict, env: dict, spec: dict) -> dict:
    """One traced pass and the workload's traced extras; returns every
    per-layer metric. ``reference`` is the untraced pass just before."""
    from probes import PhaseListener, Tracer, peak_rss_mb

    tracer = Tracer(wl.status)
    listener = PhaseListener()
    spark.streams.addListener(listener)
    try:
        with tracer.span(args.workload, "workload"):
            with tracer.span("pass", "pass") as sp:
                traced = wl.run_pass(tracer)
            wl.check_last()
            wl.layer.update(listener.phases())
            wl.layer_from_trace(traced)
            wl.layer.update(wl.status.layer(sp["job_lo"], sp["job_hi"], traced["wall_s"]))
            wl.layer["jvm.peak_rss_mb"] = peak_rss_mb(wl.status.jvm_pid())
            spark.streams.removeListener(listener)
            listener = None
            wl.trace_extra(reference, tracer)
    finally:
        if listener is not None:
            spark.streams.removeListener(listener)
    wl.layer["trace.overhead_s"] = traced["wall_s"] - reference["wall_s"]

    declared = [m["name"] for m in spec["per_layer"]]
    unknown = set(wl.layer) - set(declared)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    idle = [n for n in declared if n not in wl.layer]
    print(f"# layers this workload does not exercise, reported as 0: {' '.join(idle)}", flush=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    span_file = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
    tracer.write(span_file, {**env, "workload": args.workload, "seed": args.seed})
    print(f"# spans: {len(tracer.spans)} written to {os.path.relpath(span_file, ROOT)}", flush=True)
    return {n: wl.layer.get(n, 0.0) for n in declared}


def _stop(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit (it exits when
    its stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    missing = _missing_inputs()
    if missing:
        print(f"perfbench: {missing} not found beside perfbench/; run from a repository checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _pin_environment(work, CORES)
        t0 = time.perf_counter()
        spark = _start_session(work, CORES)
        session_start = time.perf_counter() - t0
        values, wl = measure(args, spark, session_start, work, spec)
        spark = wl.spark  # a traced run may have restarted the session
        metrics = {}
        for m in declared:
            v = values[m["name"]]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']:40s} {v:16.6f} {m['unit']}", flush=True)
        correct = wl.failed == 0
        print(json.dumps({
            "correct": correct, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics,
        }), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still has its directory there


if __name__ == "__main__":
    sys.exit(main())
