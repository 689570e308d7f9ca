"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload ivm_steps --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The seeded inputs are generated into
``.perfbench_work/`` under the checkout before set-up timing starts;
the package then runs on them at ``local[n]`` with n = the usable core
count (``SPARK_GRAFT_CPUS``), every other session setting at the
package's defaults. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). The line
before it, prefixed ``detail:``, holds every other figure of the run.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Scale factor, IVM delta sizes and stream file count. The sizes keep a
# run of each workload within the benchmark's time budget on a 4-core
# host; see perfbench/README.md.
SF = 0.01
IVM_DELTA = {"n_ins": 1000, "n_del": 200, "n_upd": 20}
IVM_MAX_STEPS = 8
STREAM_FILES = 2

WORKLOADS = ("ivm_steps", "query_mix")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _isolate(work: str, trace: bool) -> None:
    """Keep everything Spark and the JVM write inside ``work``."""
    for sub in ("tmp", "spark-local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = f'--driver-java-options "-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData" '
    if trace:
        from tracing import event_log_submit_args

        args += event_log_submit_args(os.path.join(work, "events"))
    else:
        args += "pyspark-shell"
    os.environ["PYSPARK_SUBMIT_ARGS"] = args


def _redirect_artifacts(work: str) -> tuple[str, str]:
    """The dedup/similarity queries keep state under one absolute
    artifact directory shared by every checkout. Point each such path
    at this run's own directory; returns (old root, new root) so the
    oracles that read those files can be rewritten the same way."""
    from sql_to_dbsp_compiler_spark.queries import llm_queries

    old = os.path.dirname(llm_queries._DELTA_STATE_ROOT)
    new = os.path.join(work, "artifacts")
    for name, value in vars(llm_queries).items():
        if isinstance(value, str) and value.startswith(old + "/"):
            setattr(llm_queries, name, new + value[len(old) :])
    return old, new


def _declared(trace: bool) -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _spark_layers(run, work: str, cores: int) -> None:
    """Fold the event log into per-operation counts; report, per
    operation kind, the median over its operations, summed over kinds
    (one pass over the workload's operation set)."""
    from tracing import SPARK_COUNTS, fold_event_log

    per_op = fold_event_log(os.path.join(work, "events"), run.tracer.ops)
    kinds: dict[str, list[str]] = {}
    for op, kind in run.detail.get("op_kinds", {}).items():
        if op in per_op:
            kinds.setdefault(kind, []).append(op)
    wall = {op: e - s for op, (s, e) in run.tracer.ops.items()}

    def one_pass(f) -> float:
        return sum(statistics.median(f(op) for op in ops) for ops in kinds.values())

    for key, unit in SPARK_COUNTS.items():
        run.layer[f"spark.{key}"] = (one_pass(lambda op: per_op[op][key]), unit)
    run.layer["spark.driver_s"] = (one_pass(lambda op: wall[op] - per_op[op]["job_s"]), "s")
    run.layer["spark.core_util"] = (
        one_pass(lambda op: per_op[op]["executor_run_s"]) / (one_pass(lambda op: wall[op]) * cores),
        "ratio",
    )
    if "by_step" in run.detail:
        for s in run.detail["by_step"]:
            s["stages"] = per_op.get(f"step{s['step']}", {}).get("stages", 0)
    run.detail["spark_by_op"] = per_op


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "sql_to_dbsp_compiler_spark")):
        print("perfbench: the package is not next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the session runs in UTC; collected timestamps must be read in UTC too
    os.environ["TZ"] = "UTC"
    time.tzset()
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, trace, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, trace: bool, cores: int, work: str) -> int:
    import gen
    from tracing import Tracer

    _isolate(work, trace)

    # -- load generation (excluded from set-up time)
    t_gen = time.perf_counter()
    data_dir = os.path.join(work, "data")
    tables = gen.write_tables(data_dir, args.seed, SF)
    steps_dir = os.path.join(work, "ivm")
    stream_dir = os.path.join(work, "stream")
    if args.workload == "ivm_steps":
        gen.write_ivm_deltas(steps_dir, args.seed, tables, IVM_MAX_STEPS, **IVM_DELTA)
    else:
        gen.write_stream_files(stream_dir, args.seed, tables["events"], STREAM_FILES)
    gen_s = time.perf_counter() - t_gen

    import workloads

    tracer = Tracer(trace)
    with tracer.span("session.start"):
        from sql_to_dbsp_compiler_spark.session import get_spark

        spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        artifact_root = _redirect_artifacts(work)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        run = workloads.Run(spark, tracer, data_dir, args.seconds, pids=("self", jvm_pid))
        if args.workload == "ivm_steps":
            workloads.ivm_steps(run, steps_dir, IVM_MAX_STEPS)
        else:
            with tracer.span("sources.bind"):
                from sql_to_dbsp_compiler_spark.sources import load_table

                for name in workloads.MIX_TABLES:
                    load_table(spark, data_dir, name)
            run.detail["events"] = tables["events"].num_rows
            workloads.query_mix(run, artifact_root, stream_dir)
        peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        steal_s = workloads.host_steal_s() - run.steal_at_start
    finally:
        _stop(spark)

    setup_s = run.first_op_at - T_PROCESS - gen_s
    run.e2e["setup_s"] = (setup_s, "s")
    run.detail["peak_rss_mb"] = peak_rss
    run.detail["host_steal_s"] = steal_s
    failed = len(run.failures)
    run.detail.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "sf": SF,
            "seconds": args.seconds,
            "trace": int(trace),
            "gen_s": gen_s,
            "ivm_delta": IVM_DELTA,
            "stream_files": STREAM_FILES,
            "ops_failed_frac": failed / max(run.attempted, 1),
            "failures": run.failures,
            "op_tail": workloads.tail_percentile(run.op_samples),
            "e2e": {k: v for k, (v, _) in run.e2e.items()},
        }
    )
    if trace:
        run.layer["session.start_s"] = (tracer.durations("session.start")[0], "s")
        run.layer["sources.bind_s"] = (sum(tracer.durations("sources.bind")), "s")
        _spark_layers(run, work, cores)
        run.detail["self_time_s"] = tracer.self_times()
        run.detail["per_layer"] = {k: v for k, (v, _) in run.layer.items()}
    declared = _declared(trace)
    got = run.layer if trace else run.e2e
    # exactly the metrics BENCHMARK.json declares; a layer this workload
    # does not exercise reads 0
    metrics = {name: (got.get(name, (0, unit))[0], unit) for name, unit in declared}
    print("detail: " + json.dumps(run.detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
