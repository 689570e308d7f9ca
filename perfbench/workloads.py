"""The benchmark's workloads, driven through the package's public API.

Each workload is one closed-loop caller: the next query, IVM step or
stream drain starts only after the previous one has returned. Timed
operations are measured with ``time.perf_counter``; the tracer records
spans around each call into a layer for the traced run. Output checks
against DuckDB run outside the timed regions.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from tracing import Tracer

# query_mix: registry queries forced with a noop sink, plus one
# Structured Streaming windowed drain. The batch queries are plain SQL
# view evaluation (program_multiview_chain goes through compile_batch);
# the llm queries are dedup operators, one rebuilding from the whole
# corpus and one applying a delta against standing state. Nothing here
# touches IncrementalProgram, so this workload is the control for IVM
# changes, as ivm_steps is for dedup changes.
MIX_QUERIES = (
    "tpch_q3",
    "tpch_q18_large_orders",
    "program_multiview_chain",
    "dedup_minhash_pairs",
    "y_dedup_delta_apply",
)
LLM_QUERIES = frozenset({"dedup_minhash_pairs", "y_dedup_delta_apply"})
# the tables those queries read through load_table
MIX_TABLES = ("customer", "orders", "lineitem", "documents")

# Six views, one per incremental kind plan() reports: linear,
# aggregate, join, join-aggregate, aggregate-recompute, distinct. The
# joins use qualified column names; unqualified ones fall back to the
# naive path. Money is summed as DECIMAL so the integrated deltas can
# be compared exactly.
IVM_PROGRAM = """
CREATE TABLE orders(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR,
                    o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR);
CREATE TABLE customer(c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER,
                      c_acctbal DOUBLE, c_mktsegment VARCHAR);
CREATE VIEW v_open AS
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
    FROM orders WHERE o_orderstatus = 'O';
CREATE VIEW v_cust_spend AS
    SELECT o_custkey, SUM(price) AS spend, COUNT(*) AS n FROM v_open GROUP BY o_custkey;
CREATE VIEW v_cust_orders AS
    SELECT orders.o_orderkey, orders.o_totalprice, customer.c_custkey, customer.c_mktsegment
    FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey;
CREATE VIEW v_seg AS
    SELECT customer.c_mktsegment, COUNT(*) AS n,
           SUM(CAST(orders.o_totalprice AS DECIMAL(12,2))) AS total
    FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey
    GROUP BY customer.c_mktsegment;
CREATE VIEW v_max_price AS
    SELECT o_custkey, MAX(o_totalprice) AS max_price FROM orders GROUP BY o_custkey;
CREATE VIEW v_prio AS
    SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders;
"""

# Oracle of the windowed drain: 1-hour tumbling COUNT/SUM per event_type.
WINDOW_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS total
FROM events GROUP BY ALL
"""


@dataclass
class Run:
    """State of one benchmark run, shared by the workload functions."""

    spark: object
    tracer: Tracer
    data_dir: str
    seconds: float
    # the processes whose CPU time is counted: this one and its JVM
    pids: tuple = ("self",)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    first_op_at: float | None = None
    steal_at_start: float = 0.0
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    op_samples: list[float] = field(default_factory=list)

    def start_timing(self) -> None:
        if self.first_op_at is None:
            self.first_op_at = time.perf_counter()
            self.steal_at_start = host_steal_s()

    def cpu_s(self) -> float:
        return process_cpu_s(self.pids)

    def check(self, what: str, problems: list[str]) -> None:
        """Record the outcome of one operation's output check."""
        self.attempted += 1
        if problems:
            self.failures.append(f"{what}: {problems[:2]}")


def process_cpu_s(pids) -> float:
    """User plus system CPU seconds of the given processes, all threads."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tail_percentile(values: list[float]) -> dict | None:
    """The highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    n = len(values)
    best = None
    for p in (50, 90, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = {"p": p, "value": statistics.quantiles(values, n=1000)[int(p * 10) - 1], "n": n}
    return best


# ---------------------------------------------------------------- queries


def _oracle_sql(name: str, artifact_root: tuple[str, str]) -> str:
    from sql_to_dbsp_compiler_spark.queries import REGISTRY

    old, new = artifact_root
    return REGISTRY[name].oracle.replace(old, new)


def _query_op(run: Run, name: str, i: int) -> float:
    from sql_to_dbsp_compiler_spark.queries import REGISTRY

    tr = run.tracer
    with tr.operation(f"{name}#{i}"):
        c0, t0 = run.cpu_s(), time.perf_counter()
        with tr.span(f"queries.build_s.{name}"):
            df = REGISTRY[name].fn(run.spark, run.data_dir)
        with tr.span(f"queries.exec_s.{name}"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, run.cpu_s() - c0


def _window_view(df):
    from pyspark.sql import functions as F

    from sql_to_dbsp_compiler_spark.streaming.windows import tumbling_window_agg_stream

    return tumbling_window_agg_stream(
        df,
        "1 hour",
        "1 hour",
        "ts",
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("total"),
    )


def _window_drain(run: Run, stream_dir: str, i: int | str) -> tuple[tuple[float, float], list]:
    """Drain the stream files (one per trigger, ``availableNow``) through
    a watermarked windowed aggregate in the state store."""
    from sql_to_dbsp_compiler_spark.streaming.incremental import run_incremental, stream_from_dir

    tr = run.tracer
    with tr.operation(f"window#{i}"):
        c0, t0 = run.cpu_s(), time.perf_counter()
        with tr.span("sources.bind"):
            src = stream_from_dir(run.spark, stream_dir, _events_schema(), 1)
        with tr.span("streaming.run_incremental"):
            rows = run_incremental(src, _window_view, "complete", f"window_{i}").collect()
        return (time.perf_counter() - t0, run.cpu_s() - c0), rows


def _events_schema():
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType, TimestampType

    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def query_mix(run: Run, artifact_root: tuple[str, str], stream_dir: str) -> None:
    """Set-up runs and checks every query and one drain once against
    DuckDB, then runs them all once more untimed (the warm-up); the
    timed loop then runs them round-robin until the time is up."""
    from sql_to_dbsp_compiler_spark.queries import REGISTRY
    from sql_to_dbsp_compiler_spark.queries.llm_queries import STATE_BUILD_SECONDS
    from sql_to_dbsp_compiler_spark.testing import compare_frames, run_oracle

    tr = run.tracer
    out_rows: dict[str, int] = {}
    for name in MIX_QUERIES:
        try:
            with tr.span(f"warmup.{name}"):
                pdf = REGISTRY[name].fn(run.spark, run.data_dir).toPandas()
            out_rows[name] = len(pdf)
            problems = compare_frames(pdf, run_oracle(_oracle_sql(name, artifact_root), run.data_dir))
        except Exception as exc:  # a raising query is a failed operation, not a crash
            problems = [f"raised {exc!r}"]
        run.check(name, problems)
    # the delta query builds its standing state on first use, so inside
    # set-up: every run starts equally cold
    run.detail["llm.state_build_s"] = sum(STATE_BUILD_SECONDS.values())
    run.detail["state"] = "cold"
    _, win_rows = _window_drain(run, stream_dir, "warmup")
    out_rows["window"] = len(win_rows)
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{stream_dir}/*.parquet')")
        want = Counter(tuple(r) for r in con.execute(WINDOW_ORACLE).fetchall())
    finally:
        con.close()
    got = Counter((r["window_start"], r["event_type"], r["n"], r["total"]) for r in win_rows)
    run.check("window", [] if got == want else [f"{len(got - want)} extra, {len(want - got)} missing rows"])

    ops = (*MIX_QUERIES, "window")

    def one_round(i: int | str) -> dict[str, tuple[float, float]]:
        out = {name: _query_op(run, name, i) for name in MIX_QUERIES}
        out["window"] = _window_drain(run, stream_dir, i)[0]
        return out

    # The JIT goes on compiling the operations' code over their first
    # executions: the round after the checked one still ran 15-30%
    # slower than the rounds after it, by an amount that varied from
    # run to run. It runs untimed, inside set-up.
    one_round("warmup2")

    per_op: dict[str, list[float]] = {n: [] for n in ops}
    per_op_cpu: dict[str, list[float]] = {n: [] for n in ops}
    progress = _ProgressLog() if tr.enabled else None
    if progress is not None:
        run.spark.streams.addListener(progress.listener)
    run.start_timing()
    t_end = time.perf_counter() + run.seconds
    i = 0
    while True:
        for name, (wall, cpu) in one_round(i).items():
            per_op[name].append(wall)
            per_op_cpu[name].append(cpu)
        i += 1
        if time.perf_counter() >= t_end:
            break

    pooled = [x for v in per_op.values() for x in v]
    med = {n: statistics.median(v) for n, v in per_op.items()}
    run.op_samples = pooled
    run.e2e["op_p50_s"] = (statistics.median(pooled), "s")
    run.e2e["op_total_s"] = (sum(med.values()), "s")
    run.e2e["op_cpu_s"] = (sum(statistics.median(v) for v in per_op_cpu.values()), "s")
    batch = [n for n in MIX_QUERIES if n not in LLM_QUERIES]
    run.detail.update(
        {
            "batch.query_p50_s": statistics.median(x for n in batch for x in per_op[n]),
            "batch.total_s": sum(med[n] for n in batch),
            "llm.query_p50_s": statistics.median(x for n in LLM_QUERIES for x in per_op[n]),
            "llm.total_s": sum(med[n] for n in LLM_QUERIES),
            "stream.window_events_per_s": run.detail["events"] / med["window"],
            "rounds": i,
            "op_median_s": med,
            "out_rows": out_rows,
        }
    )
    if tr.enabled:
        run.detail["op_kinds"] = {f"{n}#{k}": n for n in ops for k in range(i)}
        for n in MIX_QUERIES:
            for kind in ("build_s", "exec_s"):
                spans = tr.durations(f"queries.{kind}.{n}", run.detail["op_kinds"])
                run.layer[f"queries.{kind}.{n}"] = (statistics.median(spans), "s")
        for n in sorted(LLM_QUERIES):
            run.layer[f"llm.out_rows.{n}"] = (out_rows.get(n, 0), "count")
        run.layer["llm.state_build_s"] = (run.detail["llm.state_build_s"], "s")
        run.layer["compiler.compile_batch_s"] = run.layer["queries.build_s.program_multiview_chain"]
        _stream_layers(run, progress, drains=i)


# ------------------------------------------------------------ ivm_steps


def _zset_rows(z) -> Counter:
    """Collect a Z-set as {payload row: summed weight}."""
    from sql_to_dbsp_compiler_spark.plans.zset import WEIGHT

    c: Counter = Counter()
    for r in z.df.select(*[x for x in z.df.columns if x != WEIGHT], WEIGHT).collect():
        c[tuple(r[:-1])] += r[-1]
    return c


# A step takes seconds, more than a run's usual length; at least one is
# timed whatever the run's length.
MIN_STEPS = 1


def ivm_steps(run: Run, steps_dir: str, n_steps: int) -> None:
    import pyarrow.parquet as pq

    from sql_to_dbsp_compiler_spark.compiler import IncrementalProgram, SqlProgram
    from sql_to_dbsp_compiler_spark.plans.zset import ZSet
    from sql_to_dbsp_compiler_spark.sources import load_table

    tr, spark = run.tracer, run.spark
    sc = spark.sparkContext
    with tr.span("compiler.parse"):
        prog = SqlProgram.parse(IVM_PROGRAM)
    with tr.span("compiler.construct"):
        inc = IncrementalProgram(spark, prog, optimize=True)
    kinds = inc.plan()
    views = list(kinds)
    with tr.span("sources.bind"):
        base = {t: load_table(spark, run.data_dir, t) for t in ("orders", "customer")}

    integrated = {v: Counter() for v in views}

    def collect(out: dict) -> dict[str, int]:
        sizes = {}
        for v in views:
            with tr.span(f"plans.collect_s.{v}"):
                rows = _zset_rows(out[v])
            sizes[v] = len(rows)
            integrated[v].update(rows)
        return sizes

    def timed_step(op_id: str, deltas: dict) -> tuple[float, float, int, dict[str, int]]:
        with tr.operation(op_id):
            if tr.enabled:
                sc.setJobGroup(op_id, op_id)
            t0 = time.perf_counter()
            with tr.span("compiler.step"):
                out = inc.step(deltas)
            t_call = time.perf_counter() - t0
            jobs = len(sc.statusTracker().getJobIdsForGroup(op_id)) if tr.enabled else 0
            with tr.span("plans.collect"):
                sizes = collect(out)
            wall = time.perf_counter() - t0
            if tr.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setJobDescription(None)
        return wall, t_call, jobs, sizes

    # the initial load builds the standing state the steps maintain, so
    # it belongs to set-up; it is reported on its own as well
    initial, _, _, _ = timed_step("initial", {t: ZSet.from_df(df) for t, df in base.items()})

    def delta(step: int, table: str) -> ZSet:
        d = os.path.join(steps_dir, f"step{step}")
        ins = spark.read.parquet(os.path.join(d, f"{table}_ins.parquet"))
        dele = spark.read.parquet(os.path.join(d, f"{table}_del.parquet"))
        return ZSet.from_df(ins).add(ZSet.from_df(dele, -1))

    run.start_timing()
    per_step = []
    t_end = time.perf_counter() + run.seconds
    k = 0
    while k < n_steps and (k < MIN_STEPS or time.perf_counter() < t_end):
        with tr.span("sources.bind"):
            deltas = {t: delta(k, t) for t in ("orders", "customer")}
        n_in = sum(
            pq.read_metadata(os.path.join(steps_dir, f"step{k}", f"{t}_{s}.parquet")).num_rows
            for t in ("orders", "customer")
            for s in ("ins", "del")
        )
        c0 = run.cpu_s()
        wall, t_call, jobs, sizes = timed_step(f"step{k}", deltas)
        cpu = run.cpu_s() - c0
        per_step.append(
            {
                "step": k,
                "wall_s": wall,
                "cpu_s": cpu,
                "step_call_s": t_call,
                "jobs": jobs,
                "rows_in": n_in,
                "rows_out": sizes,
            }
        )
        k += 1

    # output check: the integral of each view's deltas must equal DuckDB
    # over the final inputs (base plus the applied steps' changes)
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("orders", "customer"):
            ins = [os.path.join(steps_dir, f"step{i}", f"{t}_ins.parquet") for i in range(k)]
            dele = [os.path.join(steps_dir, f"step{i}", f"{t}_del.parquet") for i in range(k)]
            con.execute(
                f"CREATE VIEW {t} AS (SELECT * FROM read_parquet({[os.path.join(run.data_dir, t + '.parquet')] + ins!r}) "
                f"EXCEPT ALL SELECT * FROM read_parquet({dele!r}))"
            )
        for v in prog.views:
            con.execute(f"CREATE VIEW {v.name} AS {v.sql}")
        for v in views:
            want = Counter(tuple(r) for r in con.execute(f"SELECT * FROM {v}").fetchall())
            got = Counter({row: w for row, w in integrated[v].items() if w})
            problems = [] if got == want else [f"{len(got - want)} extra, {len(want - got)} missing rows"]
            run.check(f"ivm:{v}", problems)
    finally:
        con.close()

    walls = [s["wall_s"] for s in per_step]
    rows_in = sum(s["rows_in"] for s in per_step)
    run.op_samples = walls
    run.e2e["op_p50_s"] = (statistics.median(walls), "s")
    # one operation kind, so one pass over the operation set is one step
    run.e2e["op_total_s"] = (statistics.median(walls), "s")
    run.e2e["op_cpu_s"] = (statistics.median(s["cpu_s"] for s in per_step), "s")
    run.detail.update(
        {
            "ivm.initial_load_s": initial,
            "ivm.step_p50_s": statistics.median(walls),
            "ivm.changes_per_s": rows_in / sum(walls),
            "ivm.steps": k,
            "plan": kinds,
        }
    )
    if tr.enabled:
        steps = {f"step{i}" for i in range(k)}
        calls = tr.durations("compiler.step", steps)
        run.layer["compiler.parse_s"] = (tr.durations("compiler.parse")[0], "s")
        run.layer["compiler.construct_s"] = (tr.durations("compiler.construct")[0], "s")
        run.layer["compiler.views_total"] = (len(kinds), "count")
        run.layer["compiler.views_incremental"] = (sum(kd != "naive" for kd in kinds.values()), "count")
        run.layer["compiler.step_call_s"] = (statistics.median(calls), "s")
        run.layer["compiler.step_jobs"] = (statistics.median(s["jobs"] for s in per_step), "count")
        run.layer["plans.collect_s"] = (statistics.median(tr.durations("plans.collect", steps)), "s")
        for v in views:
            run.layer[f"plans.collect_s.{v}"] = (statistics.median(tr.durations(f"plans.collect_s.{v}", steps)), "s")
            run.layer[f"plans.delta_rows_out.{v}"] = (statistics.median(s["rows_out"][v] for s in per_step), "count")
        run.layer["plans.delta_rows_in"] = (statistics.median(s["rows_in"] for s in per_step), "count")
        run.layer["plans.delta_amplification"] = (
            sum(sum(s["rows_out"].values()) for s in per_step) / rows_in,
            "ratio",
        )
        run.detail["by_step"] = per_step
        run.detail["op_kinds"] = dict.fromkeys(steps, "step")


# ------------------------------------------------------------ streaming


class _ProgressLog:
    """StreamingQueryListener that keeps every progress event's numbers."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.progress: list[dict] = []
        self.terminated = 0

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                log.progress.append(
                    {
                        "id": str(p.id),
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log.terminated += 1

        self.listener = L()


def _stream_layers(run: Run, progress: _ProgressLog, drains: int) -> None:
    deadline = time.time() + 10
    while progress.terminated < drains and time.time() < deadline:
        time.sleep(0.05)
    run.spark.streams.removeListener(progress.listener)
    pr = progress.progress
    batches = [p for p in pr if p["input_rows"] > 0]

    def med(key: str) -> float:
        return statistics.median(p["duration_ms"].get(key, 0) for p in batches) if batches else 0.0

    run.layer["streaming.trigger_ms"] = (med("triggerExecution"), "ms")
    run.layer["streaming.add_batch_ms"] = (med("addBatch"), "ms")
    run.layer["streaming.query_planning_ms"] = (med("queryPlanning"), "ms")
    run.layer["streaming.wal_commit_ms"] = (med("walCommit"), "ms")
    run.layer["streaming.state_rows_total"] = (max((p["state_rows"] for p in pr), default=0), "count")
    run.layer["streaming.state_memory_bytes"] = (max((p["state_bytes"] for p in pr), default=0), "bytes")
    run.layer["streaming.input_rows"] = (statistics.median(p["input_rows"] for p in batches) if batches else 0, "count")
