#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 10 --trace 0

Run from the repository root.  It reads the sf0.1 tables under
``perfbench/data``, builds one SparkSession at ``local[<nproc>]``,
warms every operation up while checking its rows against DuckDB, then runs
passes over the workload until ``--seconds`` have elapsed, each operation
starting after the previous one returns.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they are
the per-layer profile (see README.md).  A full report, with provenance and
quartiles, goes to ``.perfbench/reports/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import apache_hive_2_1_1_src_spark  # noqa: E402,F401  (fails outside a full checkout)
import oracle  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402

SHUFFLE_PARTITIONS = 8  # bench.py's sf0.1 setting


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``pid`` and
    every live descendant."""
    ticks = 0
    for p in (pid, *descendants(pid)):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every worker it forked exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    leftover = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in leftover:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ------------------------------------------------------------- helpers


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3 if values else []
    return statistics.quantiles(values, n=4, method="inclusive")


def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


def provenance(args, data_dir: str, passes: int) -> dict:
    import duckdb
    import pyspark

    try:
        head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        head = None
    pkg = os.path.join(ROOT, "apache_hive_2_1_1_src_spark")
    h = hashlib.sha256()
    for root, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(root, n), "rb") as f:
                    h.update(f.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "sf": args.sf,
        "data_dir": os.path.relpath(data_dir, ROOT),
        "passes": passes,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM"),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_head": head,
        "package_sha256": h.hexdigest()[:16],
    }


# ---------------------------------------------------------- benchmark


class Bench:
    def __init__(self, args, data_dir: str, work: str, run_dir: str):
        self.args, self.data_dir, self.run_dir = args, data_dir, run_dir
        self.workload = args.workload
        self.trace_log = tracing.Tracer()  # spans of the traced passes
        self.tracer = tracing.NullTracer()  # the current pass's tracer
        self.ops: list[dict] = []  # one record per executed operation
        self.passes: list[dict] = []
        self.errors: list[str] = []
        self.tracebacks: list[str] = []
        self.digests: dict[str, str] = {}
        self.pending = None  # the warm-up rows and column names, checked next
        if self.workload == "hiveql_dml":
            self.plan = wl.dml_plan(args.seed)
            self.by_name = {op.name: op for op in self.plan.ops}
            self.expected = wl.replay_dml(data_dir, self.plan)
        else:
            names = wl.READ_WORKLOADS[self.workload]
            cache = os.path.join(work, "oracle", os.path.basename(data_dir))
            self.oracle = oracle.oracle_rows(data_dir, cache, names, nproc())

    # ------------------------------------------------------- session

    def start(self) -> None:
        from apache_hive_2_1_1_src_spark.session import HiveEngine, build_session

        conf = {
            "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir}/tmp -XX:-UsePerfData",
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.run_dir, "eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(self.run_dir, "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            warehouse_dir=os.path.join(self.run_dir, "warehouse"),
            extra_conf=conf,
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.engine_s = 0.0
        if self.workload == "hiveql_dml":
            t1 = time.perf_counter()
            self._label("setup", "setup")
            engine = HiveEngine(self.spark, self.data_dir)
            engine.register_tables(self.data_dir)
            self.engine_s = time.perf_counter() - t1
            self.runner = wl.DmlRunner(self.spark, engine, self.plan, os.path.join(self.run_dir, "acid"))
        else:
            from apache_hive_2_1_1_src_spark.queries import all_queries

            self.queries = all_queries()

    def _label(self, op: str, tag: str) -> None:
        """Job group ``<workload>:<op>`` plus the pass tag, in a traced run."""
        if self.args.trace:
            self.sc.setJobGroup(f"{self.workload}:{op}", f"pass={tag}")
            self.sc.setLocalProperty(tracing.PASS_PROP, tag)
            self.sc.setLocalProperty(tracing.PHASE_PROP, "build")

    # --------------------------------------------------- operations

    def _count(self, df) -> int:
        """The operation's action.  The warm-up collects the rows instead,
        so they can be checked once the operation's time is taken."""
        if self.mode == "check":
            rows = df.collect()
            self.pending = (rows, [c.lower() for c in df.columns])
            return len(rows)
        if self.tracer.enabled:
            return tracing.traced_count(self.tracer, df)
        return df.count()

    def _op(self, name: str):
        """One operation; returns its row count, or ``None`` for a DML
        operation that reads nothing."""
        if self.workload == "hiveql_dml":
            return self.runner.run(self.by_name[name], self._count)
        with self.tracer.span("queries.build"):
            df = self.queries[name](self.spark, self.data_dir)
        return self._count(df)

    def _expected_rows(self, name: str) -> list:
        if self.workload == "hiveql_dml":
            return self.expected.get(name)
        return self.oracle[name]

    def _verify(self, name: str, n) -> str | None:
        """Row count of every run against the oracle; in the warm-up, every
        row first."""
        want = self._expected_rows(name)
        if self.pending is not None:
            got, self.pending = self.pending, None
            rows = [list(r) for r in oracle.canon(*got)]
            self.digests[name] = wl.digest(rows)
            if self.workload == "hiveql_dml":
                if rows != want:
                    return f"{name}: digest differs from DuckDB replay"
            elif err := oracle.compare(name, self.args.sf, rows, want):
                return err
        if want is None:
            want_n = None
        elif self.workload == "hiveql_dml":
            want_n = len(want)
        else:
            want_n = oracle.expected_count(name, self.args.sf, want)
        return None if n == want_n else f"{name}: returned {n} rows, expected {want_n}"

    def run_pass(self, tag: str, mode: str) -> dict:
        """One pass over the workload.  Its wall and process-tree CPU
        seconds leave out the warm-up's row checks."""
        pass_no = len(self.passes)
        if self.workload == "hiveql_dml":
            order = [op.name for op in self.plan.ops]
        else:
            order = wl.pass_order(wl.READ_WORKLOADS[self.workload], self.args.seed, pass_no)
        self.mode = mode
        self.tracer = self.trace_log if mode == "traced" else tracing.NullTracer()
        if self.workload == "hiveql_dml":
            self.runner.tr = self.tracer
        undo = tracing.patch_load_table(self.tracer, self.sc) if mode == "traced" else None
        check_s = check_cpu = 0.0
        failed_pass = False
        pid = os.getpid()
        cpu0, ticks0 = tree_cpu_s(pid), cpu_ticks()
        t_pass = time.perf_counter()
        for name in order:
            self._label(name, tag)
            self.tracer.begin_op(f"{tag}:{name}")
            t0 = time.perf_counter()
            err = None
            try:
                n = self._op(name)
            except Exception as e:  # a failed operation is counted, and the run goes on
                err = f"{name}: {type(e).__name__}: {str(e)[:300]}"
                self.tracebacks.append(traceback.format_exc())
            latency = time.perf_counter() - t0
            if err is None and mode == "check":
                t_check, c_check = time.perf_counter(), tree_cpu_s(pid)
                try:
                    err = self._verify(name, n)
                except Exception as e:
                    err = f"{name}: check raised {type(e).__name__}: {str(e)[:300]}"
                    self.tracebacks.append(traceback.format_exc())
                check_s += time.perf_counter() - t_check
                check_cpu += tree_cpu_s(pid) - c_check
            elif err is None:
                err = self._verify(name, n)
            self.pending = None
            if err:
                self.errors.append(f"[{tag}] {err}")
                failed_pass = True
            self.ops.append({"pass": tag, "op": name, "latency_s": latency, "ok": err is None})
        if self.workload == "hiveql_dml":
            stored = self.runner.stored_bytes(os.path.join(self.run_dir, "warehouse"))
            if failed_pass:
                self.runner.drop_all()
        else:
            stored = 0
        if undo:
            undo()
        record = {
            "tag": tag,
            "order": order,
            "seconds": time.perf_counter() - t_pass - check_s,
            "cpu_s": tree_cpu_s(pid) - cpu0 - check_cpu,
            "steal_frac": steal_frac(ticks0, cpu_ticks()),
            "stored_bytes": stored,
        }
        self.passes.append(record)
        return record

    # ------------------------------------------------------- metrics

    def e2e_metrics(self, setup_cpu_s: float, setup_wall_s: float) -> tuple[dict, dict]:
        """The bounded end-to-end metrics, and the wall-clock figures the
        report carries beside them.  Bounded costs are CPU seconds of the
        whole process tree, which hypervisor steal moves less than wall
        time (see README.md)."""
        timed = [p for p in self.passes if p["tag"].startswith("p")]
        cpu = [p["cpu_s"] for p in timed]
        wall = [p["seconds"] for p in timed]
        lat = [o["latency_s"] for o in self.ops if o["pass"].startswith("p")]
        metrics = {
            "setup_s": (setup_cpu_s, "s", [setup_cpu_s]),
            "pass_cpu_s": (statistics.median(cpu), "s", cpu),
        }
        reported = {
            "setup_wall_s": (setup_wall_s, "s", [setup_wall_s]),
            "pass_s": (statistics.median(wall), "s", wall),
            "op_p50_s": (statistics.median(lat), "s", lat),
            "op_p90_s": (percentile(lat, 90), "s", lat),
        }
        return metrics, reported

    def layer_metrics(self, profile: tracing.SparkProfile) -> tuple[dict, dict]:
        tr = self.trace_log
        traced = [p for p in self.passes if p["tag"].startswith("t")]
        n = len(traced)
        tags = {p["tag"] for p in traced}
        mine = [s for s in tr.spans if s.op.split(":", 1)[0] in tags]

        def spans(name: str) -> float:
            return sum(s.seconds for s in mine if s.name == name) / n

        def calls(name: str) -> float:
            return sum(1 for s in mine if s.name == name) / n

        def counted(name: str) -> float:
            return sum(c.get(name, 0.0) for op, c in tr.counts.items() if op.split(":", 1)[0] in tags) / n

        def spark(key: str) -> float:
            return sum(profile.per_pass.get(t, {}).get(key, 0.0) for t in tags) / n

        io_in_build = sum(
            s.seconds for s in mine if s.name == "io.load_table" and s.parent == "queries.build"
        ) / n
        stored = traced[-1]["stored_bytes"] / os.path.getsize(os.path.join(self.data_dir, "orders.parquet"))
        plain = [p["seconds"] for p in self.passes if p["tag"].startswith("p")]
        overhead = statistics.median(p["seconds"] for p in traced) - statistics.median(plain)
        addup = self.add_up()
        m = {
            "session.setup_s": (self.session_s, "s"),
            "session.engine_init_s": (self.engine_s, "s"),
            "session.sql_s": (spans("session.sql"), "s"),
            "session.sql_calls": (counted("session.sql_calls"), "count"),
            "io.load_table_s": (spans("io.load_table"), "s"),
            "io.load_table_calls": (calls("io.load_table"), "count"),
            "io.load_table_jobs": (spark("load_table_jobs"), "count"),
            "queries.build_s": (spans("queries.build") - io_in_build, "s"),
            "queries.build_jobs": (spark("build_jobs"), "count"),
            "spark.catalyst.analysis_ms": (counted("catalyst.analysis_ms"), "ms"),
            "spark.catalyst.optimization_ms": (counted("catalyst.optimization_ms"), "ms"),
            "spark.catalyst.planning_ms": (counted("catalyst.planning_ms"), "ms"),
            "spark.exec.action_s": (spans("spark.exec.action"), "s"),
            "spark.exec.jobs": (spark("jobs"), "count"),
            "spark.exec.stages": (spark("stages"), "count"),
            "spark.exec.tasks": (spark("tasks"), "count"),
            "spark.exec.task_run_s": (spark("task_run_s"), "s"),
            "spark.exec.task_cpu_s": (spark("task_cpu_s"), "s"),
            "spark.exec.shuffle_read_bytes": (spark("shuffle_read_bytes"), "bytes"),
            "spark.exec.shuffle_write_bytes": (spark("shuffle_write_bytes"), "bytes"),
            "spark.exec.spill_bytes": (spark("spill_bytes"), "bytes"),
            "pipeline.python_worker_s": (spark(tracing.PY_RUN_MS), "s"),
            "pipeline.bytes_to_python": (spark(tracing.PY_SENT), "bytes"),
            "pipeline.bytes_from_python": (spark(tracing.PY_RETURNED), "bytes"),
            "pipeline.materializations": (spark("materializations"), "count"),
            "operators.acid.commit_s": (spans("operators.acid.commit"), "s"),
            "operators.acid.commits": (counted("acid.commits"), "count"),
            "operators.acid.conflicts": (counted("acid.conflicts"), "count"),
            "operators.acid.read_s": (spans("operators.acid.read"), "s"),
            "operators.acid.delta_dirs_read": (counted("acid.delta_dirs_read"), "count"),
            "operators.acid.compact_s": (spans("operators.acid.compact"), "s"),
            "operators.acid.bytes_written": (counted("acid.bytes_written"), "bytes"),
            "stored_bytes_per_input_byte": (stored, "ratio"),
            "trace.overhead_s": (overhead, "s"),
            "trace.addup_outliers": (float(len(addup["outliers"])), "count"),
        }
        return m, addup

    def add_up(self) -> dict:
        """Per operation: the traced layers (top-level spans) must fall
        within the untraced latency's spread, widened by 25% + 50 ms."""
        plain: dict[str, list[float]] = {}
        for o in self.ops:
            if o["pass"].startswith("p"):
                plain.setdefault(o["op"], []).append(o["latency_s"])
        layered: dict[str, list[float]] = {}
        spans = self.trace_log.spans
        for op_key in {s.op for s in spans}:
            tag, name = op_key.split(":", 1)
            if tag.startswith("t"):
                total = sum(s.seconds for s in spans if s.op == op_key and s.parent is None)
                layered.setdefault(name, []).append(total)
        rows, outliers = {}, []
        for name, sums in sorted(layered.items()):
            ref = plain.get(name)
            if not ref:
                continue
            lo, hi = min(ref) * 0.75 - 0.05, max(ref) * 1.25 + 0.05
            rows[name] = {"layers_s": sums, "untraced_s": ref}
            if not all(lo <= v <= hi for v in sums):
                outliers.append(name)
        return {"ops": rows, "outliers": outliers}


def measure(args, work: str, run_dir: str):
    """Run the workload and write the report; returns the exit code, the
    benchmark and the metrics to print."""
    data_dir = os.path.join(HERE, "data", f"sf{args.sf}")
    if not os.path.isdir(data_dir):
        print(f"no tables for sf{args.sf} under {os.path.relpath(data_dir, ROOT)}", file=sys.stderr)
        return 2, None, None
    t_start = time.perf_counter()
    bench = Bench(args, data_dir, work, run_dir)
    prepare_s = time.perf_counter() - t_start
    os.chdir(run_dir)  # Spark and Hive scratch (derby.log, target/) stay in the run dir
    try:
        cpu0 = tree_cpu_s(os.getpid())
        bench.start()
        start_cpu_s = tree_cpu_s(os.getpid()) - cpu0
        warm = bench.run_pass("warmup", "check")
        setup_cpu_s = start_cpu_s + warm["cpu_s"]
        setup_wall_s = bench.session_s + bench.engine_s + warm["seconds"]
        # a traced run alternates untraced and traced passes in ABBA order,
        # in whole blocks, so JIT warming over the run favours neither kind;
        # an untimed pass first keeps the steepest warming out of the block
        if args.trace:
            bench.run_pass("settle", "plain")
        modes = ["plain", "traced", "traced", "plain"] if args.trace else ["plain"]
        t_meas, k = time.perf_counter(), 0
        while k == 0 or k % len(modes) or time.perf_counter() - t_meas < args.seconds:
            mode = modes[k % len(modes)]
            bench.run_pass(f"{mode[0]}{k}", mode)
            k += 1
    finally:
        t_stop = time.perf_counter()
        if hasattr(bench, "spark"):
            stop_spark(bench.spark)
        stop_s = time.perf_counter() - t_stop

    metrics, reported = bench.e2e_metrics(setup_cpu_s, setup_wall_s)

    def summary(group: dict) -> dict:
        return {k: {"value": v, "unit": u, "quartiles": quartiles(s), "samples": len(s)}
                for k, (v, u, s) in group.items()}

    report = {
        "provenance": provenance(args, data_dir, sum(1 for p in bench.passes if p["tag"][0] in "pt")),
        "metrics": summary(metrics),
        "reported": summary(reported),
        "passes": bench.passes,
        "ops": bench.ops,
        "digests": bench.digests,
        "errors": bench.errors,
        "tracebacks": bench.tracebacks,
        "failed_frac": sum(not o["ok"] for o in bench.ops) / len(bench.ops),
        "prepare_s": prepare_s,
        "stop_s": stop_s,
    }
    out = {k: (v, u) for k, (v, u, _) in metrics.items()}
    if args.trace:
        profile = tracing.profile_event_log(tracing.read_event_log(os.path.join(run_dir, "eventlog")))
        report["event_log"] = {"tasks": profile.tasks, "unattributed_tasks": profile.unattributed_tasks}
        if profile.unattributed_tasks or not profile.tasks:
            print(f"event log: {profile.unattributed_tasks} of {profile.tasks} tasks unattributed", file=sys.stderr)
            return 1, None, None
        out, report["add_up"] = bench.layer_metrics(profile)
        report["layers"] = {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    reports = os.path.join(work, "reports")
    os.makedirs(reports, exist_ok=True)
    path = os.path.join(reports, f"{args.workload}-trace{args.trace}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    for e in bench.errors:
        print("FAILED", e, file=sys.stderr)
    for k, (v, u, _) in {**metrics, **reported}.items():
        print(f"{k:14s} {v:10.4f} {u}", file=sys.stderr)
    print(f"report: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    return 0, bench, out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=("0.1", "0.001"), default="0.1", help="scale factor of the tables")
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "sparktmp")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    try:
        code, bench, out = measure(args, work, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    if code:
        return code
    failed = sum(not o["ok"] for o in bench.ops)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(bench.ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
