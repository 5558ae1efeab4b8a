"""Benchmark worker: one process, one workload, one client issuing
operations back to back (a closed loop with no think time).

``run.py`` starts this in an isolated temp root and reads the result
file it writes. The package is driven only through its public entry
points: ``pipeline.stock_pipeline.run``, ``session.get_spark`` and the
query registry.

Workloads:
  etl_reference   the reference job: 10 tickers, one full load of
                  2025-09, then incremental ``run()`` calls in the same
                  process, each re-reading the checkpoint day plus 30 days.
  query_relational  ten relational rows of the query registry (Catalyst,
                  codegen, shuffle): one cold pass, then steady passes.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

QUERIES = (
    "flagship_analysis",
    "q1_pricing_rollup",
    "q5_region_volume",
    "q10_returned_items",
    "s6_sql_cte_chain",
    "win_windows_suite",
    "resample_ohlc_daily",
    "asof_join_marks",
    "set_ops_suite",
    "incremental_merge_upsert",
)
WORKLOADS = ("etl_reference", "query_relational")
SPAN_LAYERS = ("sources", "pipeline", "warehouse", "checkpoint", "analysis", "plans")
WAREHOUSE_OPS = ("read", "merge", "append", "overwrite")
CYCLE_INCREMENTALS = 8  # incremental runs before a fresh warehouse starts
TOY_TICKERS = 3
# wall_s and steady_s cover a fixed number of steady units (incremental
# runs, or steady passes) after the first: each unit is faster than the
# one before while the JVM warms up, so a window of however many units
# fit in the run would depend on the machine's speed. Three units is what
# fits the time a full set of runs may take.
STEADY_WINDOW = 3


def traced_unit(i: int) -> bool:
    """Whether steady unit ``i`` of a traced run is traced. Unit 0 is
    still warming up: it is untraced and left out of the comparison.
    From unit 1 on, the pattern traced, untraced, untraced, traced
    cancels a linear warm-up trend between the two halves."""
    return i >= 1 and (i - 1) % 4 in (0, 3)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_files(path: str) -> dict[tuple[int, int], int]:
    """(device, inode) -> size of every file under ``path``; hardlinked
    files count once."""
    out = {}
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                st = os.stat(os.path.join(dirpath, n))
            except FileNotFoundError:
                continue
            out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def written_mb(before: dict, after: dict) -> float:
    return sum(sz for k, sz in after.items() if k not in before) / 1e6


class Op:
    """One timed operation and what the trace needs to know about it."""

    def __init__(self, kind: str, name: str, traced: bool):
        self.kind, self.name, self.traced = kind, name, traced
        self.start = self.end = 0.0
        self.dur = 0.0
        self.errors: list[str] = []
        self.extra: dict = {}


class Bench:
    def __init__(self, args):
        self.args = args
        self.root = args.root
        self.toy = args.toy
        self.data_dir = os.path.join(HERE, "data", "sf0.001" if args.toy else "sf0.01")
        # the ETL workload reports the rows' plan metrics as zeros
        self.rows = QUERIES
        self.ops: list[Op] = []
        from tracing import Recorder

        self.rec = Recorder()
        self.spark = None
        self.setup_s = self.session_s = 0.0

    # -- set-up ---------------------------------------------------------------

    def conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.root, "spark-warehouse"),
            # a fixed heap (initial = maximum) keeps GC heap resizing from
            # making identical runs differ
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        }
        if self.args.trace:
            log_dir = os.path.join(self.root, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup(self) -> None:
        """From process start (interpreter, imports, JVM launch): session
        creation, the warm-up scan and the ETL dimension."""
        from stock_bars_data_engineering_project_spark.pipeline.stock_pipeline import (
            default_dim,
        )
        from stock_bars_data_engineering_project_spark.session import get_spark

        a = time.time()
        with self.rec.span("session.start"):
            self.spark = get_spark("perfbench", extra_conf=self.conf())
        self.session_s = time.time() - a
        self.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet")).count()
        self.dim = default_dim(self.spark)
        if self.toy:
            rows = self.dim.collect()[:TOY_TICKERS]
            self.dim = self.spark.createDataFrame(rows, self.dim.schema)
        self.n_tickers = self.dim.count()
        self.setup_s = time.time() - self.args.spawned

    # -- operations -----------------------------------------------------------

    def gc_fence(self) -> None:
        """Collect garbage in both processes before timing, so a pause
        for an earlier operation's garbage cannot land in a later one."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def timed(self, op: Op, fn):
        """Run ``fn`` as one timed operation; an exception fails it."""
        self.rec.enabled = op.traced
        op.start = time.time()
        a = time.perf_counter()
        try:
            with self.rec.span("bench.op", op=op.name):
                out = fn()
        except Exception:  # noqa: BLE001 - the run goes on to report it
            op.errors.append(traceback.format_exc(limit=3))
            out = None
        op.dur = time.perf_counter() - a
        op.end = time.time()
        self.rec.enabled = bool(self.args.trace)
        self.ops.append(op)
        return out

    def done(self, deadline: float, n_steady: int, min_steady: int) -> bool:
        return time.time() >= deadline and n_steady >= min_steady

    def run_etl(self, deadline: float) -> None:
        from checks import EtlExpectation, check_etl
        from stock_bars_data_engineering_project_spark.pipeline.stock_pipeline import (
            PipelineConfig,
            run,
        )
        from stock_bars_data_engineering_project_spark.sinks.warehouse import (
            ParquetWarehouse,
        )

        cfg = PipelineConfig(extra_source_options={"seed": str(self.args.seed)})
        min_inc = self.min_steady()
        n_inc = 0
        cycle = 0
        while not self.done(deadline, n_inc, min_inc):
            wh = ParquetWarehouse(self.spark, os.path.join(self.root, "warehouse", f"c{cycle}"))
            exp = EtlExpectation(self.n_tickers)
            for k in range(1 + CYCLE_INCREMENTALS):
                if self.done(deadline, n_inc, min_inc):
                    break
                kind = "full" if k == 0 else "incremental"
                traced = self.traced(n_inc) if k else bool(self.args.trace)
                op = Op(kind, f"c{cycle}r{k}", traced)
                if traced:
                    before = dir_files(wh.root)
                    versions = sum(len(wh.versions(t)) for t in wh.tables())
                self.gc_fence()

                def one():
                    with self.rec.span("pipeline.run"):
                        return run(self.spark, wh, cfg, self.dim)

                info = self.timed(op, one)
                n_inc += kind == "incremental"
                if op.errors:
                    return
                exp.advance()
                with self.rec.span("bench.check"):
                    op.errors += check_etl(wh, cfg, info, exp)
                    op.extra["rows"] = info["rows"]
                if op.traced:
                    after = dir_files(wh.root)
                    live = sum(
                        os.path.getsize(p) for t in wh.tables() for p in wh.data_files(t)
                    )
                    op.extra["written_mb"] = written_mb(before, after)
                    op.extra["write_amp"] = op.extra["written_mb"] * 1e6 / live
                    op.extra["versions"] = (
                        sum(len(wh.versions(t)) for t in wh.tables()) - versions
                    )
                if cycle == 0 and exp.runs == 3:
                    self.storage_mb = sum(dir_files(wh.root).values()) / 1e6
                if op.errors:
                    return
            cycle += 1

    def run_queries(self, deadline: float) -> None:
        from checks import digest
        from stock_bars_data_engineering_project_spark.plans import get_queries

        with open(os.path.join(HERE, "golden.json")) as f:
            golden = json.load(f)[os.path.basename(self.data_dir)]
        queries = get_queries()
        tmp = os.environ["TMPDIR"]

        def one_pass(kind: str, traced: bool) -> None:
            # every pass runs the rows in registry order, so that which row
            # follows which, and which pays the session's first-query
            # costs, is the same in every run
            before = dir_files(tmp) if traced else None
            self.gc_fence()
            for name in self.rows:
                op = Op(kind, name, traced)
                times = {}

                def one():
                    a = time.perf_counter()
                    with self.rec.span("plans.build", query=name):
                        df = queries[name](self.spark, self.data_dir)
                    b = time.perf_counter()
                    with self.rec.span("plans.exec", query=name):
                        got = digest(df)
                    times.update(build=b - a, exec=time.perf_counter() - b)
                    return got

                got = self.timed(op, one)
                op.extra.update(times)
                if got is not None and got != golden[name]:
                    op.errors.append(f"{name}: digest {got}, golden {golden[name]}")
            if traced:
                self.pass_written.append(written_mb(before, dir_files(tmp)))

        self.pass_written: list[float] = []
        one_pass("cold", bool(self.args.trace))
        self.storage_mb = sum(dir_files(tmp).values()) / 1e6
        min_passes = self.min_steady()
        n = 0
        while not self.done(deadline, n, min_passes):
            one_pass("steady", self.traced(n))
            n += 1

    def traced(self, i: int) -> bool:
        """Whether steady unit ``i`` is traced; at toy size, all are."""
        return bool(self.args.trace) and (self.toy or traced_unit(i))

    def min_steady(self) -> int:
        """Steady units a run needs: the window, or for a traced run the
        warm-up unit and four for its traced/untraced pattern."""
        if self.toy:
            return 1
        if self.args.trace:
            return 5
        return STEADY_WINDOW

    # -- metrics --------------------------------------------------------------

    def end_to_end(self) -> dict:
        first = [op for op in self.ops if op.kind in ("full", "cold")]
        steady = [op for op in self.ops if op.kind in ("incremental", "steady")]
        if self.args.workload == "etl_reference":
            window = steady[:STEADY_WINDOW]
            steady_s = median([op.dur for op in window])
        else:
            window = [op for p in self.passes(steady)[:STEADY_WINDOW] for op in p]
            steady_s = sum(median([op.dur for op in window if op.name == q]) for q in self.rows)
        return {
            "setup_s": (self.setup_s, "s", 1),
            "wall_s": (sum(op.dur for op in first + window), "s", len(first) + len(window)),
            "steady_s": (steady_s, "s", len(window)),
        }

    def per_layer(self) -> dict:
        from tracing import attribute, covered, read_event_log

        rec = self.rec
        jobs = read_event_log(os.path.join(self.root, "eventlog"))
        # a job belongs to the layer that asked for it: the innermost span
        # outside the warehouse; spark.warehouse.* counts the jobs run
        # inside warehouse calls, whoever made them
        owner = attribute(jobs, rec.spans, skip=("warehouse",))
        in_wh = {
            jid
            for jid, s in attribute(jobs, [s for s in rec.spans if s.layer == "warehouse"]).items()
            if s is not None
        }
        spans = [s for s in rec.spans if s.layer != "session"]

        def inside(op):
            return [s for s in spans if s.start >= op.start and s.end <= op.end]

        def op_jobs(op):
            return [j for j in jobs if op.start <= j.submit <= op.end]

        def outermost(ss, layer):
            mine = [s for s in ss if s.layer == layer]
            return [
                s
                for s in mine
                if not any(o is not s and o.start <= s.start and s.end <= o.end for o in mine)
            ]

        def net(op):
            return op.dur - sum(s.dur for s in inside(op) if s.extra)

        etl = self.args.workload == "etl_reference"
        traced = [op for op in self.ops if op.traced]
        untraced = [op for op in self.ops if not op.traced]
        # the "per steady unit": one incremental run, or one steady pass;
        # the first untraced unit is the warm-up one
        if etl:
            units = [[op] for op in traced if op.kind == "incremental"]
            ref_units = [[op] for op in untraced if op.kind == "incremental"][1:]
        else:
            units = self.passes([op for op in traced if op.kind == "steady"])
            ref_units = self.passes([op for op in untraced if op.kind == "steady"])[1:]

        def per_unit(fn):
            return median([fn(u) for u in units])

        def span_sum(u, name, only_outer=False):
            total = 0.0
            for op in u:
                ss = inside(op)
                if only_outer:
                    ss = outermost(ss, name.split(".")[0])
                total += sum(s.dur for s in ss if s.name == name)
            return total

        m = {
            "session.start_s": (self.session_s, "s"),
            "session.peak_rss_mb": (self.peak_rss_mb, "MB"),
        }
        full_ops = [op for op in traced if op.kind == "full"]

        def scans(op):
            n = sum(
                j.source_scan_tasks
                for j in op_jobs(op)
                if owner[j.job_id] is not None and not owner[j.job_id].extra
            )
            return n / self.n_tickers

        m["sources.extract_s"] = (per_unit(lambda u: span_sum(u, "sources.extract")), "s")
        m["sources.rows"] = (
            per_unit(
                lambda u: sum(
                    s.attrs.get("rows", 0)
                    for op in u
                    for s in inside(op)
                    if s.name == "sources.materialize"
                )
            ),
            "count",
        )
        m["sources.scans_per_run"] = (per_unit(lambda u: scans(u[0])) if etl else 0.0, "count")
        m["sources.scans_full_load"] = (scans(full_ops[0]) if full_ops else 0.0, "count")
        m["pipeline.full_load_s"] = (net(full_ops[0]) if full_ops else 0.0, "s")
        m["pipeline.transform_s"] = (
            per_unit(
                lambda u: max(
                    0.0,
                    span_sum(u, "pipeline.transform") - span_sum(u, "sources.materialize"),
                )
            ),
            "s",
        )

        def run_self(u):
            total = 0.0
            for op in u:
                ss = inside(op)
                for r in (s for s in ss if s.name == "pipeline.run"):
                    total += r.dur - covered(r, ss)
            return total

        m["pipeline.run_self_s"] = (per_unit(run_self), "s")
        for w in WAREHOUSE_OPS:
            # appends count inside ``log`` too: that is where the run log's
            # writes happen
            m[f"warehouse.{w}_s"] = (
                per_unit(lambda u, w=w: span_sum(u, f"warehouse.{w}", only_outer=w != "append")),
                "s",
            )
        m["warehouse.calls"] = (
            per_unit(lambda u: sum(len(outermost(inside(op), "warehouse")) for op in u)),
            "count",
        )
        if etl:
            m["warehouse.bytes_written_mb"] = (
                per_unit(lambda u: u[0].extra.get("written_mb", 0.0)),
                "MB",
            )
            m["warehouse.write_amp"] = (per_unit(lambda u: u[0].extra.get("write_amp", 0.0)), "ratio")
            m["warehouse.versions"] = (
                per_unit(lambda u: float(u[0].extra.get("versions", 0))),
                "count",
            )
        else:
            m["warehouse.bytes_written_mb"] = (median(self.pass_written[1:]), "MB")
            m["warehouse.write_amp"] = (0.0, "ratio")
            m["warehouse.versions"] = (0.0, "count")
        m["warehouse.storage_mb"] = (getattr(self, "storage_mb", 0.0), "MB")
        m["checkpoint.get_s"] = (per_unit(lambda u: span_sum(u, "checkpoint.get")), "s")
        m["checkpoint.save_s"] = (per_unit(lambda u: span_sum(u, "checkpoint.save")), "s")
        m["analysis.rebuild_s"] = (per_unit(lambda u: span_sum(u, "analysis.rebuild")), "s")
        m["analysis.rows"] = (
            per_unit(lambda u: float(u[0].extra.get("rows", 0))) if etl else 0.0,
            "count",
        )
        for q in self.rows:
            steady_q = [op for op in traced if op.kind == "steady" and op.name == q]
            m[f"plans.{q}.build_s"] = (median([op.extra.get("build", 0.0) for op in steady_q]), "s")
            m[f"plans.{q}.exec_s"] = (median([op.extra.get("exec", 0.0) for op in steady_q]), "s")
        m["plans.build_cold_s"] = (
            sum(op.extra.get("build", 0.0) for op in traced if op.kind == "cold"),
            "s",
        )
        m["plans.cold_pass_s"] = (sum(net(op) for op in traced if op.kind == "cold"), "s")
        for layer in SPAN_LAYERS:
            for stat, unit in (
                ("cpu_s", "s"),
                ("tasks", "count"),
                ("shuffle_mb", "MB"),
                ("gc_s", "s"),
                ("sched_wait_s", "s"),
            ):
                m[f"spark.{layer}.{stat}"] = (
                    per_unit(
                        lambda u, layer=layer, stat=stat: sum(
                            getattr(j, stat)
                            for op in u
                            for j in op_jobs(op)
                            if (
                                j.job_id in in_wh
                                if layer == "warehouse"
                                else owner[j.job_id] is not None and owner[j.job_id].layer == layer
                            )
                        )
                    ),
                    unit,
                )
        m["spark.unattributed_cpu_s"] = (
            per_unit(
                lambda u: sum(
                    j.cpu_s
                    for op in u
                    for j in op_jobs(op)
                    if owner[j.job_id] is None or owner[j.job_id].layer == "bench"
                )
            ),
            "s",
        )
        traced_net = median([sum(net(op) for op in u) for u in units])
        untraced_ref = median([sum(op.dur for op in u) for u in ref_units])
        m["trace.overhead_frac"] = (
            traced_net / untraced_ref - 1.0 if untraced_ref else 0.0,
            "ratio",
        )
        return {k: (float(v), unit, len(units)) for k, (v, unit) in m.items()}

    def passes(self, ops: list[Op]) -> list[list[Op]]:
        n = len(self.rows)
        return [ops[i : i + n] for i in range(0, len(ops) - n + 1, n)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--toy", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)

    bench = Bench(args)
    if args.trace:
        from tracing import install

        install(bench.rec)
    bench.rec.enabled = bool(args.trace)
    bench.setup()
    spark = bench.spark
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "tickers": bench.n_tickers,
    }
    deadline = time.time() + args.seconds
    if args.workload == "etl_reference":
        bench.run_etl(deadline)
    else:
        bench.run_queries(deadline)
    env["ops"] = [[op.kind, op.name, round(op.dur, 3)] for op in bench.ops]
    jvm_pid = spark.sparkContext._gateway.proc.pid
    bench.peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    spark.stop()  # flushes the event log
    failed = sum(1 for op in bench.ops if op.errors)
    for op in bench.ops:
        for e in op.errors:
            print(f"FAILED {op.name}: {e}", file=sys.stderr)
    if args.toy:  # the self-test checks both metric sets from one run
        metrics = {**bench.end_to_end(), **bench.per_layer()}
    else:
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    result = {
        "correct": failed == 0 and bool(bench.ops),
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()},
        "samples": {k: n for k, (_v, _u, n) in metrics.items()},
        "env": env,
    }
    with open(os.path.join(args.root, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
