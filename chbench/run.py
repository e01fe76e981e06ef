#!/usr/bin/env python3
"""ClickHouse-dialect SQL through ``ChSession.execute``, end to end.

One closed-loop client in one process sends each statement through the
public ``ChSession.execute`` and times it until its last row (or its
rendered FORMAT text) is in the caller's hand. Results are checked
outside the timed region. With ``--trace 1`` every other cycle is traced
and each traced statement is also taken apart layer by layer, by timing
the benchmark's own calls into each layer's public functions.

    python3 chbench/run.py --workload point --seed 1 --seconds 25 --trace 0

The last line of standard output is the result JSON; the line before it
records the host settings and sample counts. See chbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".chbench_work")
sys.path.insert(0, HERE)

from datagen import ensure_dataset  # noqa: E402
from tracing import (  # noqa: E402
    Py4jCounter, Spans, job_group_stats, wait_for_listeners,
)
from workloads import WORKLOADS, Stmt, stream  # noqa: E402

END_TO_END = {"setup_s": "s", "cycle_p50_s": "s",
              "read_p50_geomean_ms": "ms"}

LAYERS = {
    "session.start_s": "s", "session.register_s": "s",
    "session.warmup_s": "s",
    "ddl.overhead_ms": "ms", "ddl.py4j_calls": "count",
    "ddl.useful_py4j_ratio": "ratio",
    "parser.parse_ms": "ms",
    "builder.build_ms": "ms", "builder.py4j_calls": "count",
    "catalyst.optimize_ms": "ms", "catalyst.physical_ms": "ms",
    "exec.run_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_max_over_median": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gc_ms": "ms",
    "deliver.collect_ms": "ms", "formats.render_ms": "ms",
    "write.insert_ms": "ms", "write.final_ms": "ms",
    "write.optimize_ms": "ms", "write.files_per_final_read": "count",
    "write.bytes_per_user_byte": "ratio",
    "write.stored_bytes_per_live_byte": "ratio",
    "py4j.calls_per_stmt": "count", "py4j.ms_per_stmt": "ms",
    "trace.overhead_ratio": "ratio",
    "drift.second_half_over_first": "ratio",
}


def per_layer_names(workloads) -> dict[str, str]:
    """Per-layer metric names and units: the layers, then one latency per
    template of each workload."""
    names = dict(LAYERS)
    for w in workloads:
        for t in WORKLOADS[w]("").templates:
            names[f"tmpl.{t}.p50_ms"] = "ms"
    return names

ROW_KINDS = ("read", "catalog", "format", "final")

# A run measures whole cycles until --seconds have passed, and at least
# this many, so the median rests on more than one cycle. A traced run
# adds one, so traced cycles sit between plain ones of about the same
# session age.
MIN_CYCLES = 3


# --- host pinning -----------------------------------------------------------

def _host_memory_bytes() -> int:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max", encoding="ascii") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return total


def pin_host(run_dir: str) -> dict:
    """Pin cores, heap, temp and spill dirs through the program's own
    variables, so runs on one host are alike and nothing lands outside
    this run's directory."""
    cpus = min(len(os.sched_getaffinity(0)), 4)
    heap_gb = max(1, min(4, _host_memory_bytes() // (4 << 30)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
        "PYTHONHASHSEED": os.environ.get("PYTHONHASHSEED", ""),
    }
    os.environ.update(settings)
    time.tzset()
    tempfile.tempdir = tmp
    os.chdir(run_dir)         # cwd-relative writes (spark-warehouse) stay here
    return settings


# --- measuring --------------------------------------------------------------

@dataclass
class Result:
    stmt: Stmt
    latency: float = 0.0
    execute_s: float = 0.0
    rows: list = field(default_factory=list)
    error: str | None = None
    calls: int = 0
    py4j_s: float = 0.0
    execute_calls: int = 0
    group: str | None = None
    table_files: int = 0
    table_bytes: int = 0


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, spark, sess, workload, tables: dict, table_dir: str):
        self.spark = spark
        self.sess = sess
        self.wl = workload
        self.tables = tables
        self.table_dir = table_dir
        self.counter = Py4jCounter(spark)
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.plain: list[Result] = []
        self.traced: list[Result] = []
        self.measured: list[Result] = []        # plain and traced, in order
        self.cycles: list[float] = []
        self.layers: dict[str, list[float]] = {}
        self._n = 0

    def _note(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def timed(self, stmt: Stmt, traced: bool) -> Result:
        r = Result(stmt)
        if traced:
            self._n += 1
            r.group = f"chbench-{self._n}"
            self.spark.sparkContext.setJobGroup(r.group, stmt.template)
            c0, p0 = self.counter.snapshot()
        t0 = time.perf_counter()
        try:
            df = self.sess.execute(stmt.sql)
            t1 = time.perf_counter()
            if traced:
                r.execute_calls = self.counter.snapshot()[0] - c0
            if stmt.kind in ROW_KINDS:
                r.rows = [tuple(row) for row in df.collect()]
        except Exception as e:  # a failed statement is counted, not fatal
            t1 = time.perf_counter()
            r.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        t2 = time.perf_counter()
        r.latency, r.execute_s = t2 - t0, t1 - t0
        if traced:
            c2, p2 = self.counter.snapshot()
            r.calls, r.py4j_s = c2 - c0, p2 - p0
            sid = r.group
            self.spans.add(sid, "statement", t0, t2, None, py4j_calls=r.calls)
            self.spans.add(sid, "execute", t0, t1, "statement")
            self.spans.add(sid, "deliver", t1, t2, "statement")
        if self.table_dir:
            r.table_files, r.table_bytes = _dir_usage(self.table_dir)
        return r

    def run_cycle(self, cycle: list[Stmt], traced: bool = False
                  ) -> list[Result]:
        """Run one cycle's statements back to back; nothing is checked."""
        if traced:
            with self.counter:
                results = [self.timed(s, True) for s in cycle]
            self.spark.sparkContext.setJobGroup("chbench-probe", "layers")
            return results
        return [self.timed(s, False) for s in cycle]

    def check(self, results: list[Result]) -> None:
        """Check results in statement order; a model (FINAL) follows the
        INSERTs as they are checked."""
        for r in results:
            self.attempted += 1
            problem = r.error or self.wl.check(r.stmt, r.rows)
            if problem:
                self.failed += 1
                if len(self.problems) < 5:
                    self.problems.append(f"{r.stmt.template}: {problem}")

    def measure_cycle(self, cycle: list[Stmt], traced: bool = False) -> None:
        results = self.run_cycle(cycle, traced)
        self.check(results)
        self.cycles.append(sum(r.latency for r in results))
        self.measured.extend(results)
        (self.traced if traced else self.plain).extend(results)
        if traced:
            with self.counter:
                for r in results:
                    if r.error is None:
                        self.layer_split(r)

    def _calls(self, fn):
        c0, _ = self.counter.snapshot()
        t0 = time.perf_counter()
        out = fn()
        ms = (time.perf_counter() - t0) * 1000
        return out, ms, self.counter.snapshot()[0] - c0

    def layer_split(self, r: Result) -> None:
        """Take one traced statement apart by calling each layer's public
        entry point on the same text and tables."""
        from clickhouse_from_scratch_spark.plans import engine
        from clickhouse_from_scratch_spark.plans.builder import build
        from clickhouse_from_scratch_spark.plans.statements import (
            parse_statement,
        )
        from clickhouse_from_scratch_spark.sources import formats

        s = r.stmt
        self._note("py4j.calls_per_stmt", r.calls)
        self._note("py4j.ms_per_stmt", r.py4j_s * 1000)
        _, parse_ms, _ = self._calls(lambda: parse_statement(s.sql))
        self._note("parser.parse_ms", parse_ms)
        if s.kind not in ("read", "format"):
            return      # catalog and write statements: see write_path()
        text = s.inner or s.sql
        _, exsql_ms, exsql_calls = self._calls(
            lambda: engine.execute_sql(self.spark, text, self.tables))
        ast = engine.parse(text)
        df, build_ms, build_calls = self._calls(
            lambda: build(self.spark, ast, self.tables))
        self._note("builder.build_ms", build_ms)
        self._note("builder.py4j_calls", build_calls)
        qe = df._jdf.queryExecution()
        _, opt_ms, _ = self._calls(qe.optimizedPlan)
        _, phys_ms, _ = self._calls(qe.executedPlan)
        self._note("catalyst.optimize_ms", opt_ms)
        self._note("catalyst.physical_ms", phys_ms)
        _, noop_ms, _ = self._calls(
            lambda: df.write.format("noop").mode("overwrite").save())
        self._note("exec.run_ms", noop_ms)
        if s.kind == "format":
            # render the result from a local relation, so the query's own
            # execution is not counted
            render = (formats.to_csv_text if "FORMAT CSV" in s.sql
                      else formats.to_json_each_row)
            local = self.spark.createDataFrame(df.collect(), df.schema)
            _, render_ms, _ = self._calls(lambda: render(local))
            self._note("formats.render_ms", render_ms)
            return
        self._note("ddl.overhead_ms", r.execute_s * 1000 - exsql_ms)
        self._note("ddl.py4j_calls", r.execute_calls - exsql_calls)
        if r.execute_calls:
            self._note("ddl.useful_py4j_ratio", build_calls / r.execute_calls)
        self._note("deliver.collect_ms",
                   (r.latency - r.execute_s) * 1000 - noop_ms)


# --- metrics ----------------------------------------------------------------

def _by_template(results: list[Result]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in results:
        out.setdefault(r.stmt.template, []).append(r.latency)
    return out


def _geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 1.0


def drift(results: list[Result]) -> tuple[float, int]:
    """Second half of the run over the first, per template (geomean);
    returns the ratio and how many templates had samples in both halves."""
    ratios = []
    for lat in _by_template(results).values():
        h = len(lat) // 2
        if h:
            ratios.append(statistics.mean(lat[-h:]) / statistics.mean(lat[:h]))
    return _geomean(ratios), len(ratios)


def end_to_end(runner: Runner, setup_s: float) -> dict:
    results = runner.measured
    # each read template's median, then their geometric mean: every
    # template weighs the same, and no single median of a mixed stream
    # sits on the edge between two templates' latencies
    reads = _by_template([r for r in results if r.stmt.kind in ROW_KINDS])
    return {"setup_s": setup_s,
            "cycle_p50_s": median(runner.cycles),
            "read_p50_geomean_ms": _geomean(
                [median(lat) * 1000 for lat in reads.values()])}


def write_path(runner: Runner, model) -> dict:
    """The write path's figures, from every measured cycle."""
    results = runner.measured
    by_kind = {k: [r for r in results if r.stmt.kind == k]
               for k in ("insert", "final", "optimize")}
    if not by_kind["insert"]:
        return {}
    grown, prev = [], None
    for r in results:
        if r.stmt.kind == "insert" and prev is not None:
            raw = sum(4 + 8 + 8 + len(p) for _, _, _, p in r.stmt.args)
            grown.append((r.table_bytes - prev) / raw)
        prev = r.table_bytes
    out = {
        "write.insert_ms": median([r.latency * 1000 for r in by_kind["insert"]]),
        "write.final_ms": median([r.latency * 1000 for r in by_kind["final"]]),
        "write.optimize_ms": median(
            [r.latency * 1000 for r in by_kind["optimize"]]),
        "write.files_per_final_read": median(
            [r.table_files for r in by_kind["final"]]),
        "write.bytes_per_user_byte": median(grown),
    }
    if by_kind["optimize"] and model.raw_bytes():
        out["write.stored_bytes_per_live_byte"] = (
            by_kind["optimize"][-1].table_bytes / model.raw_bytes())
    return out


def per_layer(runner: Runner, session_s: dict, spark) -> dict:
    m = dict.fromkeys(per_layer_names(WORKLOADS), 0.0)
    m.update(session_s)
    for name, values in runner.layers.items():
        m[name] = median(values)
    wait_for_listeners(spark)
    stats = [job_group_stats(spark, r.group) for r in runner.traced
             if r.group and r.stmt.kind in ROW_KINDS]
    for key in ("jobs", "stages", "tasks", "task_max_over_median",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "gc_ms"):
        m[f"exec.{key}"] = median([s[key] for s in stats])
    plain, traced = _by_template(runner.plain), _by_template(runner.traced)
    for t, lat in plain.items():
        m[f"tmpl.{t}.p50_ms"] = median(lat) * 1000
    m["trace.overhead_ratio"] = _geomean(
        [median(traced[t]) / median(plain[t]) for t in plain if t in traced])
    m["drift.second_half_over_first"] = drift(runner.measured)[0]
    m.update(write_path(runner, getattr(runner.wl, "model", None)))
    return m


# --- one run ----------------------------------------------------------------

def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def bench(args, data_dir: str, run_dir: str, datagen_s: float):
    from clickhouse_from_scratch_spark.catalog import load_table
    from clickhouse_from_scratch_spark.ddl import ChSession
    from clickhouse_from_scratch_spark.session import get_spark

    wl = WORKLOADS[args.workload](data_dir)
    t0 = time.perf_counter()
    spark = get_spark("chbench")
    session_s = {"session.start_s": time.perf_counter() - t0}
    try:
        t0 = time.perf_counter()
        sess = ChSession(spark, warehouse=os.path.join(run_dir, "warehouse"))
        tables = {}
        for name in wl.tables:
            tables[name] = load_table(spark, data_dir, name)
            sess.register_external(name, tables[name])
        for sql in wl.setup_sql():
            sess.execute(sql)
        session_s["session.register_s"] = time.perf_counter() - t0
        table_dir = (os.path.join(run_dir, "warehouse", "default",
                                  wl.written_table)
                     if wl.written_table else "")
        runner = Runner(spark, sess, wl, tables, table_dir)
        cycles = stream(wl, args.seed)
        t0 = time.perf_counter()
        warmup = [runner.run_cycle(next(cycles))
                  for _ in range(wl.warmup_cycles)]
        session_s["session.warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_PROCESS - datagen_s
        for results in warmup:      # checked after the set-up clock stops
            runner.check(results)

        measured, n = 0.0, 0
        while measured < args.seconds or n < MIN_CYCLES + args.trace:
            traced = bool(args.trace) and n % 2 == 1
            runner.measure_cycle(next(cycles), traced)
            measured += runner.cycles[-1]
            n += 1
        metrics = end_to_end(runner, setup_s)
        info = {"workload": wl.name, "seed": args.seed, "cycles": n,
                "statements": len(runner.measured),
                "measured_s": measured, "drift": drift(runner.measured),
                "latency_ms": [(r.stmt.template, round(r.latency * 1000, 1))
                               for r in runner.measured],
                "problems": runner.problems,
                "write": write_path(runner, getattr(wl, "model", None))}
        units = END_TO_END
        if args.trace:
            metrics = per_layer(runner, session_s, spark)
            units = per_layer_names(WORKLOADS)
            runner.spans.write(os.path.join(
                WORK, "traces", f"{wl.name}-seed{args.seed}.jsonl"))
        return {"correct": runner.failed == 0, "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": units[k]}
                            for k, v in metrics.items()}}, info
    finally:
        wl.close()
        stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # a fixed string hash, so set and dict orders inside the program
        # are the same on every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    # on SIGTERM, unwind through the finally blocks: stop Spark, remove
    # the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    sys.path.insert(0, ROOT)
    try:
        import clickhouse_from_scratch_spark  # noqa: F401
    except ImportError as e:
        print(f"chbench: the program is not importable: {e}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    data_dir, built = ensure_dataset(WORK)
    datagen_s = time.perf_counter() - t0 if built else 0.0
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        settings = pin_host(run_dir)
        result, info = bench(args, data_dir, run_dir, datagen_s)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    info["settings"] = settings
    info["dataset_build_s"] = datagen_s
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
