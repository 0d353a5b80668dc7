"""Oracle-checked benchmark of the spark-graft query engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_lakehouse --seed 1 --seconds 12 --trace 0

One run is one process and one closed-loop client: the operations of the
workload run one after another on ``local[<nproc>]``, in an order permuted
by the seed. The input tables are the same in every run. A run

1. generates the fixture tables (perfbench/datagen.py, fixed data seed);
2. sets up the program, one step after the other: import,
   ``registry.load_all()``, ``session.get_spark()`` and one discarded
   warm-up pass that collects every result for the value check. All of
   this is ``setup_s``;
3. runs the DuckDB oracles once, then a fixed number of timed passes
   (``workloads.timed_passes(--seconds)``), checking every result's row
   count against its oracle;
4. compares the collected values with the oracle's as multisets, using
   ``tools/check_oracle.py``'s normalisation.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it,
``stamp {...}``, describes the host and the configuration of the run. A full
record (stamps, both metric sets measured, the per-operation build/action
table, the phase times and, when traced, the spans) is written to
``.perfbench_out/<workload>-seed<seed>-trace<trace>.json``.

A traced run enables Spark's event log and tags each job with its pass,
operation and phase. Its stamp's ``trace_overhead_s`` is its ``wall_s``
minus ``wall_s`` of the untraced run of the same workload, seed and
sources (program and benchmark), read from that run's record; ``null``
when there is none.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing as tr  # noqa: E402
from workloads import (  # noqa: E402
    DATA_SEED, SF, WORKLOADS, build, oracle_names, timed_passes, writes_tables,
)

_PKG = "ab_inbev_big_data_case_spark"
_PYTHON_NODES = re.compile(
    r"\b(MapInPandas|MapInArrow|ArrowEvalPython|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas|BatchEvalPython|AggregateInPandas|WindowInPandas)\b"
)


# Other guests on the host machine take its CPUs in bursts of 20-30 s and
# 0.2-0.6 cores, read here as hypervisor steal; a pass during such a burst
# ran 20-30% slower on a 4-vCPU VM. So a timed pass starts only after a
# reading of at most BUSY_STEAL_CORES (waiting at most QUIET_WAIT_S in a
# run), and a pass with more steal than that is run again, at most
# REDO_PASSES times in a run. A pass run again is checked like the others
# and kept in the record, outside the medians.
BUSY_STEAL_CORES = 0.1
QUIET_WAIT_S = 20.0
REDO_PASSES = 2


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class OpResult:
    __slots__ = ("name", "build_s", "action_s", "plan_s", "python", "ok",
                 "counts", "rows", "attempts", "retries")

    def __init__(self, name: str):
        self.name = name
        self.build_s = self.action_s = self.plan_s = 0.0
        self.python = False
        self.ok = True
        self.counts: dict[str, int] = {}
        self.rows: dict[str, tuple[list, list]] = {}
        self.attempts = self.retries = 0


def run_op(spark, queries: dict, name: str, sf_dir: str, out_dir: str, tracer,
           traced: bool, pass_no: int, collect: bool) -> OpResult:
    """Build one operation, then count (or collect) every DataFrame it
    returns. An exception marks the operation failed."""
    sc = spark.sparkContext
    res = OpResult(name)
    try:
        if traced:
            sc.setJobGroup(tr.job_group(pass_no, name, "build"), name)
        t0 = time.perf_counter()
        with tracer.span("queries.build", op=name, pass_no=pass_no):
            outs, report = build(name, queries, spark, sf_dir, out_dir, tracer)
        res.build_s = time.perf_counter() - t0
        if report is not None:
            res.attempts = sum(report.attempts.values())
            res.retries = res.attempts - len(report.attempts)
        if traced:
            t0 = time.perf_counter()
            with tracer.span("queries.plan", op=name, pass_no=pass_no):
                plans = [df._jdf.queryExecution().executedPlan().toString()
                         for _, df in outs]
            res.plan_s = time.perf_counter() - t0
            res.python = any(_PYTHON_NODES.search(p) for p in plans)
            sc.setJobGroup(tr.job_group(pass_no, name, "action"), name)
        t0 = time.perf_counter()
        with tracer.span("queries.action", op=name, pass_no=pass_no):
            for oracle, df in outs:
                if collect:
                    rows = [tuple(r) for r in df.collect()]
                    res.rows[oracle] = (df.columns, rows)
                    res.counts[oracle] = len(rows)
                else:
                    res.counts[oracle] = df.count()
        res.action_s = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
        _log(f"{name} failed:\n{traceback.format_exc()}")
        res.ok = False
    finally:
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return res


class Pass:
    def __init__(self, no: int, traced: bool):
        self.no = no
        self.traced = traced
        self.wall_s = 0.0
        self.ops: list[OpResult] = []
        self.files_written = 0
        self.bytes_written = 0
        self.rss_mb = 0.0
        self.steal_cores = 0.0

    def gmean_s(self) -> float:
        ts = [max(o.build_s + o.action_s, 1e-6) for o in self.ops if o.ok]
        return math.exp(sum(map(math.log, ts)) / len(ts)) if ts else 0.0


def run_pass(spark, queries: dict, ops: tuple[str, ...], no: int, seed: int,
             sf_dir: str, scratch: str, tracer, traced: bool, collect: bool) -> Pass:
    """One pass over ``ops`` in a seed-permuted order. Everything the pass
    writes goes under ``scratch/pass-<no>``, which is measured and removed
    after the pass, outside its timed region."""
    order = list(ops)
    random.Random(seed * 1_000_003 + no).shuffle(order)
    out_root = os.path.join(scratch, f"pass-{no}")
    os.makedirs(out_root)
    tempfile.tempdir = out_root  # delta-lite queries mkdtemp() per call
    p = Pass(no, traced)
    t0 = time.perf_counter()
    for name in order:
        op_dir = os.path.join(out_root, name)
        p.ops.append(run_op(spark, queries, name, sf_dir, op_dir, tracer, traced, no,
                            collect))
    p.wall_s = time.perf_counter() - t0
    # Python workers that sit idle for a minute exit, so the tree is read
    # while the ones this pass used are still alive.
    p.rss_mb = tr.peak_rss_mb()
    tempfile.tempdir = os.path.join(scratch, "tmp")
    for dirpath, _, files in os.walk(out_root):
        for f in files:
            if not f.startswith("."):  # skip Hadoop .crc checksum side files
                p.files_written += 1
                p.bytes_written += os.path.getsize(os.path.join(dirpath, f))
    shutil.rmtree(out_root)
    return p


def _source_sha(root: str) -> str:
    """Hash of the program's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, _PKG, "**", "*.py"), recursive=True)
                       + glob.glob(os.path.join(HERE, "*.py"))):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_sha(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


class Steal:
    """Hypervisor steal since the last ``reset()``, in cores."""

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.jiffies, self.start = _steal_jiffies(), time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.start

    def cores(self) -> float:
        return ((_steal_jiffies() - self.jiffies) / os.sysconf("SC_CLK_TCK")
                / max(self.elapsed(), 1e-6))


def await_quiet(steal: Steal, budget_s: float) -> float:
    """Wait while the steal reading, over at least a second, is above
    ``BUSY_STEAL_CORES``, for at most ``budget_s``; returns the seconds
    waited."""
    t0 = time.perf_counter()
    time.sleep(max(0.0, 1.0 - steal.elapsed()))
    while steal.cores() > BUSY_STEAL_CORES and time.perf_counter() - t0 + 1.0 <= budget_s:
        steal.reset()
        time.sleep(1.0)
    return time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (left := tr.descendants()) and time.time() < deadline:
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def oracle_results(sf_dir: str, names: list[str]) -> dict[str, tuple[list, list]]:
    """Run the DuckDB oracle of each query in ``names`` on the tables of
    ``sf_dir``; returns ``name -> (columns, rows)``."""
    import duckdb
    from check_oracle import TABLES

    from ab_inbev_big_data_case_spark.registry import ORACLE

    out = {}
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
        for name in names:
            rel = con.sql(ORACLE[name])
            out[name] = (list(rel.columns), rel.fetchall())
    return out


def check_values(oracle: dict[str, tuple[list, list]],
                 collected: dict[str, tuple[str, list, list]]) -> list[tuple[str, str]]:
    """Compare collected Spark results (``oracle name -> (op, columns,
    rows)``) with the oracle results: column names and the value multiset,
    which includes the row count. Returns ``(op, problem)`` pairs."""
    from check_oracle import multiset

    bad = []
    for name, (op, cols, rows) in collected.items():
        dcols, drows = oracle[name]
        if sorted(cols) != sorted(dcols):
            bad.append((op, f"{name}: columns {sorted(cols)} != oracle {sorted(dcols)}"))
        elif multiset(rows, cols) != multiset(drows, dcols):
            bad.append((op, f"{name}: values differ from oracle "
                            f"({len(rows)} vs {len(drows)} rows)"))
    return bad


class Run:
    """One benchmark run: inputs, set-up, warm-up, timed passes."""

    def __init__(self, args, root: str, run_dir: str):
        self.args = args
        self.root = root
        self.ops = WORKLOADS[args.workload]
        self.tracer = tr.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
        self.off = tr.Tracer(self.tracer.run_id, False)
        self.scratch = os.path.join(run_dir, "scratch")
        for d in ("tmp", "local", "warehouse", "events"):
            os.makedirs(os.path.join(self.scratch, d))
        tempfile.tempdir = os.path.join(self.scratch, "tmp")
        t0 = time.perf_counter()
        self.sf_dir = datagen.write(os.path.join(run_dir, "data"), DATA_SEED, SF)
        # seconds spent in each phase of the run, for the record
        self.phase_s = {"inputs": time.perf_counter() - t0}
        self.failed: set[tuple] = set()  # (pass, op) executions that failed
        self.attempted = 0
        self.warmups: list[Pass] = []
        self.passes: list[Pass] = []
        self.redone: list[Pass] = []  # timed passes disturbed by steal
        self.quiet_wait_s = 0.0
        self.collected: dict[str, tuple[str, list, list]] = {}
        self.oracle: dict[str, tuple[list, list]] = {}
        self.queries: dict = {}  # workload query name -> registered function
        self.spark = None

    def _pass(self, no: int, traced: bool = False, collect: bool = False) -> Pass:
        p = run_pass(self.spark, self.queries, self.ops, no, self.args.seed, self.sf_dir,
                     self.scratch, self.tracer if traced else self.off, traced, collect)
        self.attempted += len(p.ops)
        self.failed.update((p.no, o.name) for o in p.ops if not o.ok)
        return p

    def setup(self) -> float:
        """The program's set-up steps and the warm-up; returns ``setup_s``,
        the sum of the steps' own durations: import,
        ``registry.load_all()``, ``session.get_spark()`` and the warm-up
        passes.

        The program runs them one after the other. Here import and
        ``load_all`` (pure Python, 30-45 s) run in a process of their own
        (setup_probe.py) while this one starts Spark and warms it up: run
        one after the other, the set-up leaves too little of a run's time
        budget for the timed passes. The processes share no interpreter;
        they share the host's cores."""
        w0 = time.perf_counter()
        probe = subprocess.Popen([sys.executable, os.path.join(HERE, "setup_probe.py")],
                                 cwd=self.root, stdout=subprocess.PIPE, text=True)
        try:
            from ab_inbev_big_data_case_spark import registry
            from ab_inbev_big_data_case_spark.session import get_spark

            # register the queries; ordering them is load_all's work, timed
            # in the probe
            for mod in registry._QUERY_MODULES:
                importlib.import_module(mod)
            self.queries = {n: registry.QUERIES[n] for n in self.ops if n in registry.QUERIES}
            conf = {
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.scratch}/tmp",
            }
            if self.args.trace:
                conf.update({
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.scratch, "events"),
                    # the Python zstandard module is absent, so the log must
                    # be plain JSON lines to be read back
                    "spark.eventLog.compress": "false",
                })
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench", extra_conf=conf)
            # Warm-up: a cold pass (first Spark job, code generation, class
            # loading, Python workers) that collects every result for the
            # value check, then a discarded pass.
            with self.tracer.span("warmup"):
                warm = self._pass(-2, collect=True)
                self.warmups += [warm, self._pass(-1)]
            steps = {"session.get_spark+warmup": time.perf_counter() - t0}
        except BaseException:
            probe.kill()
            raise
        finally:
            out, _ = probe.communicate()
        self.phase_s["setup_wall"] = time.perf_counter() - w0
        if probe.returncode:
            raise RuntimeError(f"setup_probe.py exited with {probe.returncode}")
        for name, (start, end) in json.loads(out.splitlines()[-1]).items():
            self.tracer.record(name, start, end)
            steps[name] = end - start
        self.phase_s.update(steps)
        for o in warm.ops:
            self.collected.update({oracle: (o.name, *v) for oracle, v in o.rows.items()})
        return sum(steps.values())

    def timed(self) -> None:
        """Run the oracles, then ``timed_passes(--seconds)`` timed passes,
        traced in a traced run. Every result's row count is checked against
        its oracle."""
        steal = Steal()
        t0 = time.perf_counter()
        self.oracle = oracle_results(self.sf_dir, oracle_names(self.ops))
        expected = {name: len(rows) for name, (_, rows) in self.oracle.items()}
        self.phase_s["oracles"] = time.perf_counter() - t0
        while len(self.passes) < timed_passes(self.args.seconds):
            self.quiet_wait_s += await_quiet(steal, QUIET_WAIT_S - self.quiet_wait_s)
            no = len(self.passes) + len(self.redone)
            steal.reset()
            p = self._pass(no, traced=bool(self.args.trace))
            p.steal_cores = steal.cores()
            if p.steal_cores > BUSY_STEAL_CORES and len(self.redone) < REDO_PASSES:
                self.redone.append(p)
            else:
                self.passes.append(p)
            for o in p.ops:
                bad = {k: n for k, n in o.counts.items() if n != expected[k]}
                for k, n in bad.items():
                    _log(f"pass {no} {o.name}: {k} has {n} rows, oracle {expected[k]}")
                if bad:
                    o.ok = False
                    self.failed.add((no, o.name))

    def stamp(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "sf": SF,
            "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory", None),
            "local_dir": sc.getConf().get("spark.local.dir", None),
            "git_sha": _git_sha(self.root),
            "source_sha256": _source_sha(self.root),
            "passes": len(self.passes),
            "passes_redone": len(self.redone),
            "quiet_wait_s": round(self.quiet_wait_s, 3),
        }


def measure(args, root: str, run_dir: str) -> dict:
    import bench  # the repo's load guard: foreign CPU cores from /proc jiffies

    guard = bench._LoadGuard()
    run = Run(args, root, run_dir)
    load_start = os.getloadavg()[0]
    run_snap = guard.snapshot()
    try:
        setup_s = run.setup()
        timed_snap = guard.snapshot()
        steal = Steal()
        run.timed()
        load = {
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": os.getloadavg()[0],
            "foreign_cores_timed": round(guard.foreign_cores(timed_snap), 3),
            "foreign_cores_run": round(guard.foreign_cores(run_snap), 3),
            # CPU time the hypervisor gave to other guests during the timed
            # passes, in cores
            "steal_cores_timed": round(steal.cores(), 3),
        }
        # the set-up probe has exited by now; VmHWM keeps each live
        # process's peak since it started
        rss = max(p.rss_mb for p in run.passes)
        stamp = {**run.stamp(), **load, "peak_rss_mb": rss}
    finally:
        if run.spark is not None:
            t0 = time.perf_counter()
            _stop_spark(run.spark)
            run.phase_s["stop"] = time.perf_counter() - t0
    return {
        "stamp": stamp, "run": run, "setup_s": setup_s, "peak_rss_mb": rss,
    }


def end_to_end(r: dict) -> dict[str, float]:
    timed = r["run"].passes
    return {
        "setup_s": r["setup_s"],
        "wall_s": _median([p.wall_s for p in timed]),
        "query_gmean_s": _median([p.gmean_s() for p in timed]),
    }


def per_layer(r: dict, groups: dict[str, dict]) -> tuple[dict, list]:
    """Per-layer metrics and the per-operation table of a traced run."""
    run = r["run"]
    tracer = run.tracer
    traced = run.passes

    def med(fn) -> float:
        return _median([fn(p) for p in traced])

    def group_sum(p: Pass, field: str, phase: str | None = None) -> float:
        return sum(
            row[field] for g, row in groups.items()
            if g.split("|")[0] == str(p.no) and (phase is None or g.endswith("|" + phase))
        )

    m = {
        "registry.load_all_s": tracer.total("registry.load_all"),
        "session.get_spark_s": tracer.total("session.get_spark"),
        "queries.build_s": med(lambda p: sum(o.build_s for o in p.ops)),
        "queries.build_jobs": med(lambda p: group_sum(p, "jobs", "build")),
        "queries.action_s": med(lambda p: sum(o.action_s for o in p.ops)),
        "queries.action_jobs": med(lambda p: group_sum(p, "jobs", "action")),
        "queries.plan_s": med(lambda p: sum(o.plan_s for o in p.ops)),
        "pyworker.python_action_s": med(lambda p: sum(o.action_s for o in p.ops if o.python)),
        "pyworker.python_queries": med(lambda p: sum(1 for o in p.ops if o.python)),
        "sources.write_s": med(lambda p: sum(o.build_s for o in p.ops if writes_tables(o.name))),
        "sources.readback_s": med(
            lambda p: sum(o.action_s for o in p.ops if writes_tables(o.name))),
        "sources.files_written": med(lambda p: p.files_written),
        "sources.bytes_written_mb": med(lambda p: p.bytes_written / (1024 * 1024)),
        "runner.attempts": med(lambda p: sum(o.attempts for o in p.ops)),
        "runner.retries": med(lambda p: sum(o.retries for o in p.ops)),
    }
    for field in tr.SPARK_FIELDS:
        m[f"spark.{field}"] = med(lambda p, f=field: group_sum(p, f))
    m["process.peak_rss_mb"] = r["peak_rss_mb"]

    table = []
    names = sorted({o.name for p in traced for o in p.ops})
    for name in names:
        rows = [(p, o) for p in traced for o in p.ops if o.name == name]
        g = lambda p, f, ph: groups.get(tr.job_group(p.no, name, ph), {}).get(f, 0)  # noqa: E731
        table.append({
            "op": name,
            "build_s": _median([o.build_s for _, o in rows]),
            "action_s": _median([o.action_s for _, o in rows]),
            "plan_s": _median([o.plan_s for _, o in rows]),
            "build_jobs": _median([g(p, "jobs", "build") for p, _ in rows]),
            "action_jobs": _median([g(p, "jobs", "action") for p, _ in rows]),
            "tasks": _median([g(p, "tasks", "build") + g(p, "tasks", "action") for p, _ in rows]),
            "python": any(o.python for _, o in rows),
        })
    return m, table


def _record_path(out_dir: str, workload: str, seed: int, trace: int) -> str:
    return os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}.json")


def _untraced_wall_s(out_dir: str, args, source_sha: str) -> float | None:
    """``wall_s`` of the untraced run of the same workload, seed and
    sources, from its record, if there is one."""
    try:
        with open(_record_path(out_dir, args.workload, args.seed, 0)) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    if rec["stamp"].get("source_sha256") != source_sha:
        return None
    return rec["end_to_end"]["wall_s"]


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in (os.path.join(_PKG, "registry.py"), os.path.join("tools", "check_oracle.py"),
                 "bench.py"):
        if not os.path.isfile(os.path.join(root, need)):
            _log(f"{need} not found: run from the root of a spark-graft checkout")
            return 2
    sys.path[:0] = [root, os.path.join(root, "tools")]

    # Host-sized and write-isolated: local[nproc], and every file the run
    # writes (data, shuffle, temp, warehouse, event log) under one directory
    # of the checkout that is removed at the end.
    run_dir = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    scratch = os.path.join(run_dir, "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    out_dir = os.path.join(root, ".perfbench_out")
    try:
        r = measure(args, root, run_dir)
        run = r["run"]
        failed = run.failed
        for op, msg in check_values(run.oracle, run.collected):
            _log(f"value check: {msg}")
            failed.add(("value", op))
        e2e = end_to_end(r)
        layer, table = {}, []
        if args.trace:
            groups = tr.reduce_event_log(os.path.join(scratch, "events"))
            layer, table = per_layer(r, groups)
            base = _untraced_wall_s(out_dir, args, r["stamp"]["source_sha256"])
            # traced wall_s minus untraced wall_s; unknown without the
            # untraced run's record
            r["stamp"]["trace_overhead_s"] = None if base is None else e2e["wall_s"] - base
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is still using it

    stamp = r["stamp"]
    stamp["ops_failed_ratio"] = len(failed) / run.attempted
    metrics = layer if args.trace else e2e
    os.makedirs(out_dir, exist_ok=True)
    record = {
        "stamp": stamp,
        "end_to_end": e2e,
        "per_layer": layer,
        "ops": table,
        "phase_s": {**run.phase_s, "setup": r["setup_s"],
                    "timed": sum(p.wall_s for p in run.passes),
                    "total": time.perf_counter() - _START},
        "passes": [{"no": p.no, "traced": p.traced, "wall_s": p.wall_s,
                    "steal_cores": p.steal_cores, "redone": p in run.redone,
                    "ops": {o.name: [o.build_s, o.action_s] for o in p.ops}}
                   for p in sorted(run.warmups + run.passes + run.redone, key=lambda p: p.no)],
        "spans": [vars(s) for s in run.tracer.spans],
    }
    with open(_record_path(out_dir, args.workload, args.seed, args.trace), "w") as f:
        json.dump(record, f, indent=1)
    print("stamp " + json.dumps(stamp), flush=True)
    print(json.dumps({
        "correct": not failed,
        "attempted": run.attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
