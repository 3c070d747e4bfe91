"""Benchmark of the activity_files_spark engine, one workload per run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload driver_loop --seed 1 --seconds 14 --trace 0

Load: a closed loop with one client. The benchmark issues one operation at a
time on ``local[nproc]`` with a shuffle width of twice the cores. After one
warm-up pass of the workload's mix it runs the whole passes that take
``--seconds`` on a quiet 4-core machine, each in an order drawn from the
seed. Every operation's output is checked outside the timed region: queries
against their DuckDB oracle, ``cli tile`` against a pure-Python recount.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones, whose times are CPU seconds of all the
run's processes (wall times follow the load of a shared host; they are in
the summary line). With ``--trace 1`` untraced and traced
passes (Spark event log attached, /proc sampled) take turns, and the metrics
are the per-layer ones, per pass. The lines
before it state the run environment (``perfbench-env``), a summary
(``perfbench-summary``) and, when traced, the file that holds the record of
every operation (``perfbench-trace``).

All files go under ``.perfbench/`` in the checkout. Each run has its own
directory there, which is ``TMPDIR`` and the Spark local dir of every process
of the run; what is left in it is measured, then it is deleted.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [ROOT]

from perfbench import trace as T  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    NOMINAL_PASS_S,
    TILE_IMAGES,
    WORKLOADS,
    OpRecord,
    QueryOp,
    TileOp,
)

DRIVER_MEM = "2g"  # session.py defaults to 16g; the box has 15 GiB, no swap
TAIL_PERCENTILE = 90
# the first pass is cold (2-4x slower); the JIT keeps compiling for several
# passes after it, so a warm pass still costs less CPU than the one before.
# Every run measures the same number of passes (see measured_passes)
WARMUP_PASSES = 1
MIN_PASSES = 2
MB = 2.0 ** -20
TILE_OFFSETS = 4  # image tables for cli_tile, picked by the seed

# per-op values summed into a pass, then the median over passes is reported
LAYER_SUMS = {
    "entry.build_s": "s", "entry.exec_s": "s", "entry.build_jobs": "count",
    "entry.exec_jobs": "count", "cli.main_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "pyworker.cpu_s": "s", "jvm.jit_cpu_s": "s",
    "jvm.gc_cpu_s": "s",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "plans.stage_s": "s", "plans.bytes_written": "B", "plans.files_written": "count",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def program_missing() -> str:
    for rel in ("__spark_entry__.py", "bench.py", "activity_files_spark/__init__.py",
                "tests/test_entry_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return rel
    return ""


def percentile(values: list[float], pct: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total * MB


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


@dataclass
class Pass:
    start_ms: int
    end_ms: int
    wall_s: float
    cpu_s: float
    recs: list[OpRecord]


class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        os.makedirs(WORK, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        os.environ.update({
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "SPARK_GRAFT_CPUS": str(self.nproc),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        tempfile.tempdir = None
        # benchmark-owned inputs and output checks, left out of set-up
        self.excluded_s = self.excluded_cpu_s = 0.0
        self.records: list[OpRecord] = []
        self.tree = T.ProcTree(os.getpid())
        self.spark = None

    # ---- set-up ------------------------------------------------------------

    def start_session(self) -> float:
        from activity_files_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.nproc}]",
            shuffle_partitions=2 * self.nproc,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                "spark.ui.showConsoleProgress": "false",
            })
        return time.perf_counter() - t0

    def make_ops(self) -> dict:
        from perfbench.checks import Oracle
        from perfbench.datagen import SF_DIR

        self.sf_dir = SF_DIR
        self.oracle = Oracle(self.sf_dir, os.path.join(WORK, "data"))
        names = WORKLOADS[self.args.workload]
        if names == ("cli_tile",):
            return {"cli_tile": self.make_tile_op()}
        import __spark_entry__ as E

        queries, self.sql = E.queries(), E.oracle_sql()
        return {n: QueryOp(n, queries[n]) for n in names}

    def make_tile_op(self) -> TileOp:
        """The cached image table for this seed, and the geofence file."""
        import __spark_entry__ as E
        from bench import BIG_DIMS

        from perfbench.checks import geofence_rings, tile_expected
        from perfbench.datagen import ensure_images

        # image positions cycle every 1000 ids: offsets by whole thousands
        # change the pixels and keep the geofence counts comparable. All the
        # tables are written by the first run, so later runs take equally long
        firsts = [k * 1000 for k in range(TILE_OFFSETS)]
        first = firsts[self.args.seed % TILE_OFFSETS]
        rings = geofence_rings(E.GEOFENCES)
        with self.excluded():
            images = {f: ensure_images(os.path.join(WORK, "data"), f, TILE_IMAGES,
                                       BIG_DIMS) for f in firsts}[first]
            self.tile_expected = tile_expected(first, TILE_IMAGES, rings)
        fences = os.path.join(self.dir, "geofences.json")
        with open(fences, "w") as f:
            json.dump(rings, f)
        os.makedirs(os.path.join(self.dir, "tile"))
        return TileOp(images, fences, os.path.join(self.dir, "tile"))

    @contextlib.contextmanager
    def excluded(self):
        """Work of the benchmark itself, in this process: its wall and CPU
        time are taken out of set-up."""
        wall, cpu = time.perf_counter(), time.process_time()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - wall
            self.excluded_cpu_s += time.process_time() - cpu

    # ---- the loop ----------------------------------------------------------

    def run_op(self, op, pass_no: int) -> OpRecord:
        rec = OpRecord(op.name, pass_no)
        t0 = time.perf_counter()
        try:
            op.run(self.spark, self.sf_dir, rec, self.tree)
        except Exception as e:  # noqa: BLE001 — a failing op is counted, not fatal
            msg = str(e).strip().splitlines()
            rec.error = f"{type(e).__name__}: {msg[0] if msg else ''}"
            rec.exec_s = time.perf_counter() - t0 - rec.build_s
            rec.end_ms = int(time.time() * 1000)
        self.records.append(rec)
        return rec

    def run_pass(self, ops: dict, rng: random.Random, pass_no: int) -> Pass:
        """Every op once, in an order drawn from the seed."""
        start_ms, t0, cpu0 = int(time.time() * 1000), time.perf_counter(), self.tree.cpu()
        recs = [self.run_op(ops[n], pass_no)
                for n in rng.sample(list(ops), len(ops))]
        return Pass(start_ms, int(time.time() * 1000), time.perf_counter() - t0,
                    self.tree.cpu()["all"] - cpu0["all"], recs)

    def measured_passes(self) -> int:
        """Passes that take ``--seconds`` on a quiet 4-core machine.

        The count depends on ``--seconds`` alone, not on how fast this run
        goes: the JVM is still warming up, so a pass costs less than the one
        before it, and a median over a varying number of passes would move
        with the load of the machine."""
        nominal = NOMINAL_PASS_S[self.args.workload]
        return max(MIN_PASSES, round(self.args.seconds / nominal))

    def measure(self, ops: dict, rng: random.Random, n: int) -> list[Pass]:
        """``n`` whole untraced passes."""
        return [self.run_pass(ops, rng, k + 1) for k in range(n)]

    def measure_traced(self, ops: dict, rng: random.Random, n: int) -> tuple:
        """Untraced and traced passes in turn, ``n`` in all, untraced first.

        Alternating keeps the JIT warming of the JVM out of the tracing
        overhead. Each traced pass has its own event log and /proc sampler."""
        plain: list[Pass] = []
        traced: list[Pass] = []
        peak_workers_mb = 0.0
        for k in range(n):
            if k % 2 == 0:
                plain.append(self.run_pass(ops, rng, k + 1))
                continue
            log_dir = os.path.join(self.dir, "events", f"pass-{k + 1}")
            with T.RuntimeEventLog(self.spark, log_dir), T.RssSampler(self.tree) as s:
                traced.append(self.run_pass(ops, rng, k + 1))
            peak_workers_mb = max(peak_workers_mb, s.peak_workers_mb)
        return plain, traced, peak_workers_mb

    def check(self, rec: OpRecord) -> None:
        if rec.error or rec.ok:
            return
        from perfbench.checks import check_tile

        if rec.name == "cli_tile":
            rec.error = check_tile(self.tile_expected, rec.output)
        else:
            rec.error = self.oracle.check(rec.name, self.sql[rec.name], rec.output)
        rec.ok = not rec.error
        rec.output = None

    def execute(self) -> dict:
        args = self.args
        session_s = self.start_session()
        ops = self.make_ops()
        rng = random.Random(args.seed)
        for _ in range(WARMUP_PASSES):
            self.run_pass(ops, rng, 0)
        with self.excluded():
            for rec in self.records:
                self.check(rec)
        setup_wall_s = time.perf_counter() - T_PROCESS - self.excluded_s
        # CPU of every process of the run since it started: the benchmark
        # process (with the imports), the JVM and the Python workers
        setup_cpu_s = self.tree.cpu()["all"] - self.excluded_cpu_s

        steal0, ticks0 = T.cpu_ticks()
        n = self.measured_passes()
        if args.trace:
            plain, traced, peak_workers_mb = self.measure_traced(ops, rng, n)
        else:
            plain, traced = self.measure(ops, rng, n), None
        steal1, ticks1 = T.cpu_ticks()
        rss = self.tree.peak_rss_mb()
        self.env = self.environment()
        self.shutdown()
        for rec in self.records:
            self.check(rec)
        tmp_mb_left = dir_mb(self.tmp)

        failed = [r for r in self.records if not r.ok]
        lat = [r.latency_s for p in plain for r in p.recs]
        pass_s = statistics.median(p.wall_s for p in plain)
        self.summary = {
            "workload": args.workload, "seed": args.seed,
            "passes": len(plain), "op_samples": len(lat),
            # wall times: on a shared machine they follow the load of the
            # host, so the end-to-end metrics are CPU times (README)
            "setup_wall_s": setup_wall_s,
            "pass_wall_s": pass_s,
            "op_wall_p50_s": statistics.median(lat),
            "op_wall_tail_s": percentile(lat, TAIL_PERCENTILE),
            "op_tail_percentile": TAIL_PERCENTILE,
            "op_tail_beyond": sum(v > percentile(lat, TAIL_PERCENTILE) for v in lat),
            "pass_walls_s": [round(p.wall_s, 3) for p in plain],
            "pass_cpus_s": [round(p.cpu_s, 3) for p in plain],
            "ops_failed_ratio": len(failed) / len(self.records),
            "failed_ops": sorted({f"{r.name}: {r.error}" for r in failed}),
            "op_median_wall_s": self.op_medians(plain, "latency_s"),
            "op_median_cpu_s": self.op_medians(plain, "cpu_s"),
            "op_median_jit_cpu_s": self.op_medians(plain, "jit_cpu_s"),
            "op_median_gc_cpu_s": self.op_medians(plain, "gc_cpu_s"),
            "op_median_pyworker_cpu_s": self.op_medians(plain, "pyworker_cpu_s"),
            "session_s": round(session_s, 3),
            "excluded_from_setup_s": round(self.excluded_s, 3),
            "excluded_from_setup_cpu_s": round(self.excluded_cpu_s, 3),
            # the JVM's share follows its heap sizing, not the engine's data,
            # and spreads too far between runs to be an end-to-end metric
            "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
            "tmp_mb_left": round(tmp_mb_left, 3),
            # CPU time the hypervisor gave to other guests while measuring
            "cpu_steal_share": round((steal1 - steal0) / max(1, ticks1 - ticks0), 4),
        }
        written = [r.extra["bytes_written"] for p in plain for r in p.recs if r.extra]
        if written:  # cli_tile
            self.summary["images_per_s"] = TILE_IMAGES / pass_s
            self.summary["bytes_per_image"] = statistics.median(written) / TILE_IMAGES
        if traced:
            metrics = self.layer_metrics(traced, pass_s, session_s, tmp_mb_left,
                                         peak_workers_mb, rss)
        else:
            metrics = {
                "setup_s": (setup_cpu_s, "s"),
                "pass_cpu_s": (statistics.median(p.cpu_s for p in plain), "s"),
            }
        return {
            "correct": not failed,
            "attempted": len(self.records),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    @staticmethod
    def op_medians(passes: list[Pass], attr: str) -> dict[str, float]:
        names = sorted({r.name for p in passes for r in p.recs})
        return {n: round(statistics.median(
            getattr(r, attr) for p in passes for r in p.recs if r.name == n), 4)
            for n in names}

    # ---- traced passes -----------------------------------------------------

    def op_layers(self, log: T.EventLog, r: OpRecord) -> dict:
        build = T.window_stats(log, r.start_ms, r.built_ms)
        run = T.window_stats(log, r.built_ms, r.end_ms + 1)
        whole = T.window_stats(log, r.start_ms, r.end_ms + 1)
        is_cli = r.name == "cli_tile"
        op = {
            "name": r.name, "pass": r.pass_no, "ok": r.ok, "error": r.error,
            "entry.build_s": 0.0 if is_cli else r.build_s,
            "entry.exec_s": 0.0 if is_cli else r.exec_s,
            "entry.build_jobs": 0 if is_cli else build["jobs"],
            "entry.exec_jobs": 0 if is_cli else run["jobs"],
            "cli.main_s": r.exec_s if is_cli else 0.0,
            "pyworker.cpu_s": r.pyworker_cpu_s,
            "jvm.jit_cpu_s": r.jit_cpu_s,
            "jvm.gc_cpu_s": r.gc_cpu_s,
            "streaming.batches": whole["batches"],
            "streaming.batch_s": whole["batch_s"],
            "plans.stage_s": r.extra.get("stage_s", 0.0),
            "plans.bytes_written": r.extra.get("bytes_written", 0),
            "plans.files_written": r.extra.get("files_written", 0),
        }
        for k in ("jobs", "stages", "tasks") + T.STAGE_FIELDS:
            op[f"spark.{k}"] = whole[k]
        return op

    def layer_metrics(self, traced, untraced_pass_s, session_s, tmp_mb_left,
                      peak_workers_mb, rss) -> dict:
        log = T.parse_event_log(os.path.join(self.dir, "events"))
        ops, per_pass = [], []
        for p in traced:
            rows = [self.op_layers(log, r) for r in p.recs]
            ops += rows
            row = {k: sum(o[k] for o in rows) for k in LAYER_SUMS}
            row["pass_s"] = p.wall_s
            row["spark.nojob_s"] = T.nojob_s(log, p.start_ms, p.end_ms)
            row["spark.slot_busy"] = row["spark.task_s"] / (p.wall_s * self.nproc)
            per_pass.append(row)
        med = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        units = {**LAYER_SUMS, "spark.nojob_s": "s", "spark.slot_busy": "ratio"}
        metrics = {k: (med[k], u) for k, u in units.items()}
        tile = self.args.workload == "cli_tile"
        ops_per_pass = len(WORKLOADS[self.args.workload])
        metrics.update({
            "session.start_s": (session_s, "s"),
            "jvm.peak_rss_mb": (rss["jvm"], "MB"),
            "pyworker.peak_rss_mb": (peak_workers_mb, "MB"),
            "streaming.tmp_mb_left": (
                tmp_mb_left * ops_per_pass / len(self.records), "MB"),
            "cli.images_per_s": (TILE_IMAGES / med["pass_s"] if tile else 0.0, "1/s"),
            "plans.bytes_per_image": (
                med["plans.bytes_written"] / TILE_IMAGES if tile else 0.0, "B"),
            "trace_overhead": (med["pass_s"] / untraced_pass_s, "ratio"),
        })
        accounted = med["entry.build_s"] + med["entry.exec_s"] + med["cli.main_s"]
        self.summary.update({
            "traced_passes": len(traced),
            "accounted_share_of_traced_pass_s": accounted / med["pass_s"],
            # executor CPU can not exceed run time (whole ms per task)
            "cpu_over_task_ops": [
                o["name"] for o in ops if o["spark.executor_cpu_s"]
                > o["spark.task_s"] + o["spark.tasks"] * 1e-3],
        })
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        self.trace_path = os.path.join(
            WORK, "traces", f"{self.args.workload}-seed{self.args.seed}.json")
        with open(self.trace_path, "w") as f:
            json.dump({"env": self.env, "summary": self.summary,
                       "per_pass_median": med, "ops": ops},
                      f, indent=1, sort_keys=True)
        return metrics

    # ---- environment and shutdown ------------------------------------------

    def environment(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "nproc": self.nproc,
            "master": sc.master,
            "shuffle_width": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "commit": git_commit(),
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
        }

    def shutdown(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for each."""
        from pyspark import SparkContext

        procs = T.descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            jvm_proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if jvm_proc is not None:
                jvm_proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    jvm_proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    jvm_proc.kill()
                    jvm_proc.wait()
        T.wait_gone(procs, timeout_s=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = program_missing()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from the root "
              "of a checkout of the engine", file=sys.stderr)
        return 2
    run = Run(args)
    try:
        result = run.execute()
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    print("perfbench-env " + json.dumps(run.env, sort_keys=True))
    print("perfbench-summary " + json.dumps(run.summary, sort_keys=True))
    if args.trace:
        print(f"perfbench-trace {os.path.relpath(run.trace_path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
