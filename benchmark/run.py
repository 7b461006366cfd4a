"""plc benchmark: one workload per run, one client in a closed loop.

    python3 benchmark/run.py --workload ingest|serve|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run starts a local Spark session on
all cores, generates its inputs from the seed, sets up (store build and
untimed warm-up calls of every operation type), then runs the timed
operations in fixed blocks for about ``--seconds`` seconds, checking every
result. Human-readable lines go first; the last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("ingest", "serve")
HEAP = "2g"  # inputs are tens of MB; leaves the box's memory to others

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_p50_ms": "ms", "mix_ms": "ms",
    "bulk_mb_per_s": "MB/s", "bulk_cpu_s_per_gb": "s/GB",
    "bytes_ratio": "ratio", "peak_rss_mb": "MB",
}


def log(*a) -> None:
    print(*a, flush=True)


# ------------------------------------------------------------------ host


def _stat_steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def _loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _tree(root: int) -> list[int]:
    """``root`` and every live descendant process."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    s = f.read()
            except OSError:
                continue
            parent[int(d)] = int(s[s.rfind(b")") + 2:].split()[1])
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(c for c, pp in parent.items() if pp == p)
    return out


def peak_rss_mb() -> float:
    """Sum over the live process tree (driver, JVM, Python workers) of each
    process's peak resident set (VmHWM)."""
    kb = 0
    for p in _tree(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


# ----------------------------------------------------------------- bench


class Bench:
    """Timing, checking and counting for one run."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool):
        from spans import Tracer

        self.spark, self.work, self.seed = spark, work, seed
        self.seconds = seconds
        self.tracer = Tracer(spark, trace)
        self.span = self.tracer.span
        self.samples: dict[str, list[tuple[float, float]]] = {}  # wall, cpu
        self.attempted = self.failed = 0
        self.stream = None
        self.store = None

    def call(self, op: str, fn, check, *, timed: bool = True):
        """Run one operation; ``check(result)`` says whether it was right.
        A raised error or a wrong result counts as a failed operation."""
        from plc.procstat import proc_tree_cpu_sec

        self.attempted += 1
        cpu0 = proc_tree_cpu_sec()
        try:
            with self.tracer.op(op, timed):
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
            ok = check(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok, out = False, None
        if not ok:
            self.failed += 1
            print(f"FAILED {op}", file=sys.stderr, flush=True)
            return out
        if not timed:
            log(f"warmup {op} {1e3 * wall:.0f} ms")
        else:
            self.samples.setdefault(op, []).append(
                (wall, proc_tree_cpu_sec() - cpu0))
        return out

    def block(self, op: str, budget_s: float, step, min_calls: int = 2):
        """One block of a single operation type: at least ``min_calls``
        calls, and more until the block's share of the run is used."""
        end = time.perf_counter() + budget_s
        i = 0
        while i < min_calls or time.perf_counter() < end:
            step(i)
            i += 1

    def plan(self, df) -> None:
        """Traced run: time physical planning on its own (the action that
        follows reuses the planned query)."""
        if self.tracer.enabled:
            with self.span("datasource.plan"):
                df._jdf.queryExecution().executedPlan()

    # ---------------------------------------------------------- statistics

    def p50(self, op: str, cpu: bool = False) -> float:
        return statistics.median(s[1 if cpu else 0] for s in self.samples[op])

    def tail(self, op: str) -> None:
        """Highest percentile with at least ten samples beyond it."""
        xs = sorted(s[0] for s in self.samples.get(op, []))
        n = len(xs)
        if n < 11:
            log(f"metric {op}_tail_ms n/a (n={n}: fewer than 11 samples)")
            return
        pct = 100 * (n - 10) / n
        self.named(f"{op}_tail_ms", "ms", 1e3 * xs[n - 11],
                   f"p{pct:.1f}, n={n}")

    def named(self, name: str, unit: str, value: float, note: str = ""):
        log(f"metric {name} {value:.6g} {unit}{'  ' + note if note else ''}")

    def record_input(self, wl: str, rows: int, raw: int) -> None:
        log(f"input {wl} rows={rows} raw_bytes={raw}")

    def record_store(self, wl: str, enc: int, ref: int) -> None:
        self.store = (enc, ref)
        log(f"store {wl} enc_bytes={enc} parquet_zstd_bytes={ref}")
        self.named("bytes_ratio", "ratio", enc / ref)


# -------------------------------------------------------------- session


def start_spark(work: str, n: int, trace: bool):
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("plc-benchmark")
             .config("spark.driver.memory", HEAP)
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                     "-XX:-UsePerfData")
             .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.enabled", "true" if trace else "false")
             .config("spark.ui.port", "0")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
    deadline = time.monotonic() + 60
    while len(_tree(os.getpid())) > 1:
        if time.monotonic() > deadline:
            for p in _tree(os.getpid())[1:]:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.1)


# ----------------------------------------------------------------- main


def end_to_end(b: Bench, wl, setup_s: float, rss: float) -> dict:
    mix = sum(b.p50(op) for op in b.samples)
    enc, ref = b.store
    vals = {
        "setup_s": setup_s,
        "op_p50_ms": 1e3 * b.p50(wl.headline),
        "mix_ms": 1e3 * mix,
        "bulk_mb_per_s": wl.bulk_bytes / 1e6 / b.p50(wl.bulk),
        "bulk_cpu_s_per_gb": b.p50(wl.bulk, cpu=True) / (wl.bulk_bytes / 1e9),
        "bytes_ratio": enc / ref,
        "peak_rss_mb": rss,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "plc", "__init__.py")):
        print(f"no plc package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    # an untraced run leaves its metrics here; a traced run of the same
    # workload and seed compares against them (the tracing overhead)
    untraced = os.path.join(base, "results",
                            f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every scratch file of the run (plc's shipped zip, Spark's
    # shuffle and block files, the JVMs' tmp) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    tempfile.tempdir = None  # re-read TMPDIR

    from workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    load0 = _loadavg_1m()
    steal0 = _stat_steal_s()
    log(f"host nproc={nproc} loadavg_1m={load0:.2f}")
    t0 = time.perf_counter()
    spark = start_spark(work, nproc, bool(args.trace))
    log(f"session started in {time.perf_counter() - t0:.1f} s")
    try:
        b = Bench(spark, work, args.seed, args.seconds, bool(args.trace))
        wl = WORKLOADS[args.workload](b)
        wl.setup()
        setup_s = time.perf_counter() - t0
        log(f"metric setup_s {setup_s:.6g} s")
        t1 = time.perf_counter()
        wl.timed(args.seconds)
        timed_s = time.perf_counter() - t1
        for op, ss in b.samples.items():
            log(f"op {op} n={len(ss)} p50_ms={1e3 * b.p50(op):.1f} "
                f"cpu_p50_s={b.p50(op, cpu=True):.3f} wall_ms="
                + ",".join(f"{1e3 * s[0]:.0f}" for s in ss))
        rss = peak_rss_mb()
        steal = _stat_steal_s() - steal0
        log(f"host timed_s={timed_s:.1f} steal_s={steal:.2f} "
            f"loadavg_1m_after={_loadavg_1m():.2f}")
        if args.trace:
            from layers import per_layer

            metrics = per_layer(b, wl, steal, load0, untraced)
        elif b.failed == 0:
            metrics = end_to_end(b, wl, setup_s, rss)
            os.makedirs(os.path.dirname(untraced), exist_ok=True)
            with open(untraced, "w") as f:
                json.dump(metrics, f)
        else:
            metrics = {}
        wl.close()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    rc = 0
    for name in WORKLOAD_NAMES:
        log(f"== {name}")
        p = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--workload", name, "--seed", str(args.seed),
                            "--seconds", str(args.seconds),
                            "--trace", str(args.trace)])
        rc = rc or p.returncode
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
