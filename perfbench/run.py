"""Layered encode/decode benchmark for orc_haskell_spark.

    python3 perfbench/run.py --workload pages|lineitem \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout (the package is imported from
there, never from an installed copy). Each run starts its own
``local[<cores>]`` Spark session, builds its inputs from ``--seed``,
warms every timed path, then repeats the workload's write and read jobs
for ``--seconds`` seconds, checks every output, and prints one JSON
object as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics (see README.md).
Working files live under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
COLD_STARTS = 3


def _fail_setup(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """State of one run: the Spark session, the working directory and
    the attempted / failed / checked counters every operation reports
    through."""

    def __init__(self, workload: str, seed: int, seconds: int) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cores = cores()
        self.work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.rss_mb = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def attempt(self, label: str, fn, *args):
        """Run one operation and return its result (a timed job returns
        its own wall seconds); a raise counts as a failed operation and
        returns None."""
        self.attempted += 1
        try:
            out = fn(*args)
        except Exception:
            self.failed += 1
            print(f"perfbench: {label} failed", file=sys.stderr)
            traceback.print_exc()
            return None
        self.sample_rss()
        return out

    def check(self, label: str, ok: bool) -> None:
        self.checks[label] = self.checks.get(label, True) and bool(ok)
        if not ok:
            print(f"perfbench: check {label} failed", file=sys.stderr)

    def sample_rss(self) -> None:
        """Peak RSS (VmHWM) of this process's PySpark worker
        descendants. Workers are reused across jobs, so sampling after
        every operation sees each one before it can exit."""
        self.rss_mb = max(self.rss_mb, worker_peak_rss_mb(os.getpid()))

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------ Spark life
    def start_spark(self) -> None:
        from pyspark.sql import SparkSession

        local = self.path("spark-local")
        os.makedirs(local, exist_ok=True)
        self.spark = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
            .config("spark.driver.memory", "3g")
            .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", self.path("warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None) if gateway else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def worker_peak_rss_mb(root_pid: int) -> float:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    peak = 0.0
    todo = list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                # the daemon and the workers it forks; not the JVM,
                # whose command line also names pyspark
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024)
        except OSError:
            continue
    return peak


def cold_start_s(bench: Bench, args: list[str]) -> list[float]:
    """Program set-up, repeated: a fresh interpreter imports the
    package, loads the native kernels and runs the workload's worker
    path once on a small input (perfbench/cold_start.py)."""
    out = []
    for _ in range(COLD_STARTS):
        t0 = time.perf_counter()
        subprocess.run([sys.executable, "-m", "perfbench.cold_start", *args],
                       check=True, cwd=ROOT, stdout=subprocess.DEVNULL)
        out.append(time.perf_counter() - t0)
    return out


def host_canary_s() -> float:
    """Spark-free noise reading: pyarrow ORC write of a fixed table.
    Recorded only; nothing waits or gates on it."""
    import io

    import pyarrow.orc as paorc

    from orc_haskell_spark import gen

    table = gen.pages_table(0, 20000)
    t0 = time.perf_counter()
    paorc.write_table(table, io.BytesIO(), compression="zstd")
    return time.perf_counter() - t0


# one round: the read job is about half as long as the write job and
# noisier, so it is sampled twice per round
ROUND = ("write", "read", "read")
# untimed full-size rounds before the window: worker start-up, imports,
# JIT and first-touch allocation land here (after one round the next
# jobs still ran ~15% slower)
WARM_ROUNDS = 2


def rounds(bench: Bench, wl, seconds: float, at_least: int
           ) -> dict[str, list[float]]:
    """Repeat rounds of the workload's write and read jobs until
    ``seconds`` have passed and ``at_least`` rounds have run."""
    samples: dict[str, list[float]] = {"write": [], "read": []}
    t_end = time.perf_counter() + seconds
    done = 0
    while done < at_least or time.perf_counter() < t_end:
        for op in ROUND:
            dt = bench.attempt(op, getattr(wl, op), bench)
            if dt is not None:
                samples[op].append(dt)
        done += 1
    return samples


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "orc_haskell_spark",
                                       "__init__.py")):
        return _fail_setup("run from the root of a source checkout "
                           "(orc_haskell_spark/ not found here)")
    sys.path[0] = ROOT  # not perfbench/: import it as a package
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        return _fail_setup(f"unknown workload {args.workload!r}; choose "
                           f"from {sorted(workloads.WORKLOADS)}")
    bench = Bench(args.workload, args.seed, args.seconds)
    os.makedirs(bench.path("tmp"), exist_ok=True)
    # inherited by the JVM, its Python workers and the cold starts: the
    # package comes from this checkout, kernels build once into it and
    # temporary files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["ORC_HS_NATIVE_DIR"] = os.path.join(WORK_ROOT, "native")
    os.environ["TMPDIR"] = bench.path("tmp")
    # every JVM, the spark-submit launcher included: no hsperfdata files
    # in /tmp, temporary files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={bench.path('tmp')}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("ORC_HS_NO_NATIVE", None)
    import orc_haskell_spark
    pkg = os.path.dirname(os.path.abspath(orc_haskell_spark.__file__))
    if pkg != os.path.join(ROOT, "orc_haskell_spark"):
        return _fail_setup(f"imported the package from {pkg}, not from "
                           f"this checkout")

    wl = workloads.WORKLOADS[args.workload]()
    try:
        return run(bench, wl, bool(args.trace))
    finally:
        bench.stop_spark()
        shutil.rmtree(bench.work, ignore_errors=True)


def run(bench: Bench, wl, trace: bool) -> int:
    import numpy
    import pyarrow
    import pyspark

    from orc_haskell_spark.codecs import native

    setup: dict[str, float] = {}
    t0 = time.perf_counter()
    native_ok = native.load() is not None  # builds into the checkout once
    setup["native_load_s"] = time.perf_counter() - t0
    bench.attempted += 1
    if not native_ok:
        bench.failed += 1
        print("perfbench: native kernels did not load", file=sys.stderr)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        gen = pool.submit(wl.make_inputs, bench)
        bench.start_spark()
        setup["spark_session_s"] = time.perf_counter() - t0
        gen.result()
    setup["inputs_s"] = time.perf_counter() - t0

    cold = bench.attempt("cold start", cold_start_s, bench,
                         wl.cold_start_args(bench)) or [0.0]
    t0 = time.perf_counter()
    bench.attempt("reference", wl.reference, bench)
    rounds(bench, wl, 0, WARM_ROUNDS)
    setup["warmup_s"] = time.perf_counter() - t0
    canary = host_canary_s()

    samples = rounds(bench, wl, bench.seconds, 2)
    bench.attempt("verify", wl.verify, bench)

    info = {
        "workload": bench.workload, "seed": bench.seed,
        "cores": bench.cores, "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "native_loaded": native_ok, "host_canary_s": canary,
        "cold_start_s": cold, "setup": setup,
        "samples": samples, "checks": bench.checks,
    }
    if trace:
        from perfbench import layers

        metrics = layers.per_layer(bench, wl, samples)
        metrics.update({
            "setup.spark_session_s": (setup["spark_session_s"], "s"),
            "setup.inputs_s": (setup["inputs_s"], "s"),
            "setup.warmup_s": (setup["warmup_s"], "s"),
            "env.cores": (bench.cores, "count"),
            "env.seed": (bench.seed, "count"),
            "host.canary_s": (canary, "s"),
            "codecs.native_loaded": (int(native_ok), "bool"),
            "failed_frac": (bench.failed / bench.attempted, "fraction"),
        })
    else:
        metrics = wl.end_to_end(bench, samples)
        metrics["worker_peak_rss_mb"] = (bench.rss_mb, "MB")
        metrics["setup_s"] = (statistics.median(cold), "s")

    print(json.dumps({"env": info}, default=str))
    print(json.dumps({
        "correct": bench.failed == 0 and all(bench.checks.values()),
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
