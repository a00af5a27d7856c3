"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --calibrate [--seed N] [--seconds S]
    python3 perfbench/run.py --check-reference [--seed N]

Run from the root of a checkout. Builds its inputs from ``--seed`` (cached
under ``.perfbench/cache``), starts Spark at ``local[nproc]`` inside a
temporary working directory under ``.perfbench/``, measures the workload
for ``--seconds``, checks every output, prints each metric by name with
its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans are written to ``.perfbench/traces/``).
Exit code 0 means every output was correct; 2 means the program under
test was not found.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3          # session set-ups per run, each in a new JVM; setup_s is their median
DRIVER_MEM = "1g"   # small driver heap: the benchmark may share its machine


class Run:
    """One benchmark run: directories, session, tracer and window clock."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 cores: int, catalog_scale: float):
        from perfbench.trace import Tracer

        self.workload, self.seed, self.seconds, self.cores = workload, seed, seconds, cores
        self.catalog_scale = catalog_scale
        self.base = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(self.base, "cache")
        os.makedirs(self.cache, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix="run-", dir=self.base)
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", trace)
        self.spark = None
        self.warmup_s = 0.0
        self.t_window = None
        self.t_first_op = None

    def inputs(self, specs: list) -> list[str]:
        """Paths of generated inputs, one per ``(perfbench.gen function,
        args)`` spec. Cache misses are built in one child process, so their
        memory and time stay out of this run."""

        def lookup():
            return [fn(self.cache, self.seed, *args, allow_build=False)
                    for fn, args in specs]

        try:
            return lookup()
        except LookupError:
            pass
        code = ("import json, sys; from perfbench import gen; "
                "[getattr(gen, f)(sys.argv[1], int(sys.argv[2]), *a) "
                "for f, a in json.loads(sys.argv[3])]")
        subprocess.run(
            [sys.executable, "-c", code, self.cache, str(self.seed),
             json.dumps([(fn.__name__, list(args)) for fn, args in specs])],
            cwd=ROOT, check=True)
        return lookup()

    def window_start(self) -> None:
        from bench import _cpu_sample

        self.cpu_a = _cpu_sample()
        self.t_first_op = time.time()
        self.t_window = time.perf_counter()

    def units(self, nominal_s: float) -> int:
        """Units (catalog passes or replay units) in the window: as many as
        fit in ``seconds`` at the unit's nominal time on a 4-vCPU machine,
        at least one. The count depends only on ``seconds``, so every run
        does the same work however fast the machine is that day."""
        return max(1, round(self.seconds / nominal_s))

    def window_end(self) -> float:
        from bench import _cpu_sample, _host_window

        dt = time.perf_counter() - self.t_window
        self.trace_cost_s = self.tracer.cost_s  # tracing work inside the window
        self.host_during = _host_window(self.cpu_a, _cpu_sample())
        self.rss_mb = peak_rss_mb(self.spark)
        return dt


def peak_rss_mb(spark) -> tuple[float, float]:
    """(JVM VmHWM, this Python driver's max RSS) in MB."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return hwm_kb / 1024, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def start_session(run: Run):
    """``get_spark`` at local[cores] with shuffle partitions = cores, in a
    new JVM when none is running."""
    from data_harvesting_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{run.workload}", master=f"local[{run.cores}]",
        shuffle_partitions=run.cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
            # JVM temp files (native libraries) inside the run directory;
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run.work, 'tmp')} -XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway's JVM (and with it the Python workers) and
    wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _fmt(name, value, unit):
    return f"{name:<40} {value:>14.4f} {unit}" if isinstance(value, float) \
        else f"{name:<40} {value:>14} {unit}"


def enter(run: Run) -> None:
    """Work in the run's temporary directory, with the run's environment."""
    os.chdir(run.work)  # spark-warehouse/, derby.log etc. land here
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run.work, d))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_GRAFT_CPUS": str(run.cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(run.work, "tmp"),
    })


def leave(run: Run) -> None:
    """Stop Spark and its JVM, and delete the run's temporary directory."""
    if run.spark is not None:
        run.spark.stop()
    stop_jvm()
    os.chdir(ROOT)
    shutil.rmtree(run.work, ignore_errors=True)


def run_workload(args) -> int:
    from bench import host_idle_probe

    from perfbench.workloads import WORKLOADS

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.cores,
              args.catalog_scale)
    enter(run)
    idle_before = host_idle_probe(0.5)
    result = None
    try:
        setups = []
        for i in range(SETUPS):
            with run.tracer.span(f"setup {i}", "session"):
                t0 = time.perf_counter()
                run.spark = start_session(run)
                setups.append(time.perf_counter() - t0)
            if i < SETUPS - 1:  # the next set-up launches its own JVM
                run.spark.stop()
                run.spark = None
                stop_jvm()
        result = WORKLOADS[args.workload](run)
    except Exception:  # noqa: BLE001 — report, then fail the run
        traceback.print_exc()
    finally:
        leave(run)

    if result is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    e2e = {  # name -> (value, unit)
        "setup_s": (statistics.median(setups), "s"),
        "items_per_s": (result.items / result.window_s, "1/s"),
        "peak_rss_mb": (sum(run.rss_mb), "MB"),
    }
    layers = dict(result.layers)
    if run.tracer.enabled:
        layers["session.start_s"] = statistics.median(setups)
        layers["host.idle_pct"] = run.host_during["idle_pct"]
        layers["host.steal_pct"] = run.host_during["steal_pct"]
        layers["trace.overhead_pct"] = 100 * run.trace_cost_s / result.window_s

    ops = sorted(result.op_s)
    k = len(ops) - 11  # highest rank with >= 10 samples above it
    tail = [_fmt(f"op_p{round(100 * k / len(ops))}_ms (n={len(ops)})", ops[k] * 1e3, "ms")
            ] if k >= 0 else []
    lines = [
        _fmt("ops_attempted", result.attempted, "count"),
        _fmt("failed_op_ratio", result.failed / result.attempted, "ratio"),
        _fmt("cold_start_s", run.t_first_op - T_PROCESS, "s"),
        _fmt("warmup_s", run.warmup_s, "s"),
        _fmt("window_s", result.window_s, "s"),
        f"{'setup_s.samples':<40} {' '.join(f'{t:.4f}' for t in setups):>14} s",
        _fmt("op_p50_ms", statistics.median(result.op_s) * 1e3, "ms"),
        _fmt("rss.jvm_hwm_mb", run.rss_mb[0], "MB"),
        _fmt("rss.python_max_mb", run.rss_mb[1], "MB"),
        *tail,
        _fmt("host.idle_before_pct", idle_before["idle_pct"], "%"),
        _fmt("host.steal_before_pct", idle_before["steal_pct"], "%"),
        _fmt("host.idle_during_pct", run.host_during["idle_pct"], "%"),
        _fmt("host.steal_during_pct", run.host_during["steal_pct"], "%"),
    ]
    lines += [_fmt(n, v, u) for n, (v, u) in result.info.items()]
    lines += [_fmt(n, v, u) for n, (v, u) in e2e.items()]
    if run.tracer.enabled:
        lines += [_fmt(n, float(v), "") for n, v in sorted(layers.items())]
        self_time = run.tracer.self_time_by_layer()
        lines += [_fmt(f"self_s.{n}", v, "s") for n, v in sorted(self_time.items())]
        tdir = os.path.join(run.base, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{run.tracer.run_id}.json")
        run.tracer.write(path, {"per_layer": layers, "self_s": self_time})
        lines.append(f"spans: {len(run.tracer.spans)} written to {os.path.relpath(path, ROOT)}")
    for f in result.failures:
        lines.append(f"FAILED {f}")
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} local[{run.cores}] units={result.units}")
    print("\n".join(lines))

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if run.tracer.enabled else spec["end_to_end"]
    source = layers if run.tracer.enabled else {n: v for n, (v, _u) in e2e.items()}
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    correct = result.failed == 0
    print(json.dumps({"correct": correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0 if correct else 1


def calibrate(args) -> int:
    """local[1] vs local[nproc] on stream_replay and batch_catalog (the
    scaling criterion, N→4N, and the single-thread baseline); each leg is
    a separate benchmark process."""
    n = len(os.sched_getaffinity(0))
    for workload in ("stream_replay", "batch_catalog"):
        rates = {}
        for cores in (1, n):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", "0", "--cores", str(cores),
                   "--catalog-scale", str(args.catalog_scale)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if proc.returncode != 0:
                print(proc.stdout + proc.stderr[-2000:], file=sys.stderr)
                return 1
            last = json.loads(proc.stdout.strip().splitlines()[-1])
            rates[cores] = last["metrics"]["items_per_s"]["value"]
            print(_fmt(f"{workload}.local[{cores}].items_per_s", rates[cores], "1/s"))
        print(_fmt(f"{workload}.scaling_efficiency_1_to_{n}", rates[n] / rates[1] / n,
                   "ratio"))
    return 0


def check_reference(args) -> int:
    """Untimed self-check that the batch curate reference of the curate
    job equals the ``curate_sessions`` kernel on the seed's input."""
    from perfbench.workloads import check_reference as check

    run = Run("check_reference", args.seed, args.seconds, False, args.cores,
              args.catalog_scale)
    enter(run)
    err = "no result"
    try:
        run.spark = start_session(run)
        err = check(run)
    except Exception:  # noqa: BLE001 — report, then fail the check
        traceback.print_exc()
    finally:
        leave(run)
    print(f"curate reference vs curate_sessions kernel, seed {args.seed}: "
          + (f"FAILED {err}" if err else "equal"))
    return 1 if err else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--catalog-scale", type=float, default=None,
                    help="batch_catalog input size, × sf1 row counts "
                         "(default: the benchmark's own, workloads.CATALOG_SCALE)")
    ap.add_argument("--calibrate", action="store_true")
    ap.add_argument("--check-reference", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import data_harvesting_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: program under test not found in {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import CATALOG_SCALE, WORKLOADS

    if args.catalog_scale is None:
        args.catalog_scale = CATALOG_SCALE
    if args.calibrate:
        return calibrate(args)
    if args.check_reference:
        return check_reference(args)

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
