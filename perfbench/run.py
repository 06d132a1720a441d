"""Repository benchmark: ``batch`` and ``serve`` workloads on local[4].

Usage (from the repository root):

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 1

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer metrics.
Everything else goes to standard error. All files the benchmark writes
(input cache, outputs, Spark scratch, event logs, traces) live under
``perfbench/.work/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import CORES, ROOT, WORK, log  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

# fits a 15 GB, 4-core box shared with other jobs; session.py defaults to 24g
DRIVER_MEM = "3g"
# one set-up at the start of a run (it launches the JVM) and SETUP_REPS - 1
# at its end, on a warm JVM
SETUP_REPS = 3


def _configure_env() -> dict[str, str]:
    """Process environment for the driver and its Python workers. Without
    PYTHONPATH, mapInPandas workers cannot import the package when the
    working directory is not the repository root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


class Bench:
    """One benchmark run: session lifecycle, tracer, checks and results."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.tracer = Tracer(trace, workload, seed)
        self.spark = None
        self.checks: list[tuple[str, bool, str]] = []
        self.ops = 0
        self.failed_ops = 0
        self.eventlog_dir = os.path.join(WORK, "eventlog")
        self.parsed_eventlog: dict = {}

    # -- session -----------------------------------------------------------
    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(WORK, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then end the JVM and wait until it has exited:
        the JVM exits when the pipe to its standard input closes."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def _start(self, warm) -> float:
        """One set-up: (re)start the session and run the warm-up pass. A
        restart first collects the stopped session's garbage, so that its
        clean-up does not land in the measured set-up."""
        from pyspark import SparkContext

        from epstein_browser_spark.session import get_spark

        self.stop()
        if SparkContext._jvm is not None:
            SparkContext._jvm.java.lang.System.gc()
        gc.collect()
        t0 = time.perf_counter()
        with self.tracer.span("session.setup"):
            self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                                   extra_conf=self._conf())
            warm(self.spark)
        dt = time.perf_counter() - t0
        log(f"set-up: {dt:.3f}s")
        return dt

    def setup(self, first_warm, warm) -> None:
        """The run's first set-up: launch the JVM, start the session and run
        ``first_warm``, the workload's first correctness check, which warms
        the JVM as a warm-up pass would. The repeats run ``warm``."""
        self.warm = warm
        self.setup_samples = [self._start(first_warm)]

    def setup_s(self) -> float:
        """Median set-up time: the first set-up and SETUP_REPS - 1 repeats
        (session restart + warm-up) once the workload is done. The first
        one, with the JVM launch and cold JIT, is the largest, so the median
        is one of warm-JVM restarts, which vary far less from run to run."""
        self.setup_samples += [self._start(self.warm) for _ in range(SETUP_REPS - 1)]
        log(f"setup samples: {[round(s, 3) for s in self.setup_samples]}")
        return statistics.median(self.setup_samples)

    def app_eventlog(self) -> str:
        """Event log of the current application: a rolling-log directory
        when Spark writes one, else a single file."""
        app = self.spark.sparkContext.applicationId
        rolling = os.path.join(self.eventlog_dir, f"eventlog_v2_{app}")
        return rolling if os.path.isdir(rolling) else os.path.join(self.eventlog_dir, app)

    def start_timed(self) -> None:
        """Settle the heap before the timed pass: collect the set-up's
        garbage (JVM and Python), so that its collection does not land in
        the timed pass."""
        self.spark._jvm.java.lang.System.gc()
        gc.collect()

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of the driver JVM plus the Python
        driver since they started."""
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(jvm) + _vm_hwm_kb(os.getpid())) / 1024.0

    # -- correctness -------------------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        log(f"check {name}: {'ok' if ok else 'FAILED'} {detail}")
        return bool(ok)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _result(b: Bench, spec: dict, metrics: dict[str, float], kind: str) -> dict:
    units = {m["name"]: m["unit"] for m in spec[kind]}
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"workload did not produce metrics {missing}")
    failed = b.failed_ops + sum(1 for _n, ok, _d in b.checks if not ok)
    attempted = b.ops + len(b.checks)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]}
                    for n in units},
    }


def _results_path(workload: str) -> str:
    return os.path.join(WORK, "results", f"{workload}.jsonl")


def _overhead(workload: str, seed: int, e2e: dict[str, float]) -> dict[str, float]:
    """Traced minus untraced end-to-end metrics. The untraced side is the
    median of this checkout's untraced runs of the workload, same-seed runs
    preferred; ``trace.untraced_runs`` says how many were used (0 means no
    untraced run exists yet and the overheads read 0)."""
    rows = []
    if os.path.exists(_results_path(workload)):
        with open(_results_path(workload)) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    same = [r for r in rows if r["seed"] == seed]
    rows = same or rows
    out = {"trace.untraced_runs": len(rows)}
    for name, value in e2e.items():
        base = [r["metrics"][name] for r in rows if name in r["metrics"]]
        out[f"trace.overhead.{name}"] = value - statistics.median(base) if base else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    for need in ("epstein_browser_spark", os.path.join("tests", "fixtures"),
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"perfbench: {need} not found under {ROOT}; run from a "
                "checkout of the repository")
            return 2
    env = _configure_env()
    spec = _spec()
    # imported only once the checkout is known to hold the package
    from perfbench import batch, serve

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    mod = {"batch": batch, "serve": serve}[args.workload]
    out_root = os.path.join(WORK, "out", args.workload)
    shutil.rmtree(out_root, ignore_errors=True)
    try:
        e2e, layers = mod.run(b, out_root)
        e2e["setup_s"] = b.setup_s()
    finally:
        b.close()
        shutil.rmtree(out_root, ignore_errors=True)
    settings = {k: env[k] for k in ("PYTHONPATH", "SPARK_DRIVER_MEM")}
    log("settings: " + json.dumps(settings))
    log("end-to-end: " + json.dumps(e2e))
    if b.trace:
        layers.update(_overhead(args.workload, args.seed, e2e))
        for m in spec["per_layer"]:
            if m["name"].split(".")[0] not in mod.LAYERS:
                layers.setdefault(m["name"], 0.0)
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        b.tracer.dump(os.path.join(
            trace_dir, f"{args.workload}-s{args.seed}-{int(time.time())}.json"),
            {"settings": settings, "eventlog": b.parsed_eventlog})
        result = _result(b, spec, layers, "per_layer")
    else:
        os.makedirs(os.path.dirname(_results_path(args.workload)), exist_ok=True)
        with open(_results_path(args.workload), "a") as f:
            f.write(json.dumps({"seed": args.seed, "metrics": e2e}) + "\n")
        result = _result(b, spec, e2e, "end_to_end")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
