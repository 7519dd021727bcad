#!/usr/bin/env python3
"""Layered benchmark for demeton_spark.

Run from the repository root:

    python3 perfbench/run.py --workload hillshade_small_skewed --seed 1 \
        --seconds 15 --trace 0

One run starts the Spark JVM (driver memory from host RAM), timed on its
own, and sets up ``SETUP_REPEATS`` times at ``local[nproc]``, each with a
fresh session, seeded inputs and a warm-up; the median is ``setup_s``.
It then repeats the workload's unit of work until the units
have taken ``--seconds`` (at least one), times the bare kernel in nproc
processes right after them, and checks the last unit's outputs against
an oracle.  The last stdout line is the result ``{"correct", "attempted",
"failed", "metrics"}``: the bounded end-to-end metrics with ``--trace 0``,
the per-layer metrics of BENCHMARK.json with ``--trace 1``.  The line
before it is a self-describing record, the one before that a summary with
units.  A traced run sets up once, measures one untraced window, then
rebuilds the session with the Spark UI on, measures a traced window and
runs the workload's companion (a stream drain of the same world, or the
catalog queries) once; records and spans go to ``.perfbench_out/``.

``--tiny`` shrinks every input (the benchmark's own tests use it);
``--corrupt`` damages one checked output to prove the checker counts it.
"""

from __future__ import annotations

import argparse
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
SETUP_REPEATS = 2
#: bounded end-to-end metric → unit (BENCHMARK.json "end_to_end"); the
#: wall-clock figures (work_s, the workload's Mpx/s) are
#: printed and recorded but spread 0.1-0.35 between runs on a shared
#: 4-vCPU host, more than a bound may allow
E2E_UNITS = {"setup_s": "s", "cpu_s": "s"}


def layer_units() -> dict[str, str]:
    """Per-layer metrics of the result line: BENCHMARK.json "per_layer".
    perfbench/LAYERS.md says which end-to-end metric each should move."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def host() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram = int(next(l for l in fh if l.startswith("MemTotal")).split()[1]) * 1024
    return {"nproc": nproc, "ram_gb": round(ram / 2**30, 1),
            # a quarter of RAM, within [1g, 8g]
            "driver_memory": f"{max(1, min(8, int(ram / 4 / 2**30)))}g"}


def git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=30,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class Run:
    def __init__(self, args, workdir: str):
        from probes import Tracer
        from workloads import WORKLOADS

        self.args, self.workdir = args, workdir
        self.host = host()
        self.master = f"local[{self.host['nproc']}]"
        self.wl = WORKLOADS[args.workload](args.seed, args.tiny, workdir)
        self.wl.corrupt = args.corrupt
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                             enabled=False)
        self.spark = None
        self.setups: list[tuple[float, float, float, float]] = []
        self.phases: dict[str, float] = {}  # wall seconds of each phase
        self._lap = time.perf_counter()

    def lap(self, phase: str) -> None:
        now = time.perf_counter()
        self.phases[phase] = now - self._lap
        self._lap = now

    # -- session -------------------------------------------------------------

    def jvm_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.workdir, "tmp")
        return {"spark.driver.memory": self.host["driver_memory"],
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}

    def launch_jvm(self) -> None:
        """Start the Spark JVM before the set-ups and time it on its own:
        the cold start is the slowest and noisiest step of a run and is
        Spark's, not the program's, so ``setup_s`` leaves it out."""
        from pyspark import SparkConf, SparkContext

        t0 = time.perf_counter()
        SparkContext._ensure_initialized(
            conf=SparkConf().setAll(self.jvm_conf().items()))
        self.jvm_start_s = time.perf_counter() - t0

    def build(self, traced: bool):
        from demeton_spark.session import build_session

        conf = {
            **self.jvm_conf(),
            "spark.local.dir": os.path.join(self.workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **self.wl.conf,
        }
        if traced:
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                         "spark.executor.metrics.pollingInterval": "500ms"})
        spark = build_session(app_name=f"perfbench-{self.wl.name}",
                              master=self.master, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, traced: bool) -> None:
        """Fresh session + seeded inputs + warm-up; appends its timings."""
        self.tracer.sc = None
        if self.spark is not None:
            self.spark.stop()
        dest = os.path.join(self.workdir, "inputs", str(len(self.setups)))
        with self.tracer.span("setup", index=len(self.setups)):
            t0 = time.perf_counter()
            with self.tracer.span("session.build"):
                self.spark = self.build(traced)
            self.tracer.sc = self.spark.sparkContext
            t1 = time.perf_counter()
            with self.tracer.span("input.prepare"):
                self.wl.prepare(self.spark, dest)
            t2 = time.perf_counter()
            with self.tracer.span("session.warm_up"):
                self.wl.warm_up(self.spark)
            t3 = time.perf_counter()
        # (total, session start, input preparation, warm-up)
        self.setups.append((t3 - t0, t1 - t0, t2 - t1, t3 - t2))

    # -- measuring window ----------------------------------------------------

    def run_unit(self, wl, i: int, sampler):
        """One unit of ``wl`` in a span, with the CPU seconds of the
        process tree it cost (less the sampler's own) and its peak RSS."""
        from probes import tree_cpu_s
        from workloads import Unit

        with self.tracer.span(f"{wl.name}.unit", index=i) as sp:
            u0, c0, s0 = time.perf_counter(), tree_cpu_s(), sampler.cpu_s
            try:
                u = wl.unit(self.spark, i, self.tracer)
            except Exception:  # a failed unit fails all its operations
                traceback.print_exc()
                n = wl.ops_per_unit
                u = Unit(time.perf_counter() - u0, n, n)
            u.cpu_s = tree_cpu_s() - c0 - (sampler.cpu_s - s0)
        u.peak_mb = sampler.take_peaks()
        if sp is not None:
            u.span_id = sp["id"]
            if "stream_run_id" in u.info:
                sp["stream_run_id"] = u.info["stream_run_id"]
        return u

    def window(self) -> list:
        """Units until they have taken ``--seconds`` (at least one)."""
        from probes import RssSampler

        sampler = RssSampler().start()
        units = []
        while sum(u.wall_s for u in units) < self.args.seconds or not units:
            units.append(self.run_unit(self.wl, len(units), sampler))
        sampler.stop()
        return units

    def calibrate(self, rounds: int) -> float | None:
        """Mpx/s of the bare shade+encode kernel in nproc processes, the
        median of ``rounds`` rounds, right after the window (None for a
        workload without a raster kernel)."""
        pool = self.wl.kernel_pool(self.host["nproc"])
        if pool is None:
            return None
        try:
            with self.tracer.span("kernel.yardstick"):
                return statistics.median(pool.mpx_s() for _ in range(rounds))
        finally:
            pool.close()

    def companion(self, wl) -> list:
        """Traced runs: ``wl`` set up in the running session (its inputs,
        its session conf, its warm-up) and one unit of it."""
        from probes import RssSampler

        for k, v in wl.conf.items():
            self.spark.conf.set(k, v)
        with self.tracer.span(f"{wl.name}.companion"):
            with self.tracer.span("input.prepare"):
                wl.prepare(self.spark, os.path.join(self.workdir, "inputs", "companion"))
            with self.tracer.span("session.warm_up"):
                wl.warm_up(self.spark)
            sampler = RssSampler().start()
            units = [self.run_unit(wl, 0, sampler)]
            sampler.stop()
            wl.after_window(self.spark, self.tracer)
        return units

    def execute(self) -> tuple[dict, dict]:
        from probes import executor_peaks, harvest_spark

        a = self.args
        self.launch_jvm()
        repeats = 1 if a.trace else SETUP_REPEATS
        for _ in range(repeats):
            self.setup(traced=False)
        layers: dict[str, float] = {}
        units = e2e_units = self.window()
        if a.trace:
            self.tracer.enabled = True
            self.setup(traced=True)
            units = self.window()
        self.lap("setups_and_windows")
        # the N-process yardstick costs seconds of spawning: traced runs only
        kernel = self.calibrate(3) if a.trace else None
        extra = self.wl.companion() if a.trace else None
        extra_units = self.companion(extra) if extra is not None else []
        self.lap("yardstick_and_companion")
        if a.trace:
            self.wl.after_window(self.spark, self.tracer)
            per_span = harvest_spark(self.spark, self.tracer)
            layers = self.wl.layers(self.spark, units, per_span, kernel)
            if extra is not None:  # the listed workload's figures win
                for k, v in extra.layers(self.spark, extra_units, per_span,
                                         None).items():
                    layers.setdefault(k, v)
            layers.update(executor_peaks(self.spark))
            layers["mem.peak_rss_mb"] = statistics.median(
                u.peak_mb["total"] for u in units)
            layers["mem.jvm_rss_peak_mb"] = statistics.median(
                u.peak_mb["jvm"] for u in units)
            layers["mem.python_rss_peak_mb"] = statistics.median(
                u.peak_mb["python"] for u in units)
            layers["session.jvm_start_s"] = self.jvm_start_s
            layers["session.start_s"] = statistics.median(s[1] for s in self.setups)
            layers["session.warmup_s"] = statistics.median(s[3] for s in self.setups)
            layers["trace.overhead_s"] = (
                statistics.median(u.wall_s for u in units)
                - statistics.median(u.wall_s for u in e2e_units))
        self.lap("harvest_and_replay")
        checked, mismatched = self.wl.check(self.spark)
        if extra is not None:
            c2, m2 = extra.check(self.spark)
            checked, mismatched = checked + c2, mismatched + m2
        self.lap("check")
        attempted = sum(u.ops for u in units + extra_units)
        failed = min(attempted, sum(u.failed for u in units + extra_units)
                     + mismatched)
        e2e = {
            "setup_s": statistics.median(s[0] for s in self.setups),
            "work_s": statistics.median(u.wall_s for u in e2e_units),
            "cpu_s": statistics.median(u.cpu_s for u in e2e_units),
        }
        # the workload's own result metrics, and failed / attempted
        peak = statistics.median(u.peak_mb["total"] for u in e2e_units)
        reported = dict(self.wl.e2e(e2e_units), peak_rss_mb=(peak, "MB"),
                     error_rate=(failed / attempted, "ratio"))
        if a.trace:
            metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                       for name, unit in layer_units().items()}
        else:
            metrics = {name: {"value": float(e2e[name]), "unit": unit}
                       for name, unit in E2E_UNITS.items()}
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        record = self.record(e2e_units, e2e, reported, layers, checked, kernel)
        return result, record

    def record(self, units, e2e, reported, layers, checked, kernel) -> dict:
        import numpy
        import pyarrow
        import pyspark

        a = self.args
        return {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "tiny": a.tiny, **self.host,
            "master": self.master, "git_sha": git_sha(),
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
            "input_digest": self.wl.input_digest(),
            "units": len(units), "unit_walls_s": [u.wall_s for u in units],
            "unit_cpu_s": [u.cpu_s for u in units],
            "unit_peak_rss_mb": [u.peak_mb for u in units],
            "jvm_start_s": self.jvm_start_s,
            "setups_s": [list(s) for s in self.setups],
            "checked_outputs": checked,
            "phases_s": self.phases,
            "end_to_end": e2e,
            "end_to_end_units": E2E_UNITS,
            "workload_metrics": {k: {"value": v, "unit": u}
                                 for k, (v, u) in reported.items()},
            # in-run calibration: the bare kernel on this host, this run
            "kernel": {"kernel.mpx_s_1proc": self.wl.kernel_1proc(),
                       "kernel.mpx_s_nproc": kernel,
                       **{k: v for k, v in layers.items() if k.startswith("kernel.")}},
            "layers": layers,
        }

    def close(self) -> None:
        """Stop Spark, the JVM and every process below this one."""
        from probes import descendants
        from pyspark import SparkContext

        self.tracer.sc = None
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the gateway JVM exits when its stdin reaches EOF
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 10
        while descendants() and time.time() < deadline:
            time.sleep(0.2)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
            while descendants() and time.time() < deadline:
                time.sleep(0.1)
        for _ in range(100):  # reap every exited child of this process
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                time.sleep(0.1)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="small inputs (the benchmark's own tests)")
    p.add_argument("--corrupt", action="store_true",
                   help="damage one checked output; the run must count it")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    # Spark, its JVM and the Python workers keep scratch inside the run's
    # work directory; the workers import the library from the checkout
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        try:
            import demeton_spark.engine  # noqa: F401
            import pyspark  # noqa: F401
            import tools.oracle_check  # noqa: F401
            from workloads import WORKLOADS
        except ImportError as exc:
            print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
            return 2
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        run = Run(args, workdir)
        try:
            result, record = run.execute()
        finally:
            run.close()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        run.tracer.write(stem + ".spans.json", record)
    with open(stem + ".json", "w") as fh:
        json.dump({**record, "result": result}, fh, indent=1)
    units = {**E2E_UNITS, "work_s": "s"}
    shown = [(k, v, units[k]) for k, v in record["end_to_end"].items()]
    shown += [(k, m["value"], m["unit"]) for k, m in record["workload_metrics"].items()]
    print(f"perfbench {args.workload} seed={args.seed}: "
          + ", ".join(f"{k}={v:.4g} {u}" for k, v, u in shown)
          + f" ({result['failed']}/{result['attempted']} failed)")
    print(json.dumps({"record": record}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
