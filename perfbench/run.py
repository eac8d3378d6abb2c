"""kgforge benchmark runner.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the root of a kgforge checkout.  One process, Spark ``local[4]``,
one closed-loop client.  Set-up — session start, seeded input generation
(or a cache hit) and the workload's untimed warm-up operation, if it has
one — is timed as ``setup_s``; then operations run back to back until the
next one would end after ``--seconds``, with at least one.  Every
operation's output is checked, the warm-up's too.  There is no best-of, no
retake and no sleep.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
sequence with span tracing installed and prints the per-layer metrics;
spans go to ``.perfbench_out/trace-<workload>-seed<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")

WORKLOAD_NAMES = ("kg_build", "anon_requests")

# Spark's ANSI setting is deliberately left at its default (on in Spark 4).
SESSION_CONF = {
    "spark.master": "local[4]",
    "spark.sql.shuffle.partitions": "4",
    "spark.default.parallelism": "4",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.maxPlanStringLength": "1048576",
    "spark.driver.memory": "2g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str):
    """Start the Spark session with every temporary file inside ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = SparkSession.builder.appName("kgforge-perfbench")
    for k, v in SESSION_CONF.items():
        b = b.config(k, v)
    spark = (
        b.config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM and wait until every process this run
    started (the JVM and the Python workers it forked) has exited."""
    from pyspark import SparkContext

    from measure import descendants, wait_gone

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        for pid in wait_gone(started, 20):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        wait_gone(started, 10)


def environment(spark) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "session_conf": SESSION_CONF,
        "spark.sql.ansi.enabled": spark.conf.get("spark.sql.ansi.enabled"),
        "policy": "no best-of, no retake, no sleep; medians over the run",
    }


class Runner:
    """Attempts operations, keeps their results and counts failures."""

    def __init__(self, wl, tracer=None):
        self.wl = wl
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.seconds: list[float] = []  # program time of every attempt
        self.ok: list = []  # timed operations that passed their checks
        self.warm = None  # the warm-up's result, if it passed

    def attempt(self, i: int):
        """Run operation ``i`` and its checks; 0 is the untimed warm-up,
        which a workload may not have."""
        if self.tracer is not None:
            self.tracer.op_id = i
        t0 = time.perf_counter()
        try:
            res = self.wl.warmup() if i == 0 else self.wl.operation(i)
            if res is None:  # no warm-up
                return None
            quiet = (self.tracer.suspended() if self.tracer is not None
                     else contextlib.nullcontext())
            with quiet:
                failures = res.check()
        except Exception:  # a failed operation is counted, the run goes on
            self.attempted += 1
            self.failed += 1
            self.seconds.append(time.perf_counter() - t0)
            print(f"operation {i} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None
        self.attempted += 1
        self.seconds.append(res.seconds)
        if failures:
            self.failed += 1
            print(f"operation {i} failed {len(failures)} checks, first: "
                  + "; ".join(failures[:5]), file=sys.stderr)
            return None
        if i == 0:
            self.warm = res
        else:
            self.ok.append(res)
        return res

    def timed_loop(self, seconds: float) -> None:
        """Operations back to back until the next one, taking as long as
        the last, would end after ``seconds``; at least one."""
        t0 = time.perf_counter()
        i = 1
        while True:
            t_op = time.perf_counter()
            self.attempt(i)
            i += 1
            now = time.perf_counter()
            if now - t0 + (now - t_op) > seconds:
                return


def end_to_end(runner: Runner, setup_s: float, peak_mb: float) -> dict:
    from measure import median, summarize

    res = runner.ok
    for r in [runner.warm] if runner.warm else []:
        for kind, s in r.parts.items():
            print(f"warmup_{kind}_request_s={s:.4f}")
    for kind in sorted({k for r in res for k in r.parts}):
        s = summarize([r.parts[kind] for r in res if kind in r.parts])
        print(f"{kind}_request_p50_s={s['p50']:.4f} n={s['n']}")
    return {
        "op_s": {"value": median([r.seconds for r in res]), "unit": "s"},
        "units_per_s": {
            "value": sum(r.units for r in res) / sum(r.seconds for r in res),
            "unit": "1/s",
        },
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }


def per_layer(runner: Runner, tracer, setup_s: float, args) -> dict:
    """Per-layer metrics of a traced run; spans and each layer's self time
    in seconds also go to ``.perfbench_out/trace-<workload>-seed<seed>.json``.
    ``trace.op_s`` and ``trace.setup_s`` minus the untraced runs' ``op_s``
    and ``setup_s`` are the tracing overhead."""
    from measure import median
    from tracing import layer_metrics, unit_of

    traced_wall = sum(runner.seconds)
    out, busy = layer_metrics(tracer.spans, traced_wall)
    out["trace.op_s"] = median([r.seconds for r in runner.ok])
    out["trace.setup_s"] = setup_s
    out["trace.spans"] = len(tracer.spans)
    path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "traced_wall_s": traced_wall, "busy_s": busy, "per_layer": out,
            "spans": [vars(s) for s in tracer.spans],
        }, f, indent=1)
    for layer, b in busy.items():
        print(f"{layer}.busy_s={b:.4f}")
    return {k: {"value": v, "unit": unit_of(k)} for k, v in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kgforge", "__init__.py")):
        print(f"no kgforge package under {ROOT}; run from a kgforge checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(OUT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(CACHE, exist_ok=True)
    # Spark's Python workers import kgforge; pyspark's launcher writes
    # temporary files through tempfile — keep both inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM spark-submit starts first takes its options here
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = None

    from measure import PeakRss, failed_frac

    spark = wl = tracer = None
    try:
        with PeakRss() as rss:
            import workloads

            cls = workloads.WORKLOADS[args.workload]
            # inputs are generated in their own process alongside the JVM
            # launch, so a cache miss and a cache hit cost about the same
            # set-up time
            gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "workloads.py"),
                 args.workload, str(args.seed), CACHE],
                stdout=subprocess.PIPE, text=True)
            try:
                spark = start_session(work)
            finally:
                out, _ = gen.communicate(timeout=600)
            if gen.returncode != 0:
                raise RuntimeError(f"input generation exited {gen.returncode}")
            wl = cls(spark, args.seed, out.strip(), work)
            if args.trace:
                from tracing import Tracer

                tracer = Tracer(spark)
                tracer.install()
            runner = Runner(wl, tracer)
            runner.attempt(0)
            setup_s = time.perf_counter() - T_START
            runner.timed_loop(args.seconds)
            if tracer is not None:
                tracer.uninstall()
                tracer.release()
        if not runner.ok:
            print("no timed operation passed its checks", file=sys.stderr)
            return 1
        if args.trace:
            metrics = per_layer(runner, tracer, setup_s, args)
        else:
            metrics = end_to_end(runner, setup_s, rss.peak_mb)
        print("environment " + json.dumps(environment(spark)))
        print(f"failed_frac={failed_frac(runner.failed, runner.attempted)}")
    finally:
        if tracer is not None:
            tracer.uninstall()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
