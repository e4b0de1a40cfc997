"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Builds the inputs for one workload from ``--seed``, starts one Spark
session on ``local[nproc]``, measures for ``--seconds``, checks every
output, and prints as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the engine's public functions
in spans and reports the per-layer metrics of BENCHMARK.json instead.
Exits 1 when an output is wrong and 2 when the engine is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "kafka_clickhouse_pipeline_spark"
WORKLOADS = ("dashboard", "ingest")
E2E_UNITS = {"setup_s": "s", "cpu_ms_per_op": "ms"}
#: figures too host-sensitive to gate (see README): printed on the
#: detail line of every run, and as ``traced.*`` per-layer metrics
UNGATED_UNITS = {"peak_rss_mb": "MB", "p50_ms": "ms", "throughput_per_s": "1/s",
                 "jit_cpu_ms_per_op": "ms"}


class Context:
    def __init__(self, spark, seed: int, out: str, nproc: int):
        self.spark, self.seed, self.out, self.nproc = spark, seed, out, nproc

    def cpu_meter(self) -> "CpuMeter":
        return CpuMeter(self.spark)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def layer_units() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec()["per_layer"]}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes,
    taking its Python workers with it), and wait for it to end."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)


#: The JVM's JIT compiler threads (thread names are cut to 15 bytes).
#: They compile Spark's code and the classes Janino generates for the
#: engine's plans, so their work is a real cost; but it was a third to
#: a half of a run's CPU time and its most variable part, so it is
#: reported apart, ungated.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuMeter:
    """CPU time of this Python process and its JVM between ``__init__``
    and ``seconds()``, split into the JVM's JIT compiler threads and
    everything else."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._gateway.proc.pid
        self.start = self._read()

    def _read(self) -> tuple[float, dict[str, int]]:
        t = os.times()
        with open(f"/proc/{self.jvm}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total = t.user + t.system + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        jit = {}
        task_dir = f"/proc/{self.jvm}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat", encoding="utf-8", errors="replace") as fh:
                    stat = fh.read()
            except FileNotFoundError:  # the thread ended meanwhile
                continue
            if stat[stat.index("(") + 1:].startswith(JIT_THREADS):
                fields = stat.rsplit(")", 1)[1].split()
                jit[tid] = int(fields[11]) + int(fields[12])
        return total, jit

    def seconds(self) -> tuple[float, float]:
        """(CPU seconds without the JIT threads, CPU seconds of the JIT threads)."""
        (total0, jit0), (total1, jit1) = self.start, self._read()
        jit = sum(v - jit0.get(tid, 0) for tid, v in jit1.items()) / os.sysconf("SC_CLK_TCK")
        return total1 - total0 - jit, jit


def environment(nproc: int) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {"nproc": nproc, "loadavg": os.getloadavg(), "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "duckdb": duckdb.__version__}


def make_workload(name: str, ctx: Context):
    if name == "dashboard":
        from dashboard import Dashboard
        return Dashboard(ctx)
    from ingest import Ingest
    return Ingest(ctx)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: run from the root of a checkout that holds {PACKAGE}/", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # the engine sizes its session from SPARK_GRAFT_CPUS; Python workers
    # (Arrow UDFs) import the engine through PYTHONPATH
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    sys.path[:0] = [ROOT, HERE]

    import tracing
    from kafka_clickhouse_pipeline_spark.session import get_spark

    # A 2 GB initial heap: when G1 grew the heap from its small default,
    # how far it grew, and so how much concurrent marking ran, varied
    # from run to run and moved the CPU figures by up to a third; the
    # maximum heap stays the engine's own. JIT compiler threads are kept
    # alive: the JVM otherwise ends idle ones, and the CPU time of a
    # thread that ended can no longer be told apart from the rest.
    java_opts = f"-Dderby.system.home={out} -Xms2g -XX:-UseDynamicNumberOfCompilerThreads"
    conf = {"spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false"}
    if args.trace:
        # keep every job and stage for the one REST read after the run
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    log("session started")
    try:
        ctx = Context(spark, args.seed, out, nproc)
        work = make_workload(args.workload, ctx)
        work.setup()
        log("inputs built and warmed up")
        tracer = tracing.Tracer(spark) if args.trace else None
        if tracer is not None:
            work.traced_calls(tracer)
        run_epoch = time.time()
        setup_s = time.perf_counter() - T_START
        try:
            work.run(args.seconds, tracer)
            run_end = time.time()
        finally:
            if tracer is not None:
                tracer.restore()
            work.close()
        log("measured")
        problems = work.check()
        log("outputs checked")
        attempted, failed = work.attempted()
        e2e = dict(work.metrics(), setup_s=setup_s, peak_rss_mb=peak_rss_mb(spark))
        if tracer is None:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        else:
            ledger = tracing.rest_ledger(spark, since=run_epoch, until=run_end)
            layers = work.layers(tracer, ledger)
            layers.update({f"traced.{k}": v for k, v in e2e.items()})
            units = layer_units()
            unknown = set(layers) - set(units)
            if unknown:
                raise KeyError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            tracer.dump(os.path.join(os.path.dirname(out), f"{args.workload}-{args.seed}.spans.jsonl"))
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    finally:
        stop(spark)
        shutil.rmtree(out, ignore_errors=True)
    log("session stopped")
    for p in problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "env": environment(nproc),
                      "ungated": {k: e2e[k] for k in UNGATED_UNITS}, "samples": work.samples()}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
