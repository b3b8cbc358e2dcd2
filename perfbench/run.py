"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill_trickle|operator_mix \\
        --seed N --seconds S --trace 0|1

Runs from the root of a source checkout.  Writes inputs, tables,
checkpoints and Spark scratch space under ``.perfbench/`` in the checkout
(removed at exit; traces are kept in ``.perfbench/traces``).  Prints, as
the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the ``end_to_end`` metrics of BENCHMARK.json
with ``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.
Metric definitions and the per-layer -> end-to-end map: METRICS.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin_environment(work: str) -> None:
    """Settings that otherwise make the numbers measure the box: core
    count, driver heap, worker import path, console output and where
    scratch files go.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ.update({
        # Python workers import the package's UDF modules by name.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(3072, ram_mb // 4)}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false"
            f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
            " pyspark-shell"),
    })


class Context:
    """What a workload needs: session, tracer, ledger and its settings."""

    def __init__(self, args, work: str) -> None:
        from spans import Tracer
        from workloads import Ledger

        self.seed, self.seconds, self.work = args.seed, args.seconds, work
        self.tracer = Tracer(bool(args.trace))
        self.ledger = Ledger()
        self.spark = self.registry = self.progress = None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str, spec: dict) -> dict:
    from workloads import WORKLOADS

    ctx = Context(args, work)
    wl = WORKLOADS[args.workload](ctx)
    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t

    tr = ctx.tracer
    with tr.span("session.get_spark"):
        from kafka_hadoop_loader_spark.session import get_spark

        ctx.spark = get_spark("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]")
        ctx.spark.sparkContext.setLogLevel("ERROR")
    try:
        with tr.span("registry.load_all"):
            from kafka_hadoop_loader_spark import registry

            ctx.registry = registry.load_all()
        tr.wrap_package()
        if tr.enabled:
            from spans import ProgressRecorder

            ctx.progress = ProgressRecorder()
            ctx.spark.streams.addListener(ctx.progress)
        setup_s = time.perf_counter() - T0 - gen_s
        wl.measure()
    finally:
        stop_spark(ctx.spark)

    cold, units, tails, reads = wl.results()
    # The upper quartile: with 12-16 samples a run has no percentile with
    # ten samples beyond it, and the maximum is one sample, which made
    # run_tail_s the noisiest metric across seeds.
    tail_s = statistics.quantiles(tails, n=4)[2]
    print(f"perfbench: {args.workload} gen {gen_s:.1f}s setup {setup_s:.1f}s"
          f" measure+check {time.perf_counter() - T0 - gen_s - setup_s:.1f}s"
          f" cold {cold:.2f}s units {[round(u, 3) for u in units]}"
          f" reads {[round(r, 3) for r in reads]}",
          file=sys.stderr)
    if not args.trace:
        values = {"setup_s": setup_s, "cold_s": cold, "run_p50_s": statistics.median(units),
                  "run_tail_s": tail_s, "read_p50_s": statistics.median(reads)}
        names = spec["end_to_end"]
    else:
        first = {s.name: s.end - s.start for s in reversed(tr.spans)}
        values = {"session.get_spark_s": first["session.get_spark"],
                  "registry.load_all_s": first["registry.load_all"]}
        values.update(wl.layer_metrics())
        # Self time per layer over the measured phase, per unit of work;
        # operator modules are summed into one build and one exec layer.
        for name, secs in tr.self_times(wl.mark).items():
            layer = name if not name.startswith("operators.") else (
                "operators." + name.rsplit(".", 1)[1])
            key = f"self.{layer}_s"
            values[key] = values.get(key, 0.0) + secs / len(units)
        values.update({"run_tail.n": len(tails),
                       "trace.run_p50_s": statistics.median(units),
                       "trace.spans": len(tr.spans)})
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tr.dump(os.path.join(ROOT, ".perfbench", "traces",
                             f"{args.workload}-seed{args.seed}.json"))
        names = spec["per_layer"]
    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    led = ctx.ledger
    return {
        "correct": led.failed == 0,
        "attempted": led.attempted,
        "failed": led.failed,
        # A layer the workload never reaches reports 0.
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Loader and operator benchmark.")
    ap.add_argument("--workload", required=True,
                    choices=("backfill_trickle", "operator_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # scratch directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "kafka_hadoop_loader_spark", "__init__.py")):
        print(f"perfbench: no kafka_hadoop_loader_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work)
    try:
        result = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
