"""codeidx benchmark: one seeded, self-checking run of one workload.

    python3 perfbench/run.py --workload text --seed 1 --seconds 4 --trace 0

Run it from the root of a checkout. It drives the engine at local[4]
through its public API, checks every answer, and prints one JSON
object as its last line: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Everything it writes goes under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("text", "vector"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    """``get_spark`` the way a user calls it, at local[4], with every
    scratch path inside the checkout and, when tracing, the event log."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.makedirs(f"{work}/tmp", exist_ok=True)
    conf = {
        "spark.scheduler.mode": "FAIR",
        # a fixed heap ceiling: the inputs need well under 1 GB, and the
        # package's 8g default would let the heap, and so the GC and
        # spill figures, follow the free memory of a shared host
        "spark.driver.memory": "2g",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata under /tmp: every file stays in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    from gxdindexer_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF gets killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gxdindexer_spark")):
        print(f"perfbench: no gxdindexer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run_once(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them: the
    per-layer metrics for a traced run, else the end-to-end ones."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_once(args, work: str) -> int:
    from perfbench import layers
    from perfbench.common import Run
    from perfbench.trace import Tracer

    units = declared_metrics(bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        run = Run(spark, tracer, work, args.seed, args.seconds, setup_s=session_s, _lap=t0)
        run.layers["session.get_spark_s"] = session_s
        run.lap("session")
        if args.trace:
            layers.session_probe(run)
        if args.workload == "text":
            from perfbench.text import run_text as body
        else:
            from perfbench.vector import run_vector as body
        body(run)
        run.e2e["setup_s"] = run.setup_s
        if args.trace:
            layers.module_probes(run)
            run.lap("layer probes")
    finally:
        if spark is not None:
            stop_spark(spark)
    run.lap("stop")
    if args.trace:
        values = layers.per_layer(run, f"{work}/eventlog")
        spans = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
        tracer.write(spans)
        print(f"spans: {os.path.relpath(spans, ROOT)}")
    else:
        values = run.e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    for line in run.notes:
        print(f"note: {line}")
    print("inputs: " + json.dumps(run.inputs))
    print("fail_frac: %.6f (%d of %d)" % (run.failed / max(run.attempted, 1), run.failed, run.attempted))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
