"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,curation} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. Each run is one fresh process
on ``local[nproc]``: it starts a session, builds its inputs from the
seed, measures for ``--seconds`` (whole rounds of the workload's fixed
operations), checks every output against a computation made apart from
the engine, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

A run in which a check fails or an operation raises reports
``"correct": false`` and exits 1. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics (layers a workload does
not exercise read 0) and
writes the spans to ``.perfbench_out/``. All scratch files live under
``.perfbench_work/`` in the checkout and are removed at exit.
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
PACKAGE = "mqtt_influx_storage_service_spark"
DRIVER_MEM = "2g"

# Workloads and metric names and units are the ones BENCHMARK.json records.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


class Ctx:
    """What a workload needs: session, seed, run length, work dir, trace."""

    def log(self, msg: str) -> None:
        print(f"perfbench: {self.workload}: {msg}", file=sys.stderr, flush=True)


def setup_env(work: str) -> None:
    """Environment the engine's session and its Python workers read."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # A fixed-size heap (-Xms = -Xmx): peak RSS then does not depend on
    # when the collector chose to grow the heap. C1-only JIT: every run
    # is a short, cold JVM, and C2 compiling Spark's hot paths otherwise
    # takes about half the run's CPU time and is its largest source of
    # run-to-run noise (README, "JVM settings").
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_MEM} -XX:TieredStopAtLevel=1" pyspark-shell'
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    # keep the JVM's perf data and temp files inside the work dir
    os.environ["JDK_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package beside {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    setup_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.chdir(work)  # anything Spark drops in its cwd stays in the work dir

    from common import RssSampler, Trace, make_progress_listener

    rss = RssSampler().start()
    spark = None
    try:
        t = time.perf_counter()
        from mqtt_influx_storage_service_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx()
        ctx.session_s = time.perf_counter() - t
        ctx.spark, ctx.seed, ctx.seconds = spark, args.seed, args.seconds
        ctx.work = work
        ctx.workload = args.workload
        ctx.trace = Trace(bool(args.trace), spark)
        ctx.listener = None
        if args.trace and args.workload == "dashboard":
            ctx.listener = make_progress_listener()
            spark.streams.addListener(ctx.listener)

        import importlib

        res = importlib.import_module(args.workload).run(ctx)
        peak_mb = rss.stop()
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    if res.failed:
        # a failed operation drops out of the round's time: no timing
        # of such a run is to be trusted
        res.errors.append(f"{res.failed} of {res.attempted} operations raised")
    for e in res.errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)

    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(res.per_layer)
        layers["session.start_s"] = ctx.session_s
        if layers["ingest.points_written"]:
            layers["lake.bytes_per_point"] = layers["lake.bytes"] / layers["ingest.points_written"]
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"unlisted per-layer metrics {sorted(unknown)}")
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
        out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        ctx.trace.dump(out)
    else:
        values = dict(res.end_to_end, setup_s=res.setup_s, peak_rss_mb=peak_mb)
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not res.errors,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if not res.errors else 1


if __name__ == "__main__":
    sys.exit(main())
