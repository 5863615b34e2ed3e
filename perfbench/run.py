"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard_small --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs from --seed, runs one
workload, checks the outputs against DuckDB oracles and prints one
JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and the spans are written under .bench_out/. Everything the run
writes lives under the checkout and is removed at exit, except the
span file."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard_small", "stream_ingest")
#: fixed for every run, so results do not depend on the caller's env
DRIVER_HEAP = "2g"
#: executor cores (local[N]), capped at the CPUs this process may use.
#: Neither workload's tasks are big enough to use more, and leaving the
#: other CPUs to the driver thread, Python workers, the JIT compiler
#: (still 10-20 s of CPU per measured window) and GC halved the
#: run-to-run spread of latency on a 4-vCPU host (dashboard_small 0.23
#: -> 0.13 of the median, stream_ingest 0.40 -> 0.16).
EXECUTOR_CPUS = 2

#: per-layer metrics a workload does not exercise (see README.md)
#: are reported as 0
LAYER_DEFAULT = 0.0


def _declared() -> tuple[dict[str, str], dict[str, str]]:
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


class Context:
    def __init__(self, args, work: str, spark, tracer, cpus: int,
                 t0_epoch: float):
        self.seed, self.seconds = args.seed, args.seconds
        self.work, self.spark, self.tracer, self.cpus = work, spark, tracer, cpus
        self.t0_epoch = t0_epoch
        self.layer: dict[str, float] = {}
        self.setup_done: float | None = None

    def mark_setup_done(self, at: float | None = None) -> None:
        """The first timed op starts at `at` (epoch seconds; now by default)."""
        self.setup_done = time.time() if at is None else at


def _isolate(work: str) -> None:
    """Keep every file Spark, Python workers and tempfile write inside
    the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM and every process under this one, and
    wait for each to end."""
    import probes
    from pyspark import SparkContext

    pids = [p for p in probes.tree_pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)
    for pid in pids:
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "realtime_data_warehouse_spark",
                                       "__init__.py")):
        print(f"realtime_data_warehouse_spark not found under {ROOT}: run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    e2e_units, layer_units = _declared()
    sys.path[:0] = [ROOT, HERE]

    import probes
    import stats

    start_epoch = probes.process_start_epoch()
    t0_perf, t0_epoch = time.perf_counter(), time.time()
    calib0 = probes.calib_ms()
    steal0, total0 = probes.cpu_times()
    load1 = os.getloadavg()[0]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _isolate(work)
        cpus = min(EXECUTOR_CPUS, len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP

        from realtime_data_warehouse_spark.session import get_spark
        from realtime_data_warehouse_spark.shipping import export_pythonpath

        export_pythonpath()
        tracer = probes.Tracer(bool(args.trace), t0_perf)
        with probes.MemSampler() as mem:
            t = time.perf_counter()
            java_tmp = f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            spark = get_spark(f"perfbench-{args.workload}", extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": java_tmp,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse-sql"),
            })
            spark.sparkContext.setLogLevel("ERROR")
            ctx = Context(args, work, spark, tracer, cpus, t0_epoch)
            ctx.layer["session.start_ms"] = (time.perf_counter() - t) * 1000.0
            env = probes.environment(spark, cpus)
            if args.workload == "dashboard_small":
                import serving as workload
            else:
                import stream as workload
            res = workload.run(ctx)
            cpu_s = probes.tree_cpu_s()
        _shutdown(spark)
        spark = None
    except Exception:  # noqa: BLE001  (no result line on failure)
        traceback.print_exc()
        if spark is not None:
            _shutdown(spark)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    steal1, total1 = probes.cpu_times()
    calib1 = probes.calib_ms()
    failed = len(res["errors"])
    e2e = {
        "setup_s": ctx.setup_done - start_epoch,
        **res["metrics"],
        "peak_rss_mb": mem.peak_mb,
        "ok_rate": 1.0 - failed / res["attempted"],
    }
    missing = set(e2e) ^ set(e2e_units)
    if missing:
        print(f"end-to-end metrics differ from BENCHMARK.json: {sorted(missing)}",
              file=sys.stderr)
        return 1
    layer = {k: float(ctx.layer.get(k, LAYER_DEFAULT)) for k in layer_units}
    diag = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env,
        "host.calib_ms": {"start": calib0, "end": calib1},
        "host.steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "host.load1": load1, "proc.cpu_s": cpu_s,
        "end_to_end": e2e, "per_layer": layer, "errors": res["errors"][:5],
        **res["diag"],
    }
    if args.trace:
        spans = tracer.spans
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        diag["self_ms"] = stats.self_times(spans)
        with open(path, "w") as fh:
            json.dump({"summary": diag, "self_ms": diag["self_ms"],
                       "spans": spans}, fh)
        diag["span_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(diag, default=str))
    metrics = e2e if not args.trace else layer
    units = e2e_units if not args.trace else layer_units
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: native thread pools (pyarrow) can abort
    # there after the result is already printed
    os._exit(code)
