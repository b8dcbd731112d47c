"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives one closed-loop client
against ``local[nproc]``. The run:

1. starts Spark through ``session.get_spark`` and loads the registry;
2. sets up ``SETUP_REPS`` times (generate inputs, build tables) and
   warms up once;
3. runs the timed loop: whole cycles or passes, as many as fill about
   ``--seconds`` on the 4-vCPU host (``harness.units``);
4. runs the workload's correctness gate;
5. prints one ``name value unit`` line per metric, then one JSON line:
   end-to-end metrics with ``--trace 0``, per-layer metrics with
   ``--trace 1``.

Traced runs tag every operation's Spark jobs, read the status store
after each operation, record spans and write them, with the per-layer
report, to ``perfbench/out/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "iceberg_catalog_bench_spark"
SETUP_REPS = 3

PER_LAYER = ("session.start_s", "sources.gen_s", "sources.gen_rows",
             "self.build_ms", "self.plan_ms", "self.execute_ms", "self.bench_ms",
             "driver.wait_ms", "spark.jobs", "spark.tasks", "spark.run_s", "spark.cpu_s",
             "spark.input_mb", "spark.shuffle_write_mb", "host.nproc", "host.steal_pct",
             "trace.wall_s")
UNITS = {"_per_s": "1/s", "_ms": "ms", "_mb": "MB", "_bytes": "B", "bytes_rewritten": "B",
         "_bytes_slope": "B/commit", "_pct": "%", "_s": "s"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(("_ratio", "_amp")) else "count"


def workload(name: str, seed: int, nproc: int):
    from lake_mixed import LakeMixed
    from suites import Curation, QuerySuite

    if name == "lake_mixed":
        return LakeMixed(seed)
    return {"query_suite": QuerySuite, "curation": Curation}[name](seed, nproc, ROOT)


def isolate(work: str) -> None:
    """Keep Spark's and the JVMs' scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_spark(nproc: int, work: str):
    from iceberg_catalog_bench_spark.operators import registry
    from iceberg_catalog_bench_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.sql.streaming.checkpointLocation": os.path.join(work, "ck"),
                    "spark.ui.showConsoleProgress": "false",
                    # the probe reads the status store, which runs without the UI
                    "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def emit(metrics: dict[str, float], lines: dict[str, float], ok: bool,
         attempted: int, failed: int) -> None:
    for name, value in {**lines, **metrics}.items():
        print(f"{name} {value:.6g} {unit_of(name)}")
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("lake_mixed", "query_suite", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    from harness import Ctx, MB, ResourceMonitor, check_cpus, geomean, host_cpus, percentile

    nproc = host_cpus()
    try:
        check_cpus(os.environ, nproc)
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    t0 = time.perf_counter()
    spark = start_spark(nproc, work)
    try:
        session_s = time.perf_counter() - t0
        wl = workload(args.workload, args.seed, nproc)
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            rows, gen_s = wl.prepare(spark, work, rep)
            reps.append((time.perf_counter() - t, gen_s))
        t = time.perf_counter()
        wl.warm_up(Ctx(spark, traced=False))
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(r[0] for r in reps) + warm_s

        ctx = Ctx(spark, traced=bool(args.trace))
        with ResourceMonitor() as mon:
            start = time.perf_counter()
            wl.run(ctx, args.seconds)
            wall_s = time.perf_counter() - start
        log = ctx.oplog
        ok_ms = log.ok_ms()
        if not ok_ms:
            print("perfbench: every operation failed", file=sys.stderr)
            return 1
        extra = wl.extra_metrics(ctx)

        errors = wl.gate(spark)
        for e in errors:
            print(f"perfbench gate: {e}", file=sys.stderr)

        lines = {"fail_ratio": log.fail_ratio, "host.nproc": nproc,
                 "host.steal_pct": mon.steal_pct, "warmup_s": warm_s,
                 "wall_s": wall_s, "ops_per_s": len(ok_ms) / wall_s,
                 "op_geomean_ms": geomean(ok_ms), "op_p50_ms": percentile(ok_ms, 0.5),
                 "peak_rss_mb": mon.peak_rss / MB, **extra}
        # the bounded metrics: wall times follow the host's steal, CPU time does not
        e2e = {"setup_s": setup_s, "cpu_s": mon.cpu_s}
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        if not args.trace:
            with open(stem + "-untraced.json", "w") as f:
                json.dump({**e2e, **lines}, f, indent=1)
            emit(e2e, lines, not errors, log.attempted, log.failed)
        else:
            from report import headline, layer_report

            report = layer_report(ctx)
            layer = {"session.start_s": session_s,
                     "sources.gen_s": statistics.median(r[1] for r in reps),
                     "sources.gen_rows": rows, **headline(report),
                     "host.nproc": nproc, "host.steal_pct": mon.steal_pct,
                     "trace.wall_s": wall_s}
            try:
                with open(stem + "-untraced.json") as f:
                    lines["trace.overhead_s"] = wall_s - json.load(f)["wall_s"]
            except (OSError, KeyError, ValueError):
                pass
            for cls, vals in report["by_class"].items():
                lines.update({f"{cls}.{k}": v for k, v in vals.items()})
            lines.update(report.get("lake", {}))
            with open(stem + "-trace.json", "w") as f:
                json.dump({"end_to_end": e2e, "report": report, "layer": layer,
                           "ops": [vars(o) for o in log.ops],
                           "spans": [vars(s) for s in ctx.tracer.spans]}, f)
            emit({k: layer[k] for k in PER_LAYER}, lines, not errors,
                 log.attempted, log.failed)
        return 1 if errors else 0
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
