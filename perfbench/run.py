"""ltss benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload <ingest|dashboard|mixed|corpus_dedup>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from the seed under
``perfbench/_work/`` (removed at exit), driven through ``ltss_spark`` on
Spark ``local[<cpus>]``, and checked against an independent recomputation.
The report goes to stdout; its last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the run measures an untraced and then a traced window,
prints the tracing overhead, and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_units(kind: str) -> dict[str, str]:
    """The ``end_to_end`` or ``per_layer`` metrics of ``BENCHMARK.json``
    with their units, in the file's order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a small driver heap: the machine is shared, and the inputs are small
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # the heap starts at its full size, so the time the collector spends
    # growing it does not vary between runs; no hsperfdata file under /tmp
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -Duser.timezone=UTC "
        f"-Xms{heap} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--conf spark.local.dir={os.path.join(work, 'spark-local')}",
            "--conf spark.ui.showConsoleProgress=false",
            f'--driver-java-options "{java_opts}"',
            "pyspark-shell",
        ]
    )
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def fmt_line(name: str, value, unit: str, lat: dict | None = None) -> str:
    s = f"{name} = {value:.4f} {unit}"
    if lat is not None:
        s += f" (p{lat['tail_pct']:.1f}, n={lat['n']})"
    return s


def run(args, work: str) -> dict:
    import workloads as W
    from tracing import Tracer

    from ltss_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    t0, ticks0 = time.perf_counter(), W.host_ticks()
    spark = get_spark("perfbench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        ctx = W.Ctx(spark, work, args.seed, Tracer(bool(args.trace)), jvm_pid)
        wl = W.make(args.workload, args.seconds)
        t = time.perf_counter()
        wl.prepare(ctx, os.path.join(work, "data"))
        prep_s = time.perf_counter() - t
        prep_tracer, ctx.tracer = ctx.tracer, Tracer(False)
        t = time.perf_counter()
        wl.warmup(ctx)
        warm_s = time.perf_counter() - t
        setup_wall = session_s + prep_s + warm_s
        setup_s = W.unstolen(setup_wall, ticks0, W.host_ticks())
        print(
            f"setup: session {session_s:.3f} s, data prep {prep_s:.3f} s, "
            f"warm-up {warm_s:.3f} s, wall {setup_wall:.3f} s",
            flush=True,
        )

        ctx.reset_peak()
        ticks0 = W.host_ticks()
        out = wl.window(ctx, args.seconds)
        stolen = 1.0 - W.unstolen(1.0, ticks0, W.host_ticks())
        cost = out["cost"]
        untraced_failures = len(ctx.failures)
        print(f"workload {args.workload}, seed {args.seed}, {args.seconds:g} s window, "
              f"local[{cpus}], closed loop", flush=True)
        for line in out["lines"]:
            print(fmt_line(*line), flush=True)
        print(fmt_line("op_p50_ms", cost["net"], "ms") + f" (wall {cost['wall']:.4f} ms)", flush=True)
        print(fmt_line("cpu_ms_per_op", cost["cpu"], "ms"), flush=True)
        print(fmt_line("stolen_share", stolen, "ratio"), flush=True)
        print(fmt_line("setup_s", setup_s, "s") + f" (wall {setup_wall:.4f} s)", flush=True)
        print(fmt_line("peak_rss_mb", ctx.peak_rss_mb, "MB"), flush=True)
        print(fmt_line("live_heap_mb", ctx.live_heap_mb, "MB"), flush=True)
        for r in ctx.report:
            print(r, flush=True)
        e2e = {"setup_s": setup_s, "op_p50_ms": cost["net"], "cpu_ms_per_op": cost["cpu"]}
        if args.trace:
            ctx.tracer = Tracer(True)
            ctx.tracer.spans.extend(prep_tracer.spans)
            ctx.report = []
            traced = wl.window(ctx, args.seconds)
            print("tracing overhead (traced - untraced window):", flush=True)
            for name, k in (("op_p50_ms", "net"), ("cpu_ms_per_op", "cpu")):
                print(f"  {name}: {traced['cost'][k] - cost[k]:+.4f} ms", flush=True)
            for a, b in zip(out["lines"], traced["lines"]):
                print(f"  {a[0]}: {b[1] - a[1]:+.4f} {a[2]}", flush=True)
            ctx.tracer.write(os.path.join(work, "trace.jsonl"))
            kept = os.path.join(HERE, "_work", f"trace-{args.workload}-{args.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "trace.jsonl"), kept)
            print(f"spans: {len(ctx.tracer.spans)} written to {os.path.relpath(kept, ROOT)}")
        failed = len(ctx.failures)
        attempted = max(ctx.attempted, 1)
        print(fmt_line("failed_ratio", failed / attempted, "ratio")
              + f" ({failed} of {attempted} ops; {untraced_failures} in the untraced window)")
        if args.trace:
            layers = ctx.layers
            if "ingest.rows_in" in layers or "_transform_ms" in layers:
                layers["ingest.transform_ms"] = W._median(layers.get("_transform_ms", []))
            metrics = {
                name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                for name, unit in metric_units("per_layer").items()
            }
            metrics["session.start_s"]["value"] = session_s
            for name, m in metrics.items():
                print(f"  {name} = {m['value']:.4f} {m['unit']}")
        else:
            if failed == 0 and any(v != v for v in e2e.values()):
                ctx.fail("window", "no operation completed")
                failed = len(ctx.failures)
            # NaN is not JSON; a run without a completed operation is failed
            metrics = {
                k: {"value": float(e2e[k]) if e2e[k] == e2e[k] else 0.0, "unit": unit}
                for k, unit in metric_units("end_to_end").items()
            }
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "dashboard", "mixed", "corpus_dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ltss_spark")):
        print(f"perfbench: no ltss_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    sys.path[:0] = [HERE, ROOT]
    cwd = os.getcwd()
    try:
        prepare_env(work)
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
