"""Benchmark entry point: one closed-loop workload against ``carbondata_spark``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap_scan --seed 1 --seconds 10 --trace 0

One process, one client: the next operation starts when the previous one
returns. The untraced run (``--trace 0``) reports the end-to-end metrics;
the traced run (``--trace 1``) wraps every layer call in spans and
reports the per-layer metrics instead. Every operation's result is
checked; the last line of standard output is one JSON object, and the exit
code is non-zero if any check failed.

Everything the run writes (generated tables, stores, Spark scratch space)
lives under ``perfbench/.work/`` and is removed at exit; the traced run
keeps its spans in ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import numpy as np

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

HEAP = "2g"  # well below the RAM of a 15 GB, 4-core VM; SPARK_DRIVER_MEM overrides

# name -> unit. END_TO_END come from untraced runs, PER_LAYER from traced ones.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "query_defs.build_s": "s",
    "catalog.load_table_s": "s",
    "catalog.calls": "count",
    "sql.call_s": "s",
    "sql.calls": "count",
    "store.scan_s": "s",
    "store.table_s": "s",
    "store.segments": "count",
    "store.files_read": "count",
    "store.files_total": "count",
    "store.files_read_ratio": "ratio",
    "store.files_read_ratio_isin": "ratio",
    "store.files_read_ratio_sql": "ratio",
    "store.load_s": "s",
    "store.merge_s": "s",
    "store.update_s": "s",
    "store.delete_s": "s",
    "store.compact_s": "s",
    "store.clean_s": "s",
    "store.bytes_written": "bytes",
    "store.bytes_discarded": "bytes",
    "store.segments_considered": "count",
    "store.segments_rewritten": "count",
    "store.bytes_discarded_merge_clustered": "bytes",
    "store.bytes_discarded_merge_uniform": "bytes",
    "store.segments_rewritten_merge_clustered": "count",
    "store.segments_rewritten_merge_uniform": "count",
    "store.load_rows_per_s": "rows/s",
    "store.merge_p50_s": "s",
    "store.write_amp": "ratio",
    "store.space_amp": "ratio",
    "operators.build_s": "s",
    "spark.analysis_s": "s",
    "spark.optimization_s": "s",
    "spark.planning_s": "s",
    "spark.exec_s": "s",
    "spark.collect_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_busy_ratio": "ratio",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "bench.glue_s": "s",
    "trace.op_p50_s": "s",
}
SPARK_COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.task_run_s",
                "spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                "spark.spill_bytes"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["olap_scan", "point_lookup", "cdc_write", "corpus_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--profile", choices=["full", "smoke"], default="full",
                   help="input sizes; 'smoke' is the self-test's tiny scale")
    p.add_argument("--negative-control", action="store_true",
                   help="compare the first operation against a deliberately wrong "
                        "expected result; the run must then report a failure")
    return p.parse_args(argv)


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def start_spark(work: str):
    """The product's tuned session on local[nproc], with every scratch
    directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEM", HEAP)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    from carbondata_spark.session import get_spark

    return get_spark(extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: G1 resizing it mid-run made peak RSS and
        # GC pauses differ from run to run
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    })


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            proc.wait(timeout=60)


def measure(wl, ctx, probe, seconds: float, negative_control: bool) -> dict:
    """Closed loop, one client. Whole rounds only, so every run measures
    the same mix; a new round starts while ``seconds`` have not passed."""
    tracer = ctx.tracer
    samples, failed, untimed = [], 0, 0.0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for kind in wl.round():
            u = time.perf_counter()
            op = wl.op(kind)
            op_id = f"{wl.name}-{len(samples) + failed}"
            probe.start(op_id)
            u = time.perf_counter() - u
            try:
                with tracer.operation(op_id):
                    s = time.perf_counter()
                    outcome, frames = op.run()
                    latency = time.perf_counter() - s
            except Exception:
                traceback.print_exc()
                failed += 1
                untimed += u
                continue
            s = time.perf_counter()
            probe.finish(op_id, frames)
            if tracer.enabled and op.account is not None:
                op.account(op_id, frames)
            corrupt = negative_control and not samples and not failed
            if op.check(outcome, corrupt):
                samples.append((kind, latency, op_id))
            else:
                print(f"wrong result: {op_id} ({kind})", file=sys.stderr)
                failed += 1
            untimed += u + time.perf_counter() - s
    return {"samples": samples, "failed": failed, "busy_s": time.perf_counter() - t0 - untimed}


def per_layer(wl, tracer, samples, cores: int) -> dict[str, float]:
    from spans import CALL_COUNT_METRICS, SELF_TIME_METRICS

    ops = [op_id for _, _, op_id in samples]
    n = max(1, len(ops))
    out = {name: 0.0 for name in PER_LAYER}
    self_times, calls = tracer.self_times(), tracer.call_counts()
    for op_id in ops:
        for span, secs in self_times[op_id].items():
            out[SELF_TIME_METRICS[span]] += secs / n
        for span, metric in CALL_COUNT_METRICS.items():
            out[metric] += calls[op_id].get(span, 0) / n
        for name in SPARK_COUNTS:
            out[name] += tracer.counts[op_id].get(name, 0.0) / n
    if out["spark.exec_s"] > 0:
        out["spark.task_busy_ratio"] = out["spark.task_run_s"] / (out["spark.exec_s"] * cores)

    def total(name):
        return sum(tracer.counts[op_id].get(name, 0.0) for op_id in ops)

    read, files = total("store.files_read"), total("store.files_total")
    for kind in ("isin", "sql"):
        k_read, k_files = total(f"store.files_read.lookup_{kind}"), total(f"store.files_total.lookup_{kind}")
        if k_files:
            out[f"store.files_read_ratio_{kind}"] = k_read / k_files
        read, files = read + k_read, files + k_files
    out["store.files_read"] = read / n
    out["store.files_total"] = files / n
    out["store.segments"] = total("store.segments") / n
    if files:
        out["store.files_read_ratio"] = read / files
    if hasattr(wl, "write_metrics"):
        out.update(wl.write_metrics(samples))
    out["trace.op_p50_s"] = float(np.median([lat for _, lat, _ in samples])) if samples else 0.0
    return out


def run(args) -> int:
    t_setup = time.perf_counter()
    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(work)
    spark = None
    try:
        from spans import SparkProbe, Tracer, instrument

        import workloads

        tracer = Tracer(enabled=bool(args.trace))
        t = time.perf_counter()
        spark = start_spark(work)
        session_start_s = time.perf_counter() - t
        probe = SparkProbe(spark, tracer)
        ctx = workloads.Context(spark, tracer, args.seed, workloads.PROFILES[args.profile], work)
        wl = workloads.WORKLOADS[args.workload](ctx)
        with instrument(tracer) if tracer.enabled else contextlib.nullcontext():
            wl.setup()
            setup_s = time.perf_counter() - t_setup - ctx.check_s
            res = measure(wl, ctx, probe, args.seconds, args.negative_control)
            layers = per_layer(wl, tracer, res["samples"], probe.cores) if tracer.enabled else {}
        rss = peak_rss_mb(spark)
        lat = [s[1] for s in res["samples"]]
        attempted = len(lat) + res["failed"]
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": float(np.median(lat)) if lat else 0.0,
            "op_p90_s": float(np.percentile(lat, 90)) if lat else 0.0,
            "ops_per_s": len(lat) / res["busy_s"],
            "peak_rss_mb": rss,
        }
        layers["session.start_s"] = session_start_s
        report(args, ctx, res, e2e, layers, attempted)
        if tracer.enabled:
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
        metrics, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": attempted,
            "failed": res["failed"],
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0 if res["failed"] == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def report(args, ctx, res, e2e, layers, attempted) -> None:
    """Human-readable lines ahead of the JSON line."""
    lat = [s[1] for s in res["samples"]]
    kinds = sorted({s[0] for s in res["samples"]})
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  trace {args.trace}  "
          f"profile {args.profile}  inputs {json.dumps(ctx.rows)}")
    print(f"  samples {len(lat)}  failed {res['failed']}  fail_ratio {res['failed'] / attempted:.4f} ratio")
    for name, unit in END_TO_END.items():
        print(f"  {name:<12} {e2e[name]:12.4f} {unit}")
    for kind in kinds:
        k = [s[1] for s in res["samples"] if s[0] == kind]
        print(f"    {kind:<28} n={len(k):<4d} p50 {np.median(k):.4f} s")
    print(f"  session start {layers['session.start_s']:.2f} s  result checks {ctx.check_s:.2f} s "
          f"(set-up, not in setup_s)  wall so far {time.perf_counter() - T0:.1f} s")
    if args.trace:
        for name, unit in PER_LAYER.items():
            print(f"  {name:<42} {layers.get(name, 0.0):14.4f} {unit}")


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "carbondata_spark", "__init__.py")):
        print(f"perfbench: no carbondata_spark package under {root}; run from the repo root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
