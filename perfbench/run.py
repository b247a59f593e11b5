"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload dml_churn --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``dml_churn`` and ``operator_battery``
are the ones BENCHMARK.json gates. ``lake_scan`` (read-only planning,
pruning and folds over static metadata) runs the same way but is left
out of BENCHMARK.json: a run takes about a minute, and leaving it out
keeps a full benchmark (many seeded runs per workload) within an hour.

The tree under test is the directory above this one; the run exits with
code 2, printing no result, if that tree has no ``icebergplus_spark``
package.

Output: human-readable tables on stderr; the last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (``harness.END_TO_END``);
with ``--trace 1`` the run installs span wrappers (``spantrace.py``) and
reports the per-layer ones (``harness.PER_LAYER``), and writes its spans
to ``.perfbench_out/`` at the tree's root.

Everything the run writes (generated data, warehouses, Spark scratch,
temp files) lives in ``.perfbench_work/<workload>-<pid>/`` at the tree's
root and is deleted at the end, together with the Spark JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["dml_churn", "lake_scan", "operator_battery"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=None,
        help="override the workload's data scale (smoke tests use 0.001)",
    )
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Confine the run to ``work`` and point Python workers at the tree
    under test (a stale PYTHONPATH would import another tree)."""
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": tmp,
            # every JVM (spark-submit's launcher and Spark's own): temp
            # files under ``work``, and no /tmp/hsperfdata_* counter file
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(cpus or 1),
            "SPARK_DRIVER_MEMORY": "2g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        }
    )
    time.tzset()
    sys.path.insert(0, ROOT)


def start_spark(work: str):
    from icebergplus_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def stop_spark() -> None:
    """Stop Spark and wait for its JVM (and so its Python workers)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gw = SparkContext._gateway
    if sc is not None:
        sc.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def execute(args: argparse.Namespace, work: str) -> tuple[dict, list[str]]:
    import harness
    import workloads
    from spantrace import Tracer

    cls = workloads.WORKLOADS[args.workload]
    calib = [harness.calib_ms()]
    wl = cls(seed=args.seed, scale=args.scale, work=work)
    phases: dict[str, float] = {}
    phases["datagen"], _ = harness.timed(wl.generate)

    phases["session"], spark = harness.timed(lambda: start_spark(work))
    wl.bind(spark)

    phases["setup"], setups = harness.timed(lambda: [wl.setup(i) for i in range(wl.SETUP_ROUNDS)])
    setup_s = statistics.median(setups)
    phases["warmup"], _ = harness.timed(wl.warmup)

    tracer = jobs = None
    if args.trace:
        tracer = Tracer()
        tracer.install(spark)
        jobs = harness.SparkJobs(spark)
    rec = harness.Recorder()
    before = wl.sink.totals() if wl.sink else {}
    passes = max(2, round(args.seconds / wl.PASS_SECONDS))
    jiffies = harness.cpu_jiffies()
    phases["loop"], _ = harness.timed(lambda: harness.run_loop(wl.ops(), passes, rec, tracer, jobs))
    steal = harness.steal_pct(jiffies, harness.cpu_jiffies())
    after = wl.sink.totals() if wl.sink else {}
    if tracer is not None:
        tracer.uninstall()

    phases["checks"], checks = harness.timed(wl.final_checks)
    for name, err in checks:
        if err:
            rec.fail(f"{name}: {err}")
    attempted = len(rec.samples) + len(checks)
    failed = sum(not s.ok for s in rec.samples) + sum(err is not None for _, err in checks)
    calib.append(harness.calib_ms())

    if not args.trace:
        values = harness.end_to_end(rec, setup_s)
        catalogue = {k: v[:2] for k, v in harness.END_TO_END.items()}
    else:
        values = {k: 0.0 for k in harness.PER_LAYER}
        values.update(harness.harness_layer_metrics(rec))
        values["fail_ratio"] = failed / attempted
        n_reads = sum(s.kind == "read" for s in rec.samples)
        values.update(harness.report_layer_metrics(before, after, n_reads, len(rec.samples) - n_reads))
        values.update(wl.layer_metrics(tracer, rec.samples, values))
        values["session.start_s"] = phases["session"]
        values["warmup_s"] = phases["warmup"]
        values["host.calib_ms"] = statistics.mean(calib)
        values["host.steal_pct"] = steal
        for layer, ms in tracer.layer_self_ms(harness.TRACE_LAYERS).items():
            values[f"self.{layer}_ms"] = ms
        values["trace.spans_per_op"] = len(tracer.spans) / max(1, tracer.traced_ops)
        catalogue = {k: v[:2] for k, v in harness.PER_LAYER.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        print_self_times(tracer)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(values[k]), "unit": catalogue[k][0]} for k in catalogue
        },
    }
    log = [
        f"workload={args.workload} seed={args.seed} ops={len(rec.samples)} "
        f"phases_s={ {k: round(v, 2) for k, v in phases.items()} } setups={[round(x, 3) for x in setups]} "
        f"host.calib_ms={[round(x, 1) for x in calib]} host.steal_pct={steal:.2f} "
        f"fail_ratio={failed / attempted:.4f}"
    ]
    for k in catalogue:
        moves = harness.PER_LAYER[k][3] if args.trace else ""
        unit, better = catalogue[k]
        log.append(f"  {k:34s} {values[k]:14.4f} {unit:6s} {better:6s} {moves}")
    log.append(f"  per class (ok samples, median ms) over {passes} passes:")
    for cls in sorted({s.cls for s in rec.samples}):
        ms = [s.ms for s in rec.samples if s.cls == cls and s.ok]
        log.append(f"    {cls:34s} {len(ms):3d} {statistics.median(ms) if ms else 0.0:10.1f}")
    log.append("  ops (class ms): " + " ".join(f"{s.cls}:{s.ms:.0f}" for s in rec.samples))
    log += [f"  error: {e}" for e in rec.errors]
    return result, log


def print_self_times(tracer) -> None:
    """Per span name: calls, mean ms per call, and self ms per traced op
    (``op.<class>`` spans are the harness's own roots, one per op)."""
    rows = sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_ms"])
    n = max(1, tracer.traced_ops)
    print(f"spans: {len(tracer.spans)} over {tracer.traced_ops} traced ops", file=sys.stderr)
    print(f"  {'span':40s} {'calls':>6s} {'ms/call':>9s} {'self ms/op':>11s}", file=sys.stderr)
    for name, r in rows:
        print(
            f"  {name:40s} {r['calls']:6d} {r['total_ms'] / r['calls']:9.2f} {r['self_ms'] / n:11.2f}",
            file=sys.stderr,
        )


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "icebergplus_spark", "__init__.py")):
        print(f"no icebergplus_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        result, log = execute(args, work)
    finally:
        t = time.perf_counter()
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run uses it
            except OSError:
                pass
    log.append(f"  stop_s={time.perf_counter() - t:.2f}")
    print("\n".join(log), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
