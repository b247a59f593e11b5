"""Measurement core shared by the workloads.

One process, one Spark session, one closed-loop client: every timed op
is issued only after the previous one has returned (lake callers wait
for each statement). The harness owns the clock; workloads only say
what an op is (``Op``) and how to check it afterwards.

A run goes: host spin -> data generation -> Spark start -> ``setup``
repeated ``SETUP_ROUNDS`` times from scratch (the median is ``setup_s``,
so the JIT-cold first round does not set it) -> a fixed warm-up (one
untimed, checked pass of the op stream) -> timed loop -> correctness
checks -> host spin. The timed loop runs a fixed number of passes,
``--seconds`` divided by the workload's nominal pass time
(``PASS_SECONDS``, measured on a 4-core host): a run is about
``--seconds`` long there, and every run does the same work however fast
the program is. Only op bodies in the timed loop are inside timed
intervals; every check, shadow replay and statistic runs outside them.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

# Registry subset of the operator_battery workload: TPC-H joins and
# aggregates, windows, as-of join, dedup/MinHash, ANN similarity and the
# text/multimodal pandas-UDF path.
BATTERY = [
    "q01_pricing_summary",
    "q05_local_supplier_volume",
    "q20_topk_per_group",
    "q42_sessionize",
    "q43_asof_join",
    "d02_fingerprint_dedup",
    "d04_minhash_lsh",
    "s04_ann_ivf",
    "m02_multimodal_features",
    "t02_quality_score",
    "q56_arrow_udf",
]

# End-to-end metrics printed with --trace 0 (name -> unit, better).
END_TO_END = {
    "setup_s": ("s", "lower"),
    "read_ms": ("ms", "lower"),
    "op_ms": ("ms", "lower"),
    "ops_per_s": ("op/s", "higher"),
}

# Per-layer metrics printed with --trace 1:
# name -> (unit, better, layer, the end-to-end metric and workload it should move).
# A metric that does not apply to a workload reads 0 there. "Lake workloads"
# are dml_churn and lake_scan (lake_scan is run by hand; see run.py).
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    "session.start_s": ("s", "lower", "session", "not gated; explains run-to-run offsets"),
    "host.calib_ms": ("ms", "lower", "host", "not gated; explains host drift"),
    "host.steal_pct": ("%", "lower", "host", "not gated; CPU the hypervisor took during the timed loop"),
    "warmup_s": ("s", "lower", "harness", "not gated; the untimed warm-up pass after setup"),
    "fail_ratio": ("ratio", "lower", "harness", "correctness; 0 on a good tree"),
    "read_ms.p90": ("ms", "lower", "harness", "read tail, all workloads"),
    "write_ms": ("ms", "lower", "harness", "op_ms, ops_per_s on dml_churn"),
    "write_ms.p90": ("ms", "lower", "harness", "write tail on dml_churn; compaction stalls"),
    "stored_bytes_per_row": ("B/row", "lower", "lake.table", "footprint of lake workloads"),
    "sources.load_ms": ("ms", "lower", "sources", "setup_s, all workloads"),
    "catalog.create_table_ms": ("ms", "lower", "lake.catalog", "setup_s, lake workloads"),
    "catalog.load_table_ms": ("ms", "lower", "lake.catalog", "read_ms, op_ms, lake workloads"),
    "catalog.load_tables_per_op": ("count", "lower", "lake.catalog", "read_ms, op_ms, lake workloads"),
    "sql_dml.select_ms": ("ms", "lower", "lake.sql_dml", "read_ms, lake workloads"),
    "sql_dml.insert_ms": ("ms", "lower", "lake.sql_dml", "op_ms on dml_churn"),
    "sql_dml.delete_ms": ("ms", "lower", "lake.sql_dml", "op_ms on dml_churn"),
    "sql_dml.update_ms": ("ms", "lower", "lake.sql_dml", "op_ms on dml_churn"),
    "sql_dml.merge_ms": ("ms", "lower", "lake.sql_dml", "op_ms on dml_churn"),
    "sql_dml.txn_ms": ("ms", "lower", "lake.sql_dml", "op_ms on dml_churn"),
    "sql_dml.self_ms": ("ms", "lower", "lake.sql_dml", "read_ms, lake workloads"),
    "scan.planning_ms": ("ms", "lower", "lake.table", "read_ms; grows on dml_churn, flat on lake_scan"),
    "scan.plans_per_read": ("count", "lower", "lake.table", "read_ms, lake workloads"),
    "scan.result_data_files": ("count", "lower", "lake.table", "read_ms, lake workloads"),
    "scan.result_delete_files": ("count", "lower", "lake.table", "read_ms, lake workloads"),
    "scan.result_bytes": ("B", "lower", "lake.table", "read_ms, lake workloads"),
    "scan.files_kept_ratio": ("ratio", "lower", "lake.table", "read_ms, lake workloads"),
    "commit.per_write": ("count", "lower", "lake.table", "op_ms on dml_churn"),
    "commit.attempts_per_commit": ("count", "lower", "lake.table", "op_ms on dml_churn"),
    "commit.duration_ms": ("ms", "lower", "lake.table", "op_ms on dml_churn"),
    "commit.added_files": ("count", "lower", "lake.table", "op_ms, stored_bytes_per_row"),
    "commit.added_bytes": ("B", "lower", "lake.table", "op_ms, stored_bytes_per_row"),
    "table.data_files": ("count", "lower", "lake.table", "read_ms, stored_bytes_per_row on dml_churn"),
    "table.delete_files": ("count", "lower", "lake.table", "read_ms, stored_bytes_per_row on dml_churn"),
    "table.snapshots": ("count", "lower", "lake.table", "read_ms, stored_bytes_per_row on dml_churn"),
    "table.manifests": ("count", "lower", "lake.table", "read_ms, stored_bytes_per_row on dml_churn"),
    "commitio.publish_ms": ("ms", "lower", "lake.commitio", "op_ms on dml_churn"),
    "commitio.lock_ms": ("ms", "lower", "lake.commitio", "op_ms on dml_churn"),
    "txn.commit_ms": ("ms", "lower", "lake.txn", "op_ms on dml_churn"),
    "maintenance.compact_ms": ("ms", "lower", "lake.maintenance", "write_ms.p90, stored_bytes_per_row on dml_churn"),
    "maintenance.files_rewritten": ("count", "lower", "lake.maintenance", "write_ms.p90 on dml_churn"),
    "maintenance.bytes_rewritten": ("B", "lower", "lake.maintenance", "write_ms.p90 on dml_churn"),
    "spark.read.jobs_per_op": ("count", "lower", "spark", "read_ms, all workloads"),
    "spark.read.tasks_per_op": ("count", "lower", "spark", "read_ms, all workloads"),
    "spark.read.exec_ms": ("ms", "lower", "spark", "read_ms, all workloads"),
    "spark.write.jobs_per_op": ("count", "lower", "spark", "op_ms on dml_churn"),
    "spark.write.tasks_per_op": ("count", "lower", "spark", "op_ms on dml_churn"),
    "spark.write.exec_ms": ("ms", "lower", "spark", "op_ms on dml_churn"),
    "trace.spans_per_op": ("count", "lower", "trace", "not gated; tracing volume"),
    "trace.overhead_pct": ("%", "lower", "trace", "not gated; traced vs untraced op_ms"),
}

# Span-name prefixes whose self time per traced op is reported (spantrace.py).
TRACE_LAYERS = [
    "lake.sql_dml",
    "lake.catalog",
    "lake.table",
    "lake.maintenance",
    "lake.txn",
    "lake.commitio",
    "operators",
    "spark",
]
for _q in BATTERY:
    PER_LAYER[f"operators.{_q}_ms"] = ("ms", "lower", "operators", "read_ms, ops_per_s on operator_battery")
for _layer in TRACE_LAYERS:
    PER_LAYER[f"self.{_layer}_ms"] = (
        "ms", "lower", _layer, "self time per traced op; read_ms/op_ms of the workloads using it",
    )


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return s[k]


def calib_ms() -> float:
    """Fixed CPU spin: the same pure-Python work every time, so a
    slower host (noisy neighbour, throttling) shows as a larger value.
    Median of five short spins, so one preemption does not set it."""
    spins = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(100_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        spins.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(spins)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine so far, from the first
    line of /proc/stat; (0, 0) where there is none. On a virtual machine
    steal is time a vCPU wanted to run while the hypervisor ran another
    tenant: every latency of a run spent in steal reads slower."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


@dataclass
class Op:
    """One closed-loop client request.

    ``run`` is the timed body (statement plus result materialisation).
    ``check`` runs afterwards, untimed, with ``run``'s return value and
    returns an error string or None; it is also where shadows replay.
    ``kind`` is ``read`` or ``write``; ``cls`` is the statement class.
    """

    kind: str
    cls: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None] | None = None
    text: str = ""


@dataclass
class Sample:
    kind: str
    cls: str
    ms: float
    ok: bool
    traced: bool = False
    jobs: int = 0
    tasks: int = 0
    exec_ms: float = 0.0


@dataclass
class Recorder:
    samples: list[Sample] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(msg)


class SparkJobs:
    """Spark jobs, tasks and job wall time per op, read through job
    groups from the status tracker (traced runs only)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def begin(self) -> str:
        self._n += 1
        group = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> tuple[int, int, float]:
        jobs = list(self.tracker.getJobIdsForGroup(group))
        tasks = 0
        exec_ms = 0.0
        store = self.sc._jsc.sc().statusStore()
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
            try:
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    exec_ms += done.get().getTime() - sub.get().getTime()
            except Exception:
                pass
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return len(jobs), tasks, exec_ms


def run_loop(ops, passes: int, rec: Recorder, tracer=None, jobs: SparkJobs | None = None) -> None:
    """Closed loop over ``(op, last_in_pass)`` pairs for exactly
    ``passes`` passes, so every run of a workload issues the same
    statements and samples every statement class in its fixed
    proportion, however fast the program is. With a tracer, every other
    op of each class is traced, so traced and untraced latencies of the
    same classes can be compared."""
    seen: dict[str, int] = {}
    for n, (op, last) in enumerate(ops):
        seen[op.cls] = seen.get(op.cls, 0) + 1
        traced = tracer is not None and seen[op.cls] % 2 == 0
        group = jobs.begin() if jobs else None
        if traced:
            tracer.begin_op(n, op.cls)
        ok, result = True, None
        t = time.perf_counter()
        try:
            result = op.run()
        except Exception as ex:  # counted in fail_ratio
            ok = False
            rec.fail(f"{op.cls}: {type(ex).__name__}: {str(ex)[:300]} [{op.text[:200]}]")
        ms = (time.perf_counter() - t) * 1000.0
        if traced:
            tracer.end_op()
        s = Sample(op.kind, op.cls, ms, ok, traced)
        if group is not None:
            s.jobs, s.tasks, s.exec_ms = jobs.end(group)
        if ok and op.check is not None:
            try:
                err = op.check(result)
            except Exception as ex:
                err = f"check raised {type(ex).__name__}: {ex}"
            if err:
                s.ok = False
                rec.fail(f"{op.cls}: {err[:400]} [{op.text[:200]}]")
        rec.samples.append(s)
        if last:
            passes -= 1
            if passes <= 0:
                break


def class_weighted(samples: list[Sample]) -> tuple[float, float]:
    """(geometric mean, arithmetic mean) over ``samples`` of the median
    latency of each sample's statement class.

    Each class counts with its share of the mix, but through its median,
    so one stall or a class's slow first call moves the figure much less
    than it moves a raw median or mean over a multi-modal mixture."""
    by_cls: dict[str, list[float]] = {}
    for s in samples:
        by_cls.setdefault(s.cls, []).append(s.ms)
    med = {c: statistics.median(v) for c, v in by_cls.items()}
    logs = [math.log(med[s.cls]) for s in samples]
    return math.exp(sum(logs) / len(logs)), sum(med[s.cls] for s in samples) / len(samples)


def end_to_end(rec: Recorder, setup_s: float) -> dict[str, float]:
    """``read_ms``/``op_ms``: class-weighted median latency of reads / of
    every op; ``ops_per_s``: ops completed per second of client time at
    the class medians."""
    ok = [s for s in rec.samples if s.ok]
    read_ms, _ = class_weighted([s for s in ok if s.kind == "read"])
    op_ms, mean_ms = class_weighted(ok)
    return {
        "setup_s": setup_s,
        "read_ms": read_ms,
        "op_ms": op_ms,
        "ops_per_s": 1000.0 / mean_ms,
    }


def harness_layer_metrics(rec: Recorder) -> dict[str, float]:
    ok = [s for s in rec.samples if s.ok]
    untraced = [s for s in ok if not s.traced]
    traced = [s for s in ok if s.traced]
    reads = [s.ms for s in untraced if s.kind == "read"]
    writes = [s.ms for s in untraced if s.kind == "write"]
    out = {
        "read_ms.p90": percentile(reads, 90) if reads else 0.0,
        "write_ms": statistics.median(writes) if writes else 0.0,
        "write_ms.p90": percentile(writes, 90) if writes else 0.0,
    }
    for kind in ("read", "write"):
        sel = [s for s in ok if s.kind == kind]
        n = max(1, len(sel))
        out[f"spark.{kind}.jobs_per_op"] = sum(s.jobs for s in sel) / n
        out[f"spark.{kind}.tasks_per_op"] = sum(s.tasks for s in sel) / n
        out[f"spark.{kind}.exec_ms"] = sum(s.exec_ms for s in sel) / n
    # per class: median traced / median untraced latency; geometric mean
    ratios = []
    for cls in {s.cls for s in traced} & {s.cls for s in untraced}:
        t = statistics.median(s.ms for s in traced if s.cls == cls)
        u = statistics.median(s.ms for s in untraced if s.cls == cls)
        ratios.append(math.log(t / u))
    if ratios:
        out["trace.overhead_pct"] = 100.0 * (math.exp(sum(ratios) / len(ratios)) - 1.0)
    return out


def report_layer_metrics(before: dict, after: dict, n_reads: int, n_writes: int) -> dict[str, float]:
    """Scan/commit report deltas over the timed loop, per op."""

    def d(name: str) -> float:
        return after.get(name, 0.0) - before.get(name, 0.0)

    scans = d("iceberg.scanReport.totalPlanningDuration.count")
    commits = d("iceberg.commitReport.totalDuration.count")
    sd, cd = max(1.0, scans), max(1.0, commits)
    return {
        "scan.planning_ms": 1000.0 * d("iceberg.scanReport.totalPlanningDuration.total_s") / sd,
        "scan.plans_per_read": scans / max(1, n_reads),
        "scan.result_data_files": d("iceberg.scanReport.resultDataFiles") / sd,
        "scan.result_delete_files": d("iceberg.scanReport.resultDeleteFiles") / sd,
        "scan.result_bytes": d("iceberg.scanReport.totalFileSizeInBytes") / sd,
        "commit.per_write": commits / max(1, n_writes),
        "commit.attempts_per_commit": d("iceberg.commitReport.attempts") / cd,
        "commit.duration_ms": 1000.0 * d("iceberg.commitReport.totalDuration.total_s") / cd,
        "commit.added_files": d("iceberg.commitReport.addedDataFiles") / cd,
        "commit.added_bytes": d("iceberg.commitReport.addedFilesSizeInBytes") / cd,
    }


def table_footprint(tables) -> dict[str, float]:
    """Files, snapshots and manifests of the current snapshots, and the
    bytes under the table directories (data, deletes, metadata)."""
    out = {"table.data_files": 0.0, "table.delete_files": 0.0, "table.snapshots": 0.0,
           "table.manifests": 0.0, "bytes": 0.0}
    for t in tables:
        t = t.refresh()
        snap = t.snapshot() or {}
        summ = snap.get("summary", {})
        out["table.data_files"] += float(summ.get("total-data-files", 0))
        out["table.delete_files"] += float(summ.get("total-delete-files", 0))
        out["table.snapshots"] += float(len(t.history()))
        out["table.manifests"] += float(
            len(snap.get("manifests", [])) + len(snap.get("delete_manifests", []) or [])
        )
        for dirpath, _, files in os.walk(t.location):
            for f in files:
                out["bytes"] += os.path.getsize(os.path.join(dirpath, f))
    return out


def timed(fn: Callable[[], Any]) -> tuple[float, Any]:
    t = time.perf_counter()
    r = fn()
    return time.perf_counter() - t, r
