"""Span tracer for the traced run (``--trace 1``).

Installs wrappers from this file around public entry points of the
engine; no program file is changed. A span records name, start, end,
parent span and op id; spans stay in memory and are written out at the
end. Wrappers are pass-through unless an op is being traced, so the
traced run can sample traced and untraced ops from the same stream.

Wrapped: ``lake_sql``; ``LocalLakeCatalog.create_table/load_table``;
``LakeTable.append/plan_files/merge_into/delete_where/update_where/
upsert``; ``compact``; ``LakeTransaction.commit``; the commit-IO
``lock`` (time to acquire) and ``publish``; the registry query
callables; ``DataFrame.collect`` and ``DataFrameWriter.save`` (the
battery's ``noop`` write).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._restore: list[tuple[object, str, object]] = []
        self.traced_ops = 0

    # -- op boundaries (called by harness.run_loop) --------------------
    def begin_op(self, op_id: int, cls: str) -> None:
        self._op = op_id
        self._stack = []
        self.traced_ops += 1
        self._open(f"op.{cls}")

    def end_op(self) -> None:
        while self._stack:
            self._close()
        self._op = None

    # -- spans ---------------------------------------------------------
    def _open(self, name: str) -> None:
        self.spans.append(
            {
                "name": name,
                "op": self._op,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(len(self.spans) - 1)

    def _close(self) -> None:
        self.spans[self._stack.pop()]["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._op is None:
                return fn(*args, **kwargs)
            tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close()

        return wrapper

    def wrap_lock(self, name: str, fn):
        """Commit-IO ``lock`` returns a context manager; the span covers
        acquiring it, not the critical section it guards."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            cm = fn(*args, **kwargs)
            if tracer._op is None:
                return cm

            @contextmanager
            def timed_cm():
                tracer._open(name)
                try:
                    value = cm.__enter__()
                finally:
                    tracer._close()
                try:
                    yield value
                except BaseException as ex:
                    if not cm.__exit__(type(ex), ex, ex.__traceback__):
                        raise
                else:
                    cm.__exit__(None, None, None)

            return timed_cm()

        return wrapper

    def patch(self, owner, attr: str, name: str, lock: bool = False) -> None:
        """Replace ``owner.attr`` (a module function or a method defined
        on the class itself) with a traced wrapper until ``uninstall``."""
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, (self.wrap_lock if lock else self.wrap)(name, orig))

    def install(self, spark) -> None:
        from icebergplus_spark import lake, registry
        from icebergplus_spark.lake import commitio, maintenance, sql_dml
        from icebergplus_spark.lake.catalog import LocalLakeCatalog
        from icebergplus_spark.lake.table import LakeTable
        from icebergplus_spark.lake.txn import LakeTransaction

        self.patch(sql_dml, "lake_sql", "lake.sql_dml.lake_sql")
        for m in ("create_table", "load_table"):
            self.patch(LocalLakeCatalog, m, f"lake.catalog.{m}")
        for m in ("append", "plan_files", "merge_into", "delete_where", "update_where", "upsert"):
            self.patch(LakeTable, m, f"lake.table.{m}")
        self.patch(maintenance, "compact", "lake.maintenance.compact")
        self.patch(lake, "compact", "lake.maintenance.compact")
        self.patch(LakeTransaction, "commit", "lake.txn.commit")
        for io in (commitio.RenameCommitIO, commitio.ObjectStoreCommitIO):
            self.patch(io, "lock", "lake.commitio.lock", lock=True)
            self.patch(io, "publish", "lake.commitio.publish")
        self._queries = (registry.QUERIES, dict(registry.QUERIES))
        for q, fn in self._queries[1].items():
            registry.QUERIES[q] = self.wrap(f"operators.{q}", fn)
        df = spark.range(0)
        self.patch(type(df), "collect", "spark.collect")
        self.patch(type(df.write), "save", "spark.save")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)
        queries, orig = self._queries
        queries.update(orig)

    # -- reports -------------------------------------------------------
    def _child_ms(self) -> dict[int, float]:
        """Span index -> ms covered by its direct child spans."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000.0
        return child_ms

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total ms and self ms (total minus the
        time of child spans)."""
        child_ms = self._child_ms()
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            total = (s["end"] - s["start"]) * 1000.0
            row = out.setdefault(s["name"], {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
            row["calls"] += 1
            row["total_ms"] += total
            row["self_ms"] += total - child_ms[i]
        return out

    def layer_self_ms(self, layers: list[str]) -> dict[str, float]:
        """Self time per layer per traced op (a layer is a span-name prefix)."""
        per_layer = {layer: 0.0 for layer in layers}
        for name, row in self.self_times().items():
            for layer in layers:
                if name == layer or name.startswith(layer + "."):
                    per_layer[layer] += row["self_ms"]
        n = max(1, self.traced_ops)
        return {layer: ms / n for layer, ms in per_layer.items()}

    def mean_ms(self, name: str) -> float:
        row = self.self_times().get(name)
        return row["total_ms"] / row["calls"] if row else 0.0

    def per_op_class(self, name: str, self_only: bool = False) -> dict[str, tuple[float, int]]:
        """Per op class: (ms spent in spans called ``name``, traced ops of
        the class). Outermost such spans only, so recursion is not
        counted twice; with ``self_only``, every such span's self time."""
        child_ms = self._child_ms()
        op_cls: dict[int, str] = {}
        for s in self.spans:
            if s["parent"] is None:
                op_cls[s["op"]] = s["name"][3:]
        ms = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["name"] != name or s["end"] is None:
                continue
            total = (s["end"] - s["start"]) * 1000.0
            if self_only:
                ms[op_cls[s["op"]]] += total - child_ms[i]
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                ms[op_cls[s["op"]]] += total
        n_ops = defaultdict(int)
        for c in op_cls.values():
            n_ops[c] += 1
        return {c: (ms[c], n_ops[c]) for c in n_ops}

    def calls_per_op(self, name: str) -> float:
        row = self.self_times().get(name)
        return row["calls"] / max(1, self.traced_ops) if row else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
