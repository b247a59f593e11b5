"""The three benchmark workloads.

Each workload owns its data scale, a fixed warm-up, a set-up it can
repeat (``setup(i)`` returns its own timed seconds, so cleanup and
shadow loading stay untimed), a lazy op stream, and checks. The op
stream yields ``(Op, last_in_pass)``: a pass is a fixed multiset of
statement classes, and the timed loop runs whole passes, so every run
samples the classes in the same proportions. On ``dml_churn`` the class
order within a pass is fixed too, so every seed takes the tables
through the same sequence of states; the seed picks keys and values.

The program sees only generated SQL text (``lake_sql``), the lake API
(``LocalLakeCatalog``, ``LakeTable``, ``compact``) and registry query
callables. Checks run on DuckDB outside every timed interval.
"""

from __future__ import annotations

import bisect
import datetime as dt
import functools
import importlib.util
import os
import random
import shutil
import statistics
import time
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

import datagen
import harness
from harness import Op
from icebergplus_spark.lake import MetricsSink

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@functools.cache
def _check_oracle():
    """The repo's oracle checker module (tools/check_oracle.py), for its ``canon``."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canon(df: pd.DataFrame) -> pd.DataFrame:
    return _check_oracle().canon(df)


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, Decimal)):
        f = float(v)
        return None if f != f else f
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def norm_rows(rows) -> list[tuple]:
    """Order-insensitive, engine-neutral form of a small result."""
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def content_hash(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive hash) of a whole table."""
    c = canon(df)
    return len(c), int(pd.util.hash_pandas_object(c, index=False).sum())


def passes(rng: random.Random, mix: list[tuple[str, int]]):
    """Endless seeded permutations of the class multiset ``mix``."""
    bag = [cls for cls, n in mix for _ in range(n)]
    while True:
        rng.shuffle(bag)
        yield from ((cls, i == len(bag) - 1) for i, cls in enumerate(bag))


def cycle(order: list[str]):
    """Endless repetitions of the fixed class sequence ``order``."""
    while True:
        yield from ((cls, i == len(order) - 1) for i, cls in enumerate(order))


def _ts(days: int) -> str:
    d = dt.date(1995, 1, 1) + dt.timedelta(days=days)
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


class Workload:
    """Base: seeded data, a repeatable ``setup``, a fixed ``warmup``, an
    op stream and the checks. Subclasses set the class attributes."""

    name = ""
    scale = 0.01  # datagen scale: 0.01 is 15k orders, ~60k lineitem rows
    PASS_SECONDS = 5.0  # nominal seconds per pass on a 4-core host
    SETUP_ROUNDS = 3  # setup_s is the median; the first round is JIT-cold
    sink = None

    def __init__(self, seed: int, scale: float | None, work: str) -> None:
        self.seed = seed
        self.work = work
        if scale is not None:
            self.scale = scale
        self.data_dir = os.path.join(work, "data")
        self.rng = random.Random(seed)
        self.spark = None
        self.setup_parts: dict[str, list[float]] = {}

    def generate(self) -> None:
        self.rows = datagen.generate(self.data_dir, self.seed, self.scale)

    def bind(self, spark) -> None:
        self.spark = spark

    def _part(self, name: str, seconds: float) -> None:
        self.setup_parts.setdefault(name, []).append(seconds * 1000.0)

    def warmup(self) -> None:
        raise NotImplementedError

    def setup(self, i: int) -> float:
        raise NotImplementedError

    def ops(self):
        """The op stream; the warm-up starts it and the timed loop
        continues it."""
        return self.stream

    def final_checks(self) -> list[tuple[str, str | None]]:
        return []

    def layer_metrics(self, tracer, samples, values) -> dict[str, float]:
        """Workload-specific per-layer values; ``values`` holds the
        harness-level ones already computed (scan/commit reports)."""
        return {k: statistics.median(v) for k, v in self.setup_parts.items()}


# ---------------------------------------------------------------------------
# lake workloads
# ---------------------------------------------------------------------------
class ReportSink(MetricsSink):
    """A ``MetricsSink`` whose ``publish`` hook keeps the latest value of
    every commit/scan meter, so totals can be summed over the per-table
    tags without reading the sink's internals."""

    def __init__(self) -> None:
        super().__init__()
        self.latest: dict = {}

    def publish(self, meter) -> None:
        if hasattr(meter, "total_time_s"):  # untagged timer
            self.latest[meter.name + ".count"] = float(meter.count)
            self.latest[meter.name + ".total_s"] = meter.total_time_s
        else:  # counter, one per tableName tag
            self.latest[(meter.name, tuple(sorted(meter.tags.items())))] = meter.value

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for key, value in self.latest.items():
            name = key[0] if isinstance(key, tuple) else key
            out[name] = out.get(name, 0.0) + value
        return out


class LakeWorkload(Workload):
    """Shared lake plumbing: per-round warehouses, a MetricsSink-backed
    catalog, a DuckDB shadow with the same table names (``db.*``)."""

    TABLES: dict[str, int] = {}  # table -> key-range slices at ingest
    KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey", "customer": "c_custkey"}
    MOR = {"lineitem"}

    def bind(self, spark) -> None:
        super().bind(spark)
        from icebergplus_spark.lake import sql_dml

        self.sql_dml = sql_dml  # module attribute lookup: traced runs patch it

    def lake_sql(self, sql: str):
        return self.sql_dml.lake_sql(self.catalog, sql)

    def build(self, root: str) -> float:
        """Create every table and ingest it in key-range slices (one
        append commit per slice); returns the seconds it took."""
        from icebergplus_spark.lake import LocalLakeCatalog
        from icebergplus_spark.sources import load_table
        from pyspark.sql import functions as F

        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        self.sink = ReportSink()
        self.catalog = LocalLakeCatalog(self.spark, root, metrics_sink=self.sink).start()
        src_s = create_s = 0.0
        for name, n_slices in self.TABLES.items():
            t = time.perf_counter()
            df = load_table(self.spark, self.data_dir, name)
            src_s += time.perf_counter() - t
            t = time.perf_counter()
            table = self.catalog.create_table(f"db.{name}", df.schema)
            if name in self.MOR:
                table = table.set_property("write.delete.mode", "merge-on-read")
            create_s += time.perf_counter() - t
            key = self.KEYS[name]
            n_keys = self.rows["orders" if name == "lineitem" else name]
            step = -(-n_keys // n_slices)
            for i in range(n_slices):
                lo, hi = i * step, min(n_keys, (i + 1) * step)
                table = table.append(df.filter((F.col(key) >= lo) & (F.col(key) < hi)))
        seconds = time.perf_counter() - t0
        self._part("sources.load_ms", src_s)
        self._part("catalog.create_table_ms", create_s)
        return seconds

    def setup(self, i: int) -> float:
        seconds = self.build(os.path.join(self.work, f"wh-{i}"))
        shutil.rmtree(os.path.join(self.work, f"wh-{i - 1}"), ignore_errors=True)
        return seconds

    def warmup(self) -> None:
        """Load the DuckDB shadow and run one untimed, checked pass of
        the stream on the final warehouse; the timed loop continues the
        same stream from the state the pass leaves."""
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("CREATE SCHEMA db")
        for name in self.TABLES:
            path = os.path.join(self.data_dir, f"{name}.parquet")
            self.con.execute(f"CREATE TABLE db.{name} AS SELECT * FROM read_parquet('{path}')")
        self.stream = self.start_stream()
        self.warm = harness.Recorder()
        harness.run_loop(self.stream, 1, self.warm)

    def start_stream(self):
        raise NotImplementedError

    def final_checks(self):
        """Every warm-up op (its failures are in ``warm.errors``) and the
        final table contents against the shadow."""
        errs = iter(self.warm.errors)
        out = [(f"warm-up {s.cls}", None if s.ok else next(errs, "failed")) for s in self.warm.samples]
        return out + self.compare_tables()

    def read_op(self, cls: str, sql: str, shadow_sql: str | None = None, tolerance: float = 0.0) -> Op:
        """A SELECT through ``lake_sql``, collected; checked against the shadow."""

        def run():
            return self.lake_sql(sql).collect()

        def check(rows):
            got = norm_rows(rows)
            want = norm_rows(self.con.execute(shadow_sql or sql).fetchall())
            if tolerance:
                ok = len(got) == len(want) and all(
                    abs(g[0] - w[0]) <= tolerance * max(1, abs(w[0])) for g, w in zip(got, want)
                )
            else:
                ok = got == want
            return None if ok else f"got {got[:5]} want {want[:5]}"

        return Op("read", cls, run, check, sql)

    def compare_tables(self) -> list[tuple[str, str | None]]:
        out = []
        for name in self.TABLES:
            spark_df = self.catalog.load_table(f"db.{name}").scan().toPandas()
            duck_df = self.con.execute(f"SELECT * FROM db.{name}").df()
            got, want = content_hash(spark_df), content_hash(duck_df)
            err = None if got == want else f"db.{name}: (rows, hash) {got} != shadow {want}"
            out.append((f"content db.{name}", err))
        return out

    def lake_layer_metrics(self, tracer, samples, values) -> dict[str, float]:
        tables = [self.catalog.load_table(f"db.{n}") for n in self.TABLES]
        fp = harness.table_footprint(tables)
        live = sum(self.con.execute(f"SELECT COUNT(*) FROM db.{n}").fetchone()[0] for n in self.TABLES)
        out = {k: v for k, v in fp.items() if k.startswith("table.")}
        out["stored_bytes_per_row"] = fp["bytes"] / max(1, live)
        # data files a scan kept over the live data files of all tables
        out["scan.files_kept_ratio"] = values["scan.result_data_files"] / max(1.0, fp["table.data_files"])
        out["catalog.load_table_ms"] = tracer.mean_ms("lake.catalog.load_table")
        out["catalog.load_tables_per_op"] = tracer.calls_per_op("lake.catalog.load_table")
        out["commitio.publish_ms"] = tracer.mean_ms("lake.commitio.publish")
        out["commitio.lock_ms"] = tracer.mean_ms("lake.commitio.lock")
        out["txn.commit_ms"] = tracer.mean_ms("lake.txn.commit")
        by_cls = tracer.per_op_class("lake.sql_dml.lake_sql")
        self_cls = tracer.per_op_class("lake.sql_dml.lake_sql", self_only=True)
        reads = {s.cls for s in samples if s.kind == "read"}

        def mean(d: dict, classes) -> float:
            sel = [d[c] for c in classes if c in d]
            tot = sum(ms for ms, _ in sel)
            n = sum(k for _, k in sel)
            return tot / n if n else 0.0

        out["sql_dml.select_ms"] = mean(by_cls, reads)
        out["sql_dml.self_ms"] = mean(self_cls, reads)
        for metric, prefix in (("insert", "insert_"), ("delete", "delete_"), ("update", "update_"),
                               ("merge", "merge_"), ("txn", "txn")):
            out[f"sql_dml.{metric}_ms"] = mean(by_cls, [c for c in by_cls if c.startswith(prefix)])
        return out


class DmlChurn(LakeWorkload):
    """Seeded ``lake_sql`` churn on ``orders`` (copy-on-write) and
    ``lineitem`` (merge-on-read), about 2:1 writes to reads, keys skewed
    toward recently inserted orders, compaction every ``COMPACT_EVERY``
    write statements (alternating the two tables). Replayed on a DuckDB shadow (MERGE as DELETE+INSERT);
    reads are compared as they happen and the final table contents by
    an order-insensitive hash."""

    name = "dml_churn"
    scale = 0.01
    PASS_SECONDS = 7.5
    TABLES = {"orders": 2, "lineitem": 4}
    COMPACT_EVERY = 9
    # One pass: 9 writes, 5 reads, then a compaction (the 9th write is
    # the last op). The order is fixed, not seeded: where a read falls
    # relative to inserts, deletes and the last compaction sets how many
    # files and delete files it plans over, so a seeded order would make
    # a run's read latencies depend on the seed.
    ORDER = [
        "insert_orders", "range_select", "insert_lineitem", "point_select",
        "delete_lineitem", "update_orders", "range_select", "insert_orders",
        "merge_orders", "point_select", "insert_lineitem", "delete_orders",
        "range_select", "txn",
    ]

    def start_stream(self):
        """Reset the generator's own model of which keys exist, so
        statements hit live rows: sorted live order keys, and sorted
        order keys that have lineitems (every generated order has at
        least one line)."""
        n = self.rows["orders"]
        self.n0 = self.next_key = n
        self.orders_live = list(range(n))
        self.lines_live = list(range(n))
        self.unlined: list[int] = []  # new orders without lineitems yet
        self.compactions: list[dict] = []
        return self._gen()

    # -- value generators ----------------------------------------------
    def _recent(self, keys: list[int]) -> int:
        """A live key, skewed toward the most recently inserted ones."""
        off = int(self.rng.expovariate(1.0 / max(1.0, 0.05 * self.n0)))
        return keys[max(0, len(keys) - 1 - off)]

    @staticmethod
    def _has(keys: list[int], k: int) -> bool:
        i = bisect.bisect_left(keys, k)
        return i < len(keys) and keys[i] == k

    @staticmethod
    def _drop(keys: list[int], lo: int, hi: int) -> None:
        del keys[bisect.bisect_left(keys, lo):bisect.bisect_right(keys, hi)]

    def _order_rows(self, keys: list[int]) -> list[str]:
        r = self.rng
        return [
            f"({k}, {r.randrange(1000)}, '{r.choice('FOP')}', {r.randrange(100_000, 50_000_000) / 100:.2f}, "
            f"{_ts(r.randrange(2400))}, '{r.choice(['1-URGENT', '2-HIGH', '3-MEDIUM', '5-LOW'])}')"
            for k in keys
        ]

    def _new_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        self.orders_live += keys
        self.unlined += keys
        return keys

    def _lineitem_rows(self, keys: list[int]) -> list[str]:
        r = self.rng
        rows = []
        for k in keys:
            for ln in range(1, r.randrange(2, 5)):
                rows.append(
                    f"({k}, {r.randrange(2000)}, {r.randrange(100)}, {ln}, {r.randrange(1, 51)}.0, "
                    f"{r.randrange(90_000, 10_500_000) / 100:.2f}, 0.0{r.randrange(10)}, 0.0{r.randrange(9)}, "
                    f"'{r.choice('ANR')}', '{r.choice('FO')}', {_ts(r.randrange(1, 2500))})"
                )
        return rows

    # -- op stream -----------------------------------------------------
    def write_op(self, cls: str, sql: str, shadow_sql: str | None = None) -> Op:
        def run():
            return self.lake_sql(sql)

        def check(_):
            self.con.execute(shadow_sql or sql)

        return Op("write", cls, run, check, sql)

    def compact_op(self) -> Op:
        from icebergplus_spark.lake import maintenance

        name = "lineitem" if len(self.compactions) % 2 == 0 else "orders"

        def run():
            t = time.perf_counter()
            summary = maintenance.compact(self.catalog.load_table(f"db.{name}"))
            self.compactions.append(dict(summary, ms=(time.perf_counter() - t) * 1000.0))

        return Op("write", "compact", run, None, f"compact db.{name}")

    def make_op(self, cls: str) -> Op:
        r = self.rng
        if cls == "insert_orders":
            rows = self._order_rows(self._new_keys(8))
            return self.write_op(cls, f"INSERT INTO db.orders VALUES {', '.join(rows)}")
        if cls == "insert_lineitem":
            keys = [k for k in self.unlined[:8] if self._has(self.orders_live, k)]
            keys = keys or [self._recent(self.orders_live)]
            self.unlined = self.unlined[8:]
            self.lines_live = sorted(set(self.lines_live) | set(keys))
            return self.write_op(cls, f"INSERT INTO db.lineitem VALUES {', '.join(self._lineitem_rows(keys))}")
        if cls == "delete_lineitem":
            a = self._recent(self.lines_live)
            b = a + r.randrange(4)
            self._drop(self.lines_live, a, b)
            return self.write_op(cls, f"DELETE FROM db.lineitem WHERE l_orderkey BETWEEN {a} AND {b}")
        if cls == "delete_orders":
            a = self._recent(self.orders_live)
            b = a + r.randrange(3)
            self._drop(self.orders_live, a, b)
            return self.write_op(cls, f"DELETE FROM db.orders WHERE o_orderkey BETWEEN {a} AND {b}")
        if cls == "update_orders":
            a = self._recent(self.orders_live)
            return self.write_op(
                cls,
                f"UPDATE db.orders SET o_orderstatus = '{r.choice('FOP')}', o_orderpriority = '2-HIGH' "
                f"WHERE o_orderkey BETWEEN {a} AND {a + r.randrange(6)}",
            )
        if cls == "merge_orders":
            old = sorted({self._recent(self.orders_live) for _ in range(5)})
            new = self._new_keys(3)
            rows = ", ".join(self._order_rows(old + new))
            cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
            sets = ", ".join(f"{c} = s.{c}" for c in cols.split(", ")[1:])
            sql = (
                f"MERGE INTO db.orders t USING (SELECT * FROM VALUES {rows} AS v({cols})) s "
                f"ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED THEN INSERT *"
            )
            keys = ", ".join(str(k) for k in old + new)
            shadow = f"DELETE FROM db.orders WHERE o_orderkey IN ({keys}); INSERT INTO db.orders VALUES {rows}"
            return self.write_op(cls, sql, shadow)
        if cls == "txn":
            rows = self._order_rows(self._new_keys(3))
            a = self._recent(self.lines_live)
            self._drop(self.lines_live, a, a + 2)
            sql = (
                f"BEGIN; INSERT INTO db.orders VALUES {', '.join(rows)}; "
                f"DELETE FROM db.lineitem WHERE l_orderkey BETWEEN {a} AND {a + 2}; COMMIT"
            )
            return self.write_op(cls, sql)
        if cls == "point_select":
            return self.read_op(cls, f"SELECT * FROM db.orders WHERE o_orderkey = {self._recent(self.orders_live)}")
        if cls == "range_select":
            # the newest lineitem keys: the range always covers the files
            # the churn keeps rewriting, so its cost does not depend on
            # where a random key happens to land
            hi = self.lines_live[-1]
            lo = hi - 40 - r.randrange(20)
            return self.read_op(
                cls,
                f"SELECT COUNT(*) AS n, COALESCE(SUM(l_quantity), 0) AS q FROM db.lineitem "
                f"WHERE l_orderkey BETWEEN {lo} AND {hi}",
            )
        raise ValueError(cls)

    def _gen(self):
        since = 0
        for cls, last in cycle(self.ORDER):
            op = self.make_op(cls)
            since += op.kind == "write"
            due = since >= self.COMPACT_EVERY
            yield op, last and not due
            if due:
                since = 0
                yield self.compact_op(), last

    def layer_metrics(self, tracer, samples, values):
        out = super().layer_metrics(tracer, samples, values)
        out.update(self.lake_layer_metrics(tracer, samples, values))
        if self.compactions:
            n = len(self.compactions)
            out["maintenance.compact_ms"] = sum(c["ms"] for c in self.compactions) / n
            out["maintenance.files_rewritten"] = sum(c.get("compacted", 0) for c in self.compactions) / n
            out["maintenance.bytes_rewritten"] = sum(c.get("bytes_rewritten", 0) for c in self.compactions) / n
        return out


class LakeScan(LakeWorkload):
    """Read-only seeded queries over static key-sliced tables with a few
    merge-on-read deletes: point lookups, narrow and wide key ranges,
    unclustered predicates (no pruning), metadata folds, top-k and a
    fact-dim join. Checked against DuckDB over the same parquet with the
    same deletes applied."""

    name = "lake_scan"
    scale = 0.01
    PASS_SECONDS = 6.0
    TABLES = {"lineitem": 8, "orders": 4, "customer": 2}
    MIX = [
        ("point", 2), ("narrow_range", 2), ("wide_range", 1), ("unclustered", 1),
        ("fold_minmax", 1), ("fold_approx_distinct", 1), ("topk", 1), ("join", 1),
    ]

    def _deletes(self) -> list[str]:
        """The set-up's merge-on-read deletes (same keys every round)."""
        rng = random.Random(self.seed)
        starts = [rng.randrange(self.rows["orders"]) for _ in range(3)]
        return [f"DELETE FROM db.lineitem WHERE l_orderkey BETWEEN {a} AND {a + 40}" for a in starts]

    def setup(self, i: int) -> float:
        seconds = super().setup(i)
        t = time.perf_counter()
        for sql in self._deletes():
            self.lake_sql(sql)
        return seconds + time.perf_counter() - t

    def start_stream(self):
        for sql in self._deletes():
            self.con.execute(sql)
        return self._gen()

    def make_op(self, cls: str) -> Op:
        r, n = self.rng, self.rows["orders"]
        if cls == "point":
            return self.read_op(cls, f"SELECT * FROM db.orders WHERE o_orderkey = {r.randrange(n)}")
        if cls in ("narrow_range", "wide_range"):
            w = 20 if cls == "narrow_range" else n // 3
            a = r.randrange(n - w)
            return self.read_op(
                cls,
                f"SELECT COUNT(*) AS n, COALESCE(SUM(l_quantity), 0) AS q FROM db.lineitem "
                f"WHERE l_orderkey BETWEEN {a} AND {a + w}",
            )
        if cls == "unclustered":
            return self.read_op(
                cls,
                f"SELECT COUNT(*) AS n, COALESCE(SUM(l_quantity), 0) AS q FROM db.lineitem "
                f"WHERE l_partkey = {r.randrange(self.rows['part'])}",
            )
        if cls == "fold_minmax":
            col = r.choice(["l_orderkey", "l_partkey", "l_quantity"])
            return self.read_op(
                cls, f"SELECT COUNT(*) AS n, MIN({col}) AS lo, MAX({col}) AS hi FROM db.lineitem"
            )
        if cls == "fold_approx_distinct":
            col = r.choice(["l_partkey", "l_suppkey", "l_orderkey"])
            # HLL++ estimate vs the exact count: Spark's default relative
            # standard deviation is 5 %, so allow three of them
            return self.read_op(
                cls,
                f"SELECT APPROX_COUNT_DISTINCT({col}) AS d FROM db.lineitem",
                f"SELECT COUNT(DISTINCT {col}) AS d FROM db.lineitem",
                tolerance=0.15,
            )
        if cls == "topk":
            return self.read_op(
                cls,
                f"SELECT o_orderkey, o_totalprice FROM db.orders "
                f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {r.randrange(5, 25)}",
            )
        if cls == "join":
            w = min(500, n // 4)
            a = r.randrange(n - w)
            return self.read_op(
                cls,
                f"SELECT c.c_mktsegment AS seg, COUNT(*) AS n, MAX(o.o_totalprice) AS mx "
                f"FROM db.orders o JOIN db.customer c ON o.o_custkey = c.c_custkey "
                f"WHERE o.o_orderkey BETWEEN {a} AND {a + w} GROUP BY c.c_mktsegment",
            )
        raise ValueError(cls)

    def _gen(self):
        for cls, last in passes(self.rng, self.MIX):
            yield self.make_op(cls), last

    def layer_metrics(self, tracer, samples, values):
        out = super().layer_metrics(tracer, samples, values)
        out.update(self.lake_layer_metrics(tracer, samples, values))
        return out


# ---------------------------------------------------------------------------
# operator battery
# ---------------------------------------------------------------------------
class OperatorBattery(Workload):
    """Raw parquet with the lake bypassed: a seeded order of a registry
    subset, each query forced with a ``noop`` write. Every query's
    collected result is checked against its ``oracle_sql()`` twin on
    DuckDB (``canon`` from tools/check_oracle.py) in the warm-up pass."""

    name = "operator_battery"
    scale = 0.01
    PASS_SECONDS = 7.5

    def bind(self, spark) -> None:
        super().bind(spark)
        from icebergplus_spark import registry

        registry.load_all()
        self.registry = registry

    def warmup(self) -> None:
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in datagen.TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.warm_checks = []
        for q in harness.BATTERY:
            err = None
            try:
                got = canon(self.registry.QUERIES[q](self.spark, self.data_dir).toPandas())
                want = canon(con.sql(self.registry.ORACLES[q]).df())
                if list(got.columns) != list(want.columns) or not got.equals(want):
                    err = f"{q}: result differs from oracle ({len(got)} vs {len(want)} rows)"
            except Exception as ex:
                err = f"{q}: {type(ex).__name__}: {str(ex)[:300]}"
            self.warm_checks.append((f"oracle {q}", err))
        con.close()
        self.stream = self._gen()

    def setup(self, i: int) -> float:
        from icebergplus_spark.sources import load_table

        t = time.perf_counter()
        for name in datagen.TABLES:
            load_table(self.spark, self.data_dir, name).schema
        seconds = time.perf_counter() - t
        self._part("sources.load_ms", seconds)
        return seconds

    def query_op(self, q: str) -> Op:
        def run():
            df = self.registry.QUERIES[q](self.spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()

        return Op("read", q, run, None, q)

    def _gen(self):
        order = list(harness.BATTERY)
        while True:
            self.rng.shuffle(order)
            for i, q in enumerate(order):
                yield self.query_op(q), i == len(order) - 1

    def final_checks(self):
        return self.warm_checks

    def layer_metrics(self, tracer, samples, values):
        out = super().layer_metrics(tracer, samples, values)
        for q in harness.BATTERY:
            ms = [s.ms for s in samples if s.cls == q and s.ok and not s.traced]
            out[f"operators.{q}_ms"] = statistics.median(ms) if ms else 0.0
        return out


WORKLOADS = {w.name: w for w in (DmlChurn, LakeScan, OperatorBattery)}
