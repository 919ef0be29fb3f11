"""The repository benchmark: one Spark session and one closed-loop client.

    python3 perfbench/run.py --workload kv_mixed --seed 1 --seconds 15 --trace 0

Run it from the repository root. Workloads (see perfbench/README.md for why
each was chosen):

- ``kv_mixed``: 1000-cell write batches into a version-limited family, each
  followed by a tiered-compaction worker call and reads; a row delete and
  version GC once per cycle.
- ``analytics``: a fixed slice of the query registry, whole passes in a
  fixed order, each query materialized by a count.
- ``kv_read`` (not in BENCHMARK.json): point reads, multi-gets, prefix/range
  scans and predicated counts over one compacted base, until a deadline.

Inputs are generated from ``--seed`` inside ``perfbench/.work``. Every op
result is checked against an expectation computed outside the timed loop.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` every op is traced: the run records spans and Spark
job/task data for each op, and the last line carries the per-layer
metrics. Lines before it are a human-readable report of every metric with
its unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ops as opslib  # noqa: E402
import stats  # noqa: E402
import spans as tracelib  # noqa: E402
from datagen import write_analytics_tables, write_kv_orders  # noqa: E402

WORKLOADS = ("kv_read", "kv_mixed", "analytics")

#: key-value base size: 6k orders = 30k cells
KV_ORDERS = 6_000
#: bulk loads per run; setup_s takes their median
BULK_LOADS = 3
#: analytics input scale (orders = 1.5M x sf rows)
ANALYTICS_SF = 0.001
#: the registry slice the analytics workload runs
ANALYTICS_QUERIES = (
    "rel_tpch_q6",
    "txt_analyze",
    "wc_scan_prefix",
    "rel_tpch_q9",
    "rel_tpch_q18",
    "txt_bm25",
)
#: nominal length of one timed unit on a 4-core VM: ``--seconds`` buys
#: ``seconds / unit`` units, rounded (stats.units_for)
KV_CYCLE_SECONDS = 15.0
ANALYTICS_PASS_SECONDS = 5.0
ANALYTICS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DRIVER_MEMORY = "2g"
#: fixed GC clock: the written family has no TTL, so only the version
#: limit decides what GC drops
GC_NOW_NANOS = 2_000_000_000_000_000_000
READ_OPS = ("get", "multi_get", "prefix", "range", "count")
POINT_OPS = ("get", "multi_get")

#: (name, unit) of the end-to-end metrics every workload reports
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_ms", "ms"),
)
STORE_FS_KINDS = (
    "makedirs", "exists", "isdir", "listdir", "read_text", "write_text",
    "replace_text", "create_exclusive", "rename", "rmtree", "remove",
    "walk_files", "parquet_num_rows", "put_parquet_int64",
)
#: layers whose spans can fail (a session that fails to start ends the
#: run instead); ``check`` counts wrong results
LAYERS = (
    "table", "registry", "store", "catalyst", "spark",
    "writer", "workers", "store_fs", "check",
)
#: (name, unit) of the per-layer metrics the traced run reports
PER_LAYER = (
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("store.bulk_load_s", "s"),
    ("table.build_ms.get", "ms"),
    ("table.build_ms.scan", "ms"),
    ("table.build_ms.write", "ms"),
    ("table.build_ms.delete", "ms"),
    ("registry.build_ms", "ms"),
    ("catalyst.plan_nodes", "count"),
    ("store.open_ms", "ms"),
    ("store.legs_per_read", "count"),
    ("store.rows_read_per_row_returned", "ratio"),
    ("catalyst.plan_ms", "ms"),
    ("catalyst.exchanges", "count"),
    ("spark.exec_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.job_gap_ms", "ms"),
    ("spark.task_run_ms", "ms"),
    ("spark.task_gc_ms", "ms"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.task_skew", "ratio"),
    ("writer.rows_to_cells_ms", "ms"),
    ("store.append_ms", "ms"),
    ("store.commits", "count"),
    ("store.files_written", "count"),
    ("store.bytes_written", "bytes"),
    ("store.write_amp", "ratio"),
    ("store.delete_ms", "ms"),
    ("store.delete_bytes_rewritten", "bytes"),
    ("workers.minor_ms", "ms"),
    ("workers.major_ms", "ms"),
    ("workers.minor_count", "count"),
    ("workers.major_count", "count"),
    ("workers.gc_ms", "ms"),
    ("workers.gc_deleted_cells", "count"),
    ("workers.bytes_rewritten", "bytes"),
    *[(f"store_fs.calls.{k}", "count") for k in STORE_FS_KINDS],
    *[(f"store_fs.ms.{k}", "ms") for k in STORE_FS_KINDS],
    *[(f"{layer}.failed", "count") for layer in LAYERS],
    ("trace.overhead_ms", "ms"),
    ("trace.unaccounted_ms", "ms"),
)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0):
    return sum(xs) / len(xs) if xs else default


def _peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin pipe
    closes (PySpark's gateway contract)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _source_revision() -> str:
    """Git commit when the checkout is a repository, else a digest of
    the engine's source files."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    import hashlib

    h = hashlib.sha256()
    for base, _dirs, names in sorted(os.walk(os.path.join(ROOT, "smoltable_spark"))):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(base, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(base, n)
                out[p] = os.path.getsize(p)
    return out


class Run:
    """One benchmark run: session, workload, checks and metrics."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = os.path.join(HERE, ".work", self.workload)
        self.records: list[dict] = []
        self.setup: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.tracer = tracelib.Tracer()
        self.extra: dict = {}

    # -- session ---------------------------------------------------------

    def start_session(self):
        from smoltable_spark.session import get_spark

        self.cpus = len(os.sched_getaffinity(0))
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep the JVM's scratch (native libs, perf counters) inside the work dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=self.cpus, extra_conf=conf)
        self.setup["session.start_s"] = time.perf_counter() - t
        self.sc = self.spark.sparkContext

    def config(self) -> dict:
        import pyspark

        return {
            "workload": self.workload,
            "seed": self.seed,
            "run_seconds": self.seconds,
            "trace": int(self.traced),
            "cpus": self.cpus,
            "default_parallelism": self.sc.defaultParallelism,
            "driver_memory": DRIVER_MEMORY,
            "data": self.data_desc,
            "revision": _source_revision(),
            "spark_version": pyspark.__version__,
            "python_version": platform.python_version(),
        }

    # -- op execution ------------------------------------------------------

    def _record(self, op: dict, fn, traced: bool | None = None):
        """Run one op, timing it. In a traced run the op also gets a root
        span, its own job group, plan statistics and store-file
        accounting; the time that bookkeeping takes outside the op is
        kept as the op's tracing overhead."""
        traced = self.traced if traced is None else traced
        rec = {"op": op["op"], "traced": traced, "spec": op}
        self.attempted += 1
        if traced:
            b0 = time.perf_counter()
            before = _dir_files(self.table.store.path) if op["op"] not in READ_OPS + ("query",) else None
            group = f"op-{len(self.records)}"
            rec["group"] = group
            self.sc.setJobGroup(group, op["op"])
            self.tracer.active = True
            book = time.perf_counter() - b0
        t = time.perf_counter()
        try:
            with self.tracer.span(f"op.{op['op']}", "op") as root:
                rec["out"] = fn(rec)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
            self.failures.append(f"{op['op']}: {rec['error'][:300]}")
        rec["lat"] = time.perf_counter() - t
        if traced:
            b0 = time.perf_counter()
            self.tracer.active = False
            rec["root"] = root.id
            rec.update(tracelib.job_group_counts(self.sc, group))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if before is not None:
                after = _dir_files(self.table.store.path)
                new = [p for p in after if p not in before]
                rec["files_written"] = len(new)
                rec["bytes_written"] = sum(after[p] for p in new)
            rec["bookkeeping"] = book + rec.pop("plan_stats_s", 0.0) + time.perf_counter() - b0
        self.records.append(rec)
        return rec

    def _read_df(self, op: dict):
        from smoltable_spark import ColumnFilter, CountInput, QueryRowInput, ScanInput
        from smoltable_spark.api import RowRange

        t = self.table
        kind = op["op"]
        if kind == "get":
            return t.get_row(QueryRowInput(op["key"]))
        if kind == "multi_get":
            return t.multi_get([QueryRowInput(k) for k in op["keys"]])
        if kind == "prefix":
            return t.scan(
                ScanInput(prefix=op["prefix"], column_filter=ColumnFilter.key(opslib.PREFIX_COLUMN))
            )
        if kind == "range":
            return t.scan(
                ScanInput(range=RowRange(op["start"], op["end"]), row_limit=opslib.RANGE_ROW_LIMIT)
            )
        return t.scan_count(CountInput(prefix=op["prefix"]))

    def _run_read(self, rec: dict):
        op = rec["spec"]
        tr = self.tracer
        with tr.span("build", "table"):
            df = self._read_df(op)
        if rec["traced"]:
            with tr.span("plan", "catalyst"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec", "spark"):
            rows = df.collect()
        self._plan_stats(rec, df)
        return rows

    def _plan_stats(self, rec: dict, df) -> None:
        if rec["traced"]:
            t = time.perf_counter()
            rec.update(tracelib.plan_stats(df))
            rec["plan_stats_s"] = time.perf_counter() - t

    def read(self, op: dict):
        return self._record(op, self._run_read)

    def mutate(self, op: dict, fn):
        return self._record(op, lambda rec: fn())

    # -- setup ---------------------------------------------------------------

    def load_base(self, i: int):
        from smoltable_spark import ColumnFamilyDef, Smoltable
        from smoltable_spark.sources.relational import orders_cells

        table = Smoltable.open(self.spark, os.path.join(self.work, f"store{i}"))
        table.create_column_families(
            [ColumnFamilyDef("o"), ColumnFamilyDef(opslib.WRITE_FAMILY, version_limit=opslib.VERSION_LIMIT)]
        )
        table.store.write(orders_cells(self.spark, self.data_dir))
        return table

    def setup_kv(self):
        import duckdb

        self.data_dir = os.path.join(self.work, "data")
        keys = write_kv_orders(self.seed, self.data_dir, KV_ORDERS)
        self.key_space = KV_ORDERS * 10 // 9
        self.data_desc = f"kv orders={KV_ORDERS} cells={KV_ORDERS * 5}"
        con = duckdb.connect()
        base: dict[str, list[tuple]] = {}
        for k, cust, status, price, date_ms, prio in con.sql(
            "SELECT 'order#' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0'), o_custkey, "
            "o_orderstatus, o_totalprice, epoch_ms(o_orderdate), o_orderpriority "
            f"FROM '{self.data_dir}/orders.parquet'"
        ).fetchall():
            base[k] = [
                ("o", "custkey", 0, "i64", cust),
                ("o", "orderstatus", 0, "string", status),
                ("o", "totalprice", 0, "f64", price),
                ("o", "orderdate", 0, "i64", date_ms),
                ("o", "orderpriority", 0, "string", prio),
            ]
        con.close()
        self.model = opslib.CellModel(base)
        self.hot = opslib.hot_keys(self.seed, [int(k) for k in keys])

        self.start_session()
        loads = []
        tables = []
        for i in range(BULK_LOADS):
            t = time.perf_counter()
            tables.append(self.load_base(i))
            loads.append(time.perf_counter() - t)
        self.setup["store.bulk_load_s"] = statistics.median(loads)
        self.extra["bulk_loads_s"] = loads

        # warm every op path on a throwaway copy, so the workload's store
        # sees only the timed ops
        t = time.perf_counter()
        self.table = tables[0]
        for kind in READ_OPS:
            self._run_read({"spec": opslib.warmup_op(kind, self.key_space), "traced": False})
        if self.workload == "kv_mixed":
            self.table.write(opslib.write_batch(self.seed, -1, self.hot))
        self.setup["session.warmup_s"] = time.perf_counter() - t
        self.table = tables[-1]
        for i in range(BULK_LOADS - 1):
            shutil.rmtree(tables[i].store.path)

    # -- workloads ---------------------------------------------------------

    def loop_kv_read(self):
        stream = opslib.ReadOps(self.seed, self.key_space)
        deadline = time.perf_counter() + self.seconds
        t0 = time.perf_counter()
        while time.perf_counter() < deadline:
            self.read(stream.next())
        self.loop_s = time.perf_counter() - t0

    def loop_kv_mixed(self):
        from smoltable_spark import ColumnFilter
        from smoltable_spark.jobs.workers import gc_worker, tiered_compaction_worker

        stream = opslib.MixedOps(self.seed, self.key_space, self.hot)
        store = self.table.store
        t0 = time.perf_counter()
        for _ in range(stats.units_for(self.seconds, KV_CYCLE_SECONDS)):
            for op in stream.cycle():
                kind = op["op"]
                if kind == "write":
                    op = dict(op, items=opslib.write_batch(self.seed, op["batch"], self.hot))
                    items = op["items"]
                    self.mutate(op, lambda: self.table.write(items))
                elif kind == "compact_worker":
                    self.mutate(op, lambda: self._span(
                        "workers.tiered_compaction", "workers", tiered_compaction_worker, store,
                        l0_threshold=opslib.L0_THRESHOLD, minor_fanin=opslib.MINOR_FANIN,
                    ))
                elif kind == "delete":
                    key = op["key"]
                    self.mutate(op, lambda: self.table.delete_row(key, ColumnFilter.key(opslib.WRITE_FAMILY)))
                elif kind == "gc":
                    self.mutate(op, lambda: self._span(
                        "workers.gc", "workers", gc_worker, store, now_nanos=GC_NOW_NANOS
                    ))
                else:
                    self.read(op)
        self.loop_s = time.perf_counter() - t0

    def _span(self, name, layer, fn, *args, **kwargs):
        with self.tracer.span(name, layer):
            return fn(*args, **kwargs)

    def setup_analytics(self):
        import __spark_entry__ as entry

        self.data_dir = os.path.join(self.work, "data")
        counts = write_analytics_tables(self.seed, self.data_dir, ANALYTICS_SF)
        self.data_desc = f"analytics sf={ANALYTICS_SF} orders={counts['orders']} lineitem~{counts['lineitem'] // 1000}k"
        registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.queries = {n: registry[n] for n in ANALYTICS_QUERIES}
        self.start_session()
        self.setup["store.bulk_load_s"] = 0.0

        # cold pass: each query's full result, checked against its oracle
        # after the pass (untimed)
        results = {}
        t_spark = 0.0
        for name in ANALYTICS_QUERIES:
            self.attempted += 1
            t = time.perf_counter()
            try:
                df = self.queries[name](self.spark, self.data_dir)
                rows = df.collect()
                results[name] = (df.columns, rows)
            except Exception as e:  # noqa: BLE001
                self.failures.append(f"{name} (check pass): {type(e).__name__}: {e}"[:400])
            t_spark += time.perf_counter() - t
        self.expected_rows = self._check_oracles(results)
        # one untimed pass of the timed form (count), so the timed passes
        # start warm
        t = time.perf_counter()
        for name in ANALYTICS_QUERIES:
            self._record({"op": "query", "query": name}, self._run_query, traced=False)
        self.warm_records, self.records = self.records, []
        self.setup["session.warmup_s"] = t_spark + time.perf_counter() - t

    def _check_oracles(self, results: dict) -> dict[str, int]:
        import duckdb

        con = duckdb.connect()
        for tname in ANALYTICS_TABLES:
            con.sql(f"CREATE VIEW {tname} AS SELECT * FROM '{self.data_dir}/{tname}.parquet'")
        expected = {}
        for name, (cols, rows) in results.items():
            try:
                rel = con.sql(self.oracles[name])
                want = rel.fetchall()
            except duckdb.Error as e:
                self.failures.append(f"{name}: oracle failed: {e}"[:400])
                continue
            expected[name] = len(want)
            problem = opslib.compare_result(cols, rows, rel.columns, want)
            if problem:
                self.failures.append(f"{name}: result differs from oracle: {problem}"[:400])
        con.close()
        return expected

    def _run_query(self, rec: dict):
        name = rec["spec"]["query"]
        tr = self.tracer
        with tr.span("build", "registry"):
            df = self.queries[name](self.spark, self.data_dir).groupBy().count()
        if rec["traced"]:
            with tr.span("plan", "catalyst"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec", "spark"):
            n = df.collect()[0][0]
        self._plan_stats(rec, df)
        return n

    def loop_analytics(self):
        t0 = time.perf_counter()
        self.pass_s = []
        for _ in range(stats.units_for(self.seconds, ANALYTICS_PASS_SECONDS)):
            tp = time.perf_counter()
            for name in ANALYTICS_QUERIES:
                self._record({"op": "query", "query": name}, self._run_query)
            self.pass_s.append(time.perf_counter() - tp)
        self.loop_s = time.perf_counter() - t0

    # -- checks ----------------------------------------------------------------

    def check(self):
        """Compare every op's output with the model's expectation."""
        model = getattr(self, "model", None)
        for rec in getattr(self, "warm_records", []) + self.records:
            rec["ok"] = False
            if "error" in rec:
                continue
            kind, out, spec = rec["op"], rec["out"], rec["spec"]
            if kind == "query":
                want = self.expected_rows.get(spec["query"])
                rec["ok"] = out == want
                problem = f"count {out} != oracle rows {want}"
            elif kind in READ_OPS:
                want = model.expect(spec)
                got = (out[0]["row_count"], out[0]["cell_count"]) if kind == "count" else opslib.normalize_rows(out)
                rec["rows_returned"] = 1 if kind == "count" else len(out)
                rec["ok"] = got == want
                problem = f"got {str(got)[:150]} want {str(want)[:150]}"
            elif kind == "write":
                rec["cells"] = model.apply_write(spec["items"])
                rec["logical_bytes"] = opslib.batch_logical_bytes(spec["items"])
                rec["ok"] = True
                continue
            elif kind == "delete":
                want = model.apply_delete(spec["key"])
                rec["ok"] = out == want
                problem = f"deleted {out} != {want}"
            elif kind == "gc":
                want = model.apply_gc()
                rec["ok"] = out == want
                problem = f"gc deleted {out} != {want}"
            else:  # compaction worker: checked by every later read
                rec["ok"] = True
                continue
            if not rec["ok"]:
                self.failures.append(f"{kind} {json.dumps(spec)[:120]}: {problem}")
        if model is not None:
            # the whole table once more, untimed: row and cell totals
            self.attempted += 1
            want = (len(model.keys), model.live_cells())
            try:
                got = tuple(self.table.count().collect()[0])
            except Exception as e:  # noqa: BLE001 - a failed check is counted
                got = f"{type(e).__name__}: {e}"[:300]
            if got != want:
                self.failures.append(f"final count {got} != {want}")
            self.extra["space_amp"] = self.table.disk_space_usage() / model.logical_bytes()

    # -- metrics -------------------------------------------------------------

    def end_to_end(self) -> dict:
        fg = [r for r in self.records if r["op"] not in ("compact_worker", "gc")]
        setup_s = sum(self.setup.get(k, 0.0) for k in ("session.start_s", "session.warmup_s", "store.bulk_load_s"))
        return {
            "setup_s": setup_s,
            "ops_per_s": len(fg) / self.loop_s,
            "op_p50_ms": _median([r["lat"] * 1000 for r in fg]),
        }

    def report_lines(self) -> list[str]:
        """Every per-operation metric that applies to this workload, with
        unit and sample count."""
        recs = self.records

        def lat(kinds):
            return [r["lat"] * 1000 for r in recs if r["op"] in kinds]

        lines = [
            f"  peak_rss_mb: {self.peak_rss_mb:.1f} MB (driver JVM + Python)",
            f"  cpu_steal_pct: {self.steal_pct:.1f} % of machine CPU time taken by the host during the timed loop",
            "  setup parts: " + ", ".join(f"{k}={v:.3f} s" for k, v in sorted(self.setup.items())),
            "  bulk loads: " + ", ".join(f"{x:.3f}" for x in self.extra.get("bulk_loads_s", ())) + " s",
            "  phases: " + ", ".join(f"{k}={v:.1f} s" for k, v in self.phases.items()),
        ]

        def summary(name, xs, unit):
            s = stats.summarize(xs)
            if not xs:
                return
            tail = f", p{s['tail_pct']:g}={s['tail']:.1f}" if "tail" in s else ", no tail (<10 samples beyond p75)"
            lines.append(f"  {name}: p50={s['p50']:.1f} {unit}{tail} (n={s['n']})")

        summary("get (get_row, multi_get)", lat(POINT_OPS), "ms")
        summary("scan (prefix, range, scan_count)", lat(("prefix", "range", "count")), "ms")
        summary("write", lat(("write",)), "ms")
        summary("delete_row", lat(("delete",)), "ms")
        summary("compaction worker", lat(("compact_worker",)), "ms")
        summary("gc worker", lat(("gc",)), "ms")
        for kind in READ_OPS:
            summary(f"  {kind}", lat((kind,)), "ms")
        writes = [r for r in recs if r["op"] == "write" and "error" not in r]
        if writes:
            cells = sum(r.get("cells", 0) for r in writes)
            lines.append(f"  write_cells_per_s: {cells / sum(r['lat'] for r in writes):.0f} cells/s")
        maint = [
            r for r in recs
            if (r["op"] == "compact_worker" and r.get("out")) or r["op"] == "gc"
        ]
        if self.workload == "kv_mixed":
            lines.append(f"  maintenance_s: {sum(r['lat'] for r in maint):.3f} s (n={len(maint)})")
        if "space_amp" in self.extra:
            lines.append(f"  space_amp: {self.extra['space_amp']:.3f} ratio")
        if self.workload == "analytics":
            lines.append(
                f"  query_total_s: {_median(self.pass_s):.3f} s (median of n={len(self.pass_s)} passes)"
            )
            summary("query (per query)", [x / 1000 for x in lat(("query",))], "s")
            for name in ANALYTICS_QUERIES:
                summary(f"  {name}", [r["lat"] * 1000 for r in recs if r["spec"].get("query") == name], "ms")
        return lines

    def per_layer(self) -> dict:
        recs = [r for r in self.records if r["traced"]]
        spans = self.tracer.spans
        selft = tracelib.self_times(spans)
        by_root: dict[int, list] = {}
        for s in spans:
            by_root.setdefault(s.root, []).append(s)
        events = tracelib.read_event_log(self.event_dir)

        def spans_named(name, kinds=None):
            return [
                s for r in recs if "root" in r and (kinds is None or r["op"] in kinds)
                for s in by_root.get(r["root"], ()) if s.name == name
            ]

        def ms(ss):
            return _median([s.duration * 1000 for s in ss])

        def self_ms(ss):
            return _median([selft[s.id] * 1000 for s in ss])

        reads = [r for r in recs if r["op"] in READ_OPS or r["op"] == "query"]
        writes = [r for r in recs if r["op"] == "write"]
        mutations = [r for r in recs if "bytes_written" in r]
        workers = [r for r in recs if r["op"] in ("compact_worker", "gc")]
        m: dict[str, float] = dict(self.setup)

        m["table.build_ms.get"] = self_ms(
            [s for k in ("table.get_row", "table.multi_get") for s in spans_named(k)]
        )
        m["table.build_ms.scan"] = self_ms(spans_named("table.scan") + spans_named("table.scan_count"))
        m["table.build_ms.write"] = self_ms(spans_named("table.write"))
        m["table.build_ms.delete"] = self_ms(spans_named("table.delete_row"))
        m["registry.build_ms"] = ms(spans_named("build", ("query",)))
        m["catalyst.plan_nodes"] = _mean([r["plan_nodes"] for r in reads if "plan_nodes" in r])
        m["store.open_ms"] = ms(spans_named("store.open"))
        m["store.legs_per_read"] = _mean([r["file_scans"] for r in reads if "file_scans" in r and r["op"] != "query"])
        rows_read = sum(
            t["records_read"] for r in reads if r["op"] != "query"
            for t in events.get(r["group"], {}).get("tasks", ())
        )
        rows_out = sum(r.get("rows_returned", 0) for r in reads)
        m["store.rows_read_per_row_returned"] = rows_read / rows_out if rows_out else 0.0
        m["catalyst.plan_ms"] = ms(spans_named("plan"))
        m["catalyst.exchanges"] = _mean([r["exchanges"] for r in reads if "exchanges" in r])
        m["spark.exec_ms"] = ms(spans_named("exec"))
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}"] = _mean([r[k] for r in recs])

        gaps, run, gc, sread, swrite, spill, skews = [], [], [], [], [], [], []
        for r in recs:
            ev = events.get(r["group"], {"jobs": [], "tasks": []})
            root = spans[r["root"]]
            covered = tracelib.union_length(
                [(max(a, root.start), min(b, root.end)) for a, b in ev["jobs"]]
            )
            gaps.append((root.duration - covered) * 1000)
            tasks = ev["tasks"]
            run.append(sum(t["run_ms"] for t in tasks))
            gc.append(sum(t["gc_ms"] for t in tasks))
            sread.append(sum(t["shuffle_read"] for t in tasks))
            swrite.append(sum(t["shuffle_write"] for t in tasks))
            spill.append(sum(t["spill"] for t in tasks))
            by_stage: dict[int, list[int]] = {}
            for t in tasks:
                by_stage.setdefault(t["stage"], []).append(t["duration_ms"])
            for ds in by_stage.values():
                if len(ds) >= 2 and statistics.median(ds) > 0:
                    skews.append(max(ds) / statistics.median(ds))
        m["spark.job_gap_ms"] = _median(gaps)
        m["spark.task_run_ms"] = _mean(run)
        m["spark.task_gc_ms"] = _mean(gc)
        m["spark.shuffle_read_bytes"] = _mean(sread)
        m["spark.shuffle_write_bytes"] = _mean(swrite)
        m["spark.spill_bytes"] = _mean(spill)
        m["spark.task_skew"] = _median(skews)

        m["writer.rows_to_cells_ms"] = ms(spans_named("writer.rows_to_cells"))
        m["store.append_ms"] = ms(spans_named("store.append"))
        commits = [
            sum(
                1 for s in by_root.get(r["root"], ())
                if s.layer == "store_fs"
                and s.attrs.get("kind") in ("replace_text", "create_exclusive", "write_text")
                and os.path.basename(s.attrs.get("path") or "").startswith("_VERSION")
            )
            for r in writes
        ]
        m["store.commits"] = _mean(commits)
        m["store.files_written"] = _mean([r["files_written"] for r in writes])
        m["store.bytes_written"] = _mean([r["bytes_written"] for r in writes])
        logical = sum(r.get("logical_bytes", 0) for r in writes)
        m["store.write_amp"] = sum(r["bytes_written"] for r in mutations) / logical if logical else 0.0
        m["store.delete_ms"] = ms(spans_named("table.delete_row"))
        m["store.delete_bytes_rewritten"] = _mean([r["bytes_written"] for r in recs if r["op"] == "delete"])

        def kind_of(r):
            out = r.get("out")
            return out[0] if isinstance(out, tuple) else None

        for kind in ("minor", "major"):
            sel = [r for r in recs if r["op"] == "compact_worker" and kind_of(r) == kind]
            m[f"workers.{kind}_ms"] = _median([r["lat"] * 1000 for r in sel])
            m[f"workers.{kind}_count"] = float(len(sel))
        gcs = [r for r in recs if r["op"] == "gc"]
        m["workers.gc_ms"] = _median([r["lat"] * 1000 for r in gcs])
        m["workers.gc_deleted_cells"] = float(sum(r["out"] for r in gcs if isinstance(r.get("out"), int)))
        m["workers.bytes_rewritten"] = float(sum(r.get("bytes_written", 0) for r in workers))

        fs_calls = {k: 0 for k in STORE_FS_KINDS}
        fs_ms = {k: 0.0 for k in STORE_FS_KINDS}
        for s in spans:
            k = s.attrs.get("kind")
            if s.layer == "store_fs" and k in fs_calls:
                fs_calls[k] += 1
                fs_ms[k] += s.duration * 1000
        n = max(1, len(recs))
        for k in STORE_FS_KINDS:
            m[f"store_fs.calls.{k}"] = fs_calls[k] / n
            m[f"store_fs.ms.{k}"] = fs_ms[k] / n

        failed = {layer: 0 for layer in LAYERS}
        for s in spans:
            if s.error and s.layer in failed:
                failed[s.layer] += 1
        failed["check"] = sum(1 for r in self.records if not r.get("ok") and "error" not in r)
        for layer, v in failed.items():
            m[f"{layer}.failed"] = float(v)

        m["trace.overhead_ms"] = _median([r["bookkeeping"] * 1000 for r in recs])
        m["trace.unaccounted_ms"] = _median([selft[r["root"]] * 1000 for r in reads if "root" in r])
        return m

    # -- the run ----------------------------------------------------------------

    def run(self) -> dict:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "scratch", "spark-local"):
            os.makedirs(os.path.join(self.work, d))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(self.work, "scratch")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

        uninstall = tracelib.instrument(self.tracer) if self.traced else None
        self.phases: dict[str, float] = {}
        t = time.perf_counter()

        def phase(name):
            nonlocal t
            now = time.perf_counter()
            self.phases[name] = now - t
            t = now

        try:
            if self.workload == "analytics":
                self.setup_analytics()
            else:
                self.setup_kv()
            phase("setup")
            steal0, total0 = _cpu_ticks()
            getattr(self, f"loop_{self.workload}")()
            steal1, total1 = _cpu_ticks()
            self.steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
            phase("loop")
            self.check()
            self.peak_rss_mb = _peak_rss_mb(self.spark)
            cfg = self.config()
            phase("check")
        finally:
            if getattr(self, "spark", None) is not None:
                self.spark.stop()
                _stop_jvm()
            if uninstall:
                uninstall()
        phase("stop")
        failed = len(self.failures)
        result = {"config": cfg, "end_to_end": self.end_to_end(), "report": self.report_lines()}
        if self.traced:
            result["per_layer"] = self.per_layer()
            self.tracer.dump(os.path.join(self.work, "spans.jsonl"))
        result["attempted"] = self.attempted
        result["failed"] = failed
        result["failures"] = self.failures[:20]
        return result


def emit(result: dict, traced: bool) -> None:
    cfg = result["config"]
    print(f"perfbench {cfg['workload']} seed={cfg['seed']} trace={cfg['trace']}")
    print("config: " + json.dumps(cfg, sort_keys=True))
    print(f"attempted={result['attempted']} failed={result['failed']}")
    for f in result["failures"]:
        print(f"  FAILED {f}")
    print("end-to-end" + (" (traced: ops include span recording; event log on)" if traced else "") + ":")
    units = dict(END_TO_END)
    for name, value in result["end_to_end"].items():
        print(f"  {name}: {value:.4f} {units[name]}")
    print("per-operation detail:")
    for line in result["report"]:
        print(line)
    metrics_spec = PER_LAYER if traced else END_TO_END
    source = result["per_layer"] if traced else result["end_to_end"]
    if traced:
        print("per-layer (traced ops):")
        for name, unit in PER_LAYER:
            print(f"  {name}: {source[name]:.4f} {unit}")
    out_dir = os.path.join(HERE, ".work", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{cfg['workload']}-seed{cfg['seed']}-trace{cfg['trace']}.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {n: {"value": source[n], "unit": u} for n, u in metrics_spec},
            }
        )
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # the engine is imported from the checkout this script lives in; a
    # directory holding only the benchmark has none, and the run fails here
    sys.path.insert(0, ROOT)
    import smoltable_spark  # noqa: F401

    try:
        result = Run(args).run()
    except Exception:
        traceback.print_exc()
        return 1
    emit(result, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
