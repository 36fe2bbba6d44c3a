"""One run of one workload, in a process of its own.

Started by ``perfbench/run.py``, which leads this process's session, enforces
the deadline and prints the result line. This process writes its result
(and, when traced, its spans) as JSON to the paths it is given.

Phases: Spark session start, workload set-up (table attach, engine open,
bulk load, one warm-up pass that also checks every op's output), then the
timed window: a fixed number of whole passes sized to ``--seconds``, so
every run measures the same ops; with ``--trace 1`` untraced and traced
passes alternate.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402
from tracing import ProcTree, Tracer, host_steal, job_counts, make_stream_log, self_times  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
QUIESCE_S = 1.5
SPAN_LAYERS = ("bench", "session", "sources", "engine", "operators", "exec", "sqlparse")

# name -> unit; the order is the order of BENCHMARK.json's per_layer list
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.attach_s": "s",
    "engine.open_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_share": "ratio",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.single_task_stages": "count",
    "exec.jvm_cpu_s": "s",
    "exec.jit_cpu_s": "s",
    "pyworker.cpu_s": "s",
    "driver.cpu_s": "s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_mem_bytes": "B",
    "sqlparse.parse_s": "s",
    **{f"engine.stmt_s.{k}": "s" for k in W.KINDS},
    **{f"engine.stmt_jobs.{k}": "count" for k in W.KINDS},
    "engine.plan_s": "s",
    "engine.collect_s": "s",
    "engine.probe_files_given": "count",
    "engine.probe_files_read": "count",
    "engine.prune_ratio": "ratio",
    "storage.data_files": "count",
    "storage.disk_bytes": "B",
    "storage.files_added_per_write": "count",
    "storage.files_removed_per_write": "count",
    "storage.write_amp": "ratio",
    "storage.bytes_per_row": "B",
    "client.op_p50_s": "s",
    "client.op_p90_s": "s",
    "client.read_p50_s": "s",
    "client.read_p90_s": "s",
    "client.write_p50_s": "s",
    "client.write_p90_s": "s",
    "client.failed_ratio": "ratio",
    **{f"client.class_p50_s.{c}": "s" for c in W.BENCH_CLASSES},
    "trace.untraced_ops_per_s": "1/s",
    "trace.traced_ops_per_s": "1/s",
    "trace.overhead_ops_per_s": "1/s",
    **{f"{layer}.self_s": "s" for layer in SPAN_LAYERS},
}

# name -> unit of every run-level metric: the table run.py prints
# (n/a where a workload has no such op), of which END_TO_END is the
# JSON result of an untraced run
SUMMARY = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "read_p50_s": "s",
    "read_p90_s": "s",
    "write_p50_s": "s",
    "write_p90_s": "s",
    "failed_ratio": "ratio",
    "ok_ratio": "ratio",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MiB",
    "disk_bytes_per_row": "B",
}
END_TO_END = {k: SUMMARY[k] for k in ("setup_s", "cpu_s_per_op", "peak_rss_mb", "ok_ratio")}


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Run:
    """State shared by the phases of one run."""

    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.proc = ProcTree()
        self.attempted = 0
        self.failures: list[str] = []
        self.harness_s = 0.0  # benchmark-side checking, kept out of setup_s
        self.spark = None
        self.stream_log = None
        self._seq = 0
        self.op_names: dict[str, str] = {}

    def next_op(self, phase: str) -> str:
        self._seq += 1
        op = f"{phase}{self._seq}"
        self.tracer.op = op
        return op

    def group(self, name: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(name, name)

    def fail(self, op: str, why: str) -> None:
        self.failures.append(f"{op}: {why}")


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------


class RegistryWorkload:
    # nominal seconds of one pass at the commit that added the benchmark
    pass_s = 5.0

    def __init__(self, run: Run):
        from tinysql_spark.operators import REGISTRY
        from tinysql_spark.operators.registry import bench_class

        self.bench_class = bench_class
        self.run = run
        self.registry = REGISTRY

    def setup(self) -> None:
        from tinysql_spark.sources.tables import TPCH_TABLES, load_table

        tr = self.run.tracer
        with tr.span("sources.attach"):
            for t in TPCH_TABLES:
                load_table(self.run.spark, DATA, t)
        with tr.span("session.warmup"):
            self.check_pass()

    def check_pass(self) -> None:
        """Warm-up pass that checks every op once: a hash compare with the
        entry's DuckDB oracle, or the committed row count for entries
        without one."""
        import duckdb

        from tests.parity import canonical_rows
        from tinysql_spark.operators.registry import render_oracle
        from tinysql_spark.sources.tables import TPCH_TABLES

        run, tr = self.run, self.run.tracer
        h0 = time.perf_counter()
        con = duckdb.connect()
        for t in TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
        with open(os.path.join(HERE, "expected_rows.json")) as f:
            expected_rows = json.load(f)
        run.harness_s += time.perf_counter() - h0
        for name in W.registry_order(run.args.seed, "check"):
            spec = self.registry[name]
            op = run.next_op("w")
            run.op_names[op] = name
            run.attempted += 1
            try:
                with tr.span("bench.op"):
                    with tr.span("operators.build"):
                        df = spec.fn(run.spark, DATA)
                    with tr.span("exec.run"):
                        got = df.toPandas()
            except Exception as e:  # an op that raises is a failed op
                run.fail(f"{op} {name}", f"raised {type(e).__name__}: {str(e)[:200]}")
                continue
            h0 = time.perf_counter()
            with tr.span("bench.check"):
                if spec.oracle:
                    want = con.execute(render_oracle(spec.oracle, DATA)).df()
                    ok = sorted(got.columns) == sorted(want.columns) and (
                        canonical_rows(got) == canonical_rows(want)
                    )
                    if not ok:
                        run.fail(f"{op} {name}", "result differs from its DuckDB oracle")
                elif len(got) != expected_rows[name]:
                    run.fail(f"{op} {name}", f"{len(got)} rows, expected {expected_rows[name]}")
            run.harness_s += time.perf_counter() - h0
        con.close()

    def passes(self):
        for p in itertools.count():
            yield W.registry_order(self.run.args.seed, p)

    def timed_op(self, name: str, rec: dict) -> None:
        run, tr = self.run, self.run.tracer
        fn = self.registry[name].fn
        rec["groups"] = [rec["op"] + ".b", rec["op"] + ".x"]
        t0 = time.perf_counter()
        with tr.span("bench.op"):
            run.group(rec["groups"][0])
            with tr.span("operators.build"):
                df = fn(run.spark, DATA)
            run.group(rec["groups"][1])
            with tr.span("exec.run"):
                df.write.mode("overwrite").format("noop").save()
        rec["lat"] = time.perf_counter() - t0
        rec["klass"] = "op"
        rec["bench_class"] = self.bench_class(name)

    def finish(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# sql_session
# ---------------------------------------------------------------------------


def _list_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class SqlSession:
    # nominal seconds of one cycle at the commit that added the benchmark
    pass_s = 18.0

    def __init__(self, run: Run):
        self.run = run
        self.warehouse = os.path.abspath("warehouse")
        self.eng = None

    def _engine(self):
        from tinysql_spark.engine import Engine

        os.makedirs(self.warehouse, exist_ok=True)
        with self.run.tracer.span("engine.open"):
            return Engine(self.run.spark, self.warehouse)

    def data_files(self) -> dict[str, int]:
        return {
            p: n
            for p, n in _list_files(self.eng.catalog.data_dir("default", W.TABLE)).items()
            if p.endswith(".parquet")
        }

    def setup(self) -> None:
        import pyarrow.parquet as pq

        run, tr = self.run, self.run.tracer
        self.eng = self._engine()
        with tr.span("sources.attach"):
            self.eng.attach_external("orders", os.path.join(DATA, "orders.parquet"))
        h0 = time.perf_counter()
        rows = pq.read_table(os.path.join(DATA, "orders.parquet"), columns=list(W.COLUMNS)).to_pylist()
        self.model = W.OrdersModel([tuple(r[c] for c in W.COLUMNS) for r in rows])
        self.stream = W.StatementStream(self.model, run.args.seed)
        run.harness_s += time.perf_counter() - h0
        with tr.span("session.warmup"):
            for kind, sql in (("create", W.CREATE), ("bulk_load", W.BULK_LOAD)):
                run.op_names[run.next_op("w")] = kind
                run.attempted += 1
                with tr.span("bench.op"):
                    self.eng.sql(sql)
            # one whole cycle, checked like the timed ones: after a single
            # statement of each kind the next cycle still ran 10-30% faster
            for kind, rng in self.stream.cycle("warm"):
                rec = {"op": run.next_op("w")}
                run.op_names[rec["op"]] = kind
                run.attempted += 1
                try:
                    self.timed_op((kind, rng), rec)
                except Exception as e:
                    run.fail(f"{rec['op']} {kind}", f"raised {type(e).__name__}: {str(e)[:200]}")

    def passes(self):
        for p in itertools.count():
            yield self.stream.cycle(p)

    def timed_op(self, item, rec: dict) -> None:
        from tinysql_spark import sqlparse as P

        kind, rng = item
        run, tr = self.run, self.run.tracer
        st = self.stream.make(kind, rng)
        rec.update(kind=kind, klass=st.klass, name=kind, groups=[rec["op"]])
        traced = tr.enabled
        if traced:
            with tr.span("sqlparse.parse"):
                for sql in st.sqls:
                    for s in P.split_statements(sql):
                        k = P.statement_kind(s)
                        if k in ("insert", "replace"):
                            P.parse_insert(s)
                        elif k == "delete":
                            P.parse_delete(s)
            if st.klass == "write":
                before = self.data_files()
                wchar0 = run.proc.jvm_wchar()
            last_probe = self.eng.probe_log[-1] if self.eng.probe_log else None
        rows = None
        run.group(rec["op"])
        t0 = time.perf_counter()
        with tr.span("bench.op"):
            with tr.span(f"engine.stmt.{kind}"):
                if kind == "reopen":
                    old, self.eng = self.eng, self._engine()
                    old.close()
                else:
                    try:
                        for sql in st.sqls:
                            with tr.span("engine.plan"):
                                res = self.eng.sql(sql)
                    except Exception:
                        if kind == "txn" and self.eng.txn is not None:
                            self.eng.sql("ROLLBACK")
                        raise
                    if st.klass == "read":
                        with tr.span("engine.collect"):
                            rows = [tuple(r) for r in res.df.collect()]
        rec["lat"] = time.perf_counter() - t0
        h0 = time.perf_counter()
        if st.klass == "read":
            want = st.expect()
            if not W.rows_match(rows, want):
                run.fail(f"{rec['op']} {kind}", f"{st.sqls[0]!r} returned {rows[:3]}, model has {want[:3]}")
        else:
            self.model.apply(st)
        if traced:
            probes = []
            for e in reversed(self.eng.probe_log):
                if e is last_probe:
                    break
                probes.append((e["files_given"], e["files_read"]))
            rec["probes"] = probes
            if st.klass == "write":
                after = self.data_files()
                rec["files_added"] = len(after.keys() - before.keys())
                rec["files_removed"] = len(before.keys() - after.keys())
                rec["wchar"] = run.proc.jvm_wchar() - wchar0
                rec["user_bytes"] = st.user_bytes
        run.harness_s += time.perf_counter() - h0

    def finish(self) -> dict:
        """Checksum the whole table against the model, then measure it."""
        run = self.run
        op = run.next_op("f")
        run.attempted += 1
        cols = ", ".join(W.COLUMNS)
        rows = [tuple(r) for r in self.eng.sql(f"SELECT {cols} FROM {W.TABLE}").df.collect()]
        want = list(self.model.rows.values())
        if not W.rows_match(rows, want):
            run.fail(f"{op} checksum", f"table has {len(rows)} rows differing from the model's {len(want)}")
        files = _list_files(self.warehouse)
        data = self.data_files()
        return {
            "storage.data_files": len(data),
            "storage.disk_bytes": sum(files.values()),
            "storage.bytes_per_row": sum(files.values()) / max(1, len(want)),
        }


# ---------------------------------------------------------------------------
# timed windows and metrics
# ---------------------------------------------------------------------------


def program_cpu(c: dict[str, float]) -> float:
    """CPU seconds of driver, JVM and Python workers, less the JVM's JIT
    compiler threads (see README.md, "CPU")."""
    return c["driver"] + c["jvm"] - c["jit"] + c["pyworker"]


def window_stats(records: list[dict], cpu_s: float, wall_s: float, passes: int, steal: float) -> dict:
    ok = [r for r in records if not r.get("failed")]
    lats = [r["lat"] for r in ok]
    by_class = defaultdict(list)
    for r in ok:
        by_class[r["klass"]].append(r["lat"])
        if "bench_class" in r:
            by_class[r["bench_class"]].append(r["lat"])
    return {
        "records": records,
        "passes": passes,
        "wall_s": wall_s,
        "steal": steal,
        "ops": len(ok),
        "ops_per_s": len(ok) / wall_s,
        "op_p50_s": median(lats),
        "op_p90_s": pct(lats, 0.9),
        "cpu_s_per_op": cpu_s / max(1, len(ok)),
        "read_p50_s": median(by_class["read"]),
        "read_p90_s": pct(by_class["read"], 0.9),
        "write_p50_s": median(by_class["write"]),
        "write_p90_s": pct(by_class["write"], 0.9),
        **{f"class_p50_s.{c}": median(by_class[c]) for c in W.BENCH_CLASSES},
    }


def quiesce(run: Run) -> None:
    """Start the timed window from a settled process: collect garbage in
    the JVM and here, then give the JIT's background compilations time
    to drain. Without it the first timed pass after warm-up ran up to 60%
    slower in some runs and not in others."""
    run.spark.sparkContext._jvm.System.gc()
    gc.collect()
    time.sleep(QUIESCE_S)


def run_window(run: Run, wl, seconds: float, modes: tuple[bool, ...]) -> dict[bool, dict]:
    """``round(seconds / wl.pass_s)`` whole passes per mode, pass p traced iff
    ``modes[p % len(modes)]``. Alternating traced and untraced passes
    gives both the same warmth, so their difference is the tracing
    overhead."""
    records = {m: [] for m in modes}
    cpu = dict.fromkeys(modes, 0.0)
    wall = dict.fromkeys(modes, 0.0)
    passes = dict.fromkeys(modes, 0)
    steal = {m: [0, 0] for m in modes}
    n_passes = max(1, round(seconds / wl.pass_s)) * len(modes)
    for p, items in zip(range(n_passes), wl.passes()):
        traced = modes[p % len(modes)]
        run.tracer.enabled = traced
        c0, t0, s0 = run.proc.cpu(), time.perf_counter(), host_steal()
        for item in items:
            rec = {"op": run.next_op("x" if traced else "t"), "name": item if isinstance(item, str) else item[0]}
            run.op_names[rec["op"]] = rec["name"]
            run.attempted += 1
            if traced:
                o0 = run.proc.cpu()
            # per-op latencies go to the run's log (.perfbench/<workload>-seed<n>.log)
            print(f"op {rec['op']} {rec['name']}", file=sys.stderr, flush=True)
            try:
                wl.timed_op(item, rec)
            except Exception as e:  # closed loop: record and go on
                run.fail(f"{rec['op']} {rec['name']}", f"raised {type(e).__name__}: {str(e)[:200]}")
                rec["failed"] = True
            print(f"op {rec['op']} done {rec.get('lat', -1):.3f}s", file=sys.stderr, flush=True)
            if traced:
                o1 = run.proc.cpu()
                rec["cpu"] = {k: o1[k] - o0[k] for k in o1}
            records[traced].append(rec)
        c1, s1 = run.proc.cpu(), host_steal()
        cpu[traced] += program_cpu(c1) - program_cpu(c0)
        steal[traced][0] += s1[0] - s0[0]
        steal[traced][1] += s1[1] - s0[1]
        wall[traced] += time.perf_counter() - t0
        passes[traced] += 1
    run.tracer.op = None
    run.tracer.enabled = bool(run.args.trace)
    return {m: window_stats(records[m], cpu[m], wall[m], passes[m], steal[m][0] / max(1, steal[m][1]))
            for m in modes}


def layer_metrics(run: Run, window: dict, untraced: dict, extra: dict) -> dict:
    spans = run.tracer.spans
    sc = run.spark.sparkContext
    recs = [r for r in window["records"] if not r.get("failed")]
    n = max(1, len(recs))
    ops = {r["op"] for r in recs}

    def dur(s):
        return s["end"] - s["start"]

    def spans_named(name):
        return [s for s in spans if s["name"] == name and s["op"] in ops]

    out = {k: 0.0 for k in PER_LAYER}
    setup = {s["name"]: dur(s) for s in spans if s["op"] is None}
    out["session.start_s"] = setup.get("session.start", 0.0)
    out["sources.attach_s"] = setup.get("sources.attach", 0.0)
    out["engine.open_s"] = setup.get("engine.open", 0.0)
    warm = [s for s in spans if s["name"] == "session.warmup"]
    checks = sum(dur(s) for s in spans if s["name"] == "bench.check")
    out["session.warmup_s"] = sum(map(dur, warm)) - checks

    build = sum(map(dur, spans_named("operators.build")))
    execd = sum(map(dur, spans_named("exec.run")))
    out["operators.build_s"] = build / n
    out["exec.run_s"] = execd / n
    out["operators.build_share"] = build / (build + execd) if build + execd else 0.0

    run.stream_log.settle()
    jobs = defaultdict(float)
    stmt_jobs = defaultdict(list)
    for r in recs:
        streams = run.stream_log.runs_of(r["op"])
        b = job_counts(sc, r["groups"][:1] + streams)
        x = job_counts(sc, r["groups"][1:]) if len(r["groups"]) > 1 else None
        if x is None:  # sql_session: one group per statement
            stmt_jobs[r["kind"]].append(b["jobs"])
            x, b = b, {k: 0 for k in b}
        else:
            jobs["build_jobs"] += b["jobs"]
        for k in b:
            jobs[k] += b[k] + x[k]
        for k in r["cpu"]:
            jobs["cpu_" + k] += r["cpu"][k]
    out["operators.build_jobs"] = jobs["build_jobs"] / n
    for k in ("jobs", "stages", "tasks", "failed_tasks", "single_task_stages"):
        out[f"exec.{k}"] = jobs[k] / n
    out["exec.jvm_cpu_s"] = (jobs["cpu_jvm"] - jobs["cpu_jit"]) / n
    out["exec.jit_cpu_s"] = jobs["cpu_jit"] / n
    out["pyworker.cpu_s"] = jobs["cpu_pyworker"] / n
    out["driver.cpu_s"] = jobs["cpu_driver"] / n

    log = run.stream_log
    with log.lock:
        runs = {rid for rid, op in log.op_of.items() if op in ops}
        prog = [p for p in log.progress if p["run"] in runs]
        drain = sum(log.ended.get(rid, log.started[rid]) - log.started[rid] for rid in runs)
    last = {}
    for p in prog:
        last[p["run"]] = p
    out["streaming.drain_s"] = drain / n
    out["streaming.batches"] = len(prog) / n
    out["streaming.input_rows"] = sum(p["rows"] for p in prog) / n
    out["streaming.batch_p50_ms"] = median(p["batch_ms"] for p in prog)
    out["streaming.add_batch_ms"] = median(p["durations"].get("addBatch", 0) for p in prog)
    out["streaming.wal_commit_ms"] = median(p["durations"].get("walCommit", 0) for p in prog)
    out["streaming.state_rows"] = sum(sum(s[0] for s in p["state"]) for p in last.values()) / n
    out["streaming.state_mem_bytes"] = sum(sum(s[1] for s in p["state"]) for p in last.values()) / n

    parse = spans_named("sqlparse.parse")
    out["sqlparse.parse_s"] = sum(map(dur, parse)) / len(parse) if parse else 0.0
    for kind in W.KINDS:
        out[f"engine.stmt_s.{kind}"] = median(map(dur, spans_named(f"engine.stmt.{kind}")))
        js = stmt_jobs.get(kind)
        out[f"engine.stmt_jobs.{kind}"] = sum(js) / len(js) if js else 0.0
    reads = {r["op"] for r in recs if r.get("klass") == "read" and "kind" in r}
    out["engine.plan_s"] = median(dur(s) for s in spans if s["name"] == "engine.plan" and s["op"] in reads)
    out["engine.collect_s"] = median(map(dur, spans_named("engine.collect")))
    probes = [p for r in recs for p in r.get("probes", ())]
    given = sum(p[0] for p in probes)
    read = sum(p[1] for p in probes)
    if probes:
        out["engine.probe_files_given"] = given / len(probes)
        out["engine.probe_files_read"] = read / len(probes)
        out["engine.prune_ratio"] = read / given if given else 0.0
    writes = [r for r in recs if "files_added" in r]
    if writes:
        out["storage.files_added_per_write"] = sum(r["files_added"] for r in writes) / len(writes)
        out["storage.files_removed_per_write"] = sum(r["files_removed"] for r in writes) / len(writes)
        ub = sum(r["user_bytes"] for r in writes)
        out["storage.write_amp"] = sum(r["wchar"] for r in writes) / ub if ub else 0.0
    out.update(extra)

    for k in ("op_p50_s", "op_p90_s", "read_p50_s", "read_p90_s", "write_p50_s", "write_p90_s"):
        out["client." + k] = untraced[k]
    for c in W.BENCH_CLASSES:
        out[f"client.class_p50_s.{c}"] = untraced[f"class_p50_s.{c}"]
    out["client.failed_ratio"] = len(run.failures) / max(1, run.attempted)
    out["trace.untraced_ops_per_s"] = untraced["ops_per_s"]
    out["trace.traced_ops_per_s"] = window["ops_per_s"]
    out["trace.overhead_ops_per_s"] = window["ops_per_s"] - untraced["ops_per_s"]
    selfs = self_times(spans)
    for layer in SPAN_LAYERS:
        out[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    if out.keys() != PER_LAYER.keys():
        raise ValueError(f"per-layer names drifted: {sorted(out.keys() ^ PER_LAYER.keys())}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    from tinysql_spark.session import get_spark

    run = Run(args)
    tr = run.tracer
    work = os.getcwd()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed set of JIT compiler threads, none of which exits, so that
        # ProcTree.jit_cpu sees all their CPU
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
    }
    if args.trace:  # keep every job of the run in the status store for the traced counts
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    with tr.span("bench.run", start=T0):
        with tr.span("session.start"):
            run.spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=args.cpus, extra_conf=conf)
        run.spark.sparkContext.setLogLevel("ERROR")
        if tr.enabled:
            run.stream_log = make_stream_log(tr)
            run.spark.streams.addListener(run.stream_log)
        wl = SqlSession(run) if args.workload == "sql_session" else RegistryWorkload(run)
        wl.setup()
        setup_s = time.perf_counter() - T0 - run.harness_s
        quiesce(run)

        windows = run_window(run, wl, args.seconds, (False, True) if args.trace else (False,))
        untraced = windows[False]
        peak = run.proc.peak_rss_mib()
        extra = wl.finish()
    layers = layer_metrics(run, windows[True], untraced, extra) if args.trace else None

    failed = len(run.failures)
    summary = {
        "setup_s": setup_s,
        **{k: untraced[k] for k in ("ops_per_s", "op_p50_s", "op_p90_s", "read_p50_s", "read_p90_s",
                                    "write_p50_s", "write_p90_s", "cpu_s_per_op")},
        "failed_ratio": failed / max(1, run.attempted),
        "ok_ratio": 1.0 - failed / max(1, run.attempted),
        "peak_rss_mb": peak,
        "disk_bytes_per_row": extra.get("storage.bytes_per_row"),
    }
    info = {"ops": untraced["ops"], "passes": untraced["passes"], "window_s": round(untraced["wall_s"], 3),
            "harness_s": round(run.harness_s, 3), "host_steal": round(untraced["steal"], 4)}
    out = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "failures": run.failures,
        "end_to_end": {k: summary[k] for k in END_TO_END},
        "summary": summary,
        "info": info,
        "per_layer": layers,
    }
    with open(args.result, "w") as f:
        json.dump(out, f)
    if args.trace:
        with open(args.spans, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "ops": run.op_names, "spans": tr.spans,
                       "self_s": self_times(tr.spans)}, f)
    return 0


if __name__ == "__main__":
    # Exit without stopping Spark: run.py kills and waits out this
    # session (the JVM and its Python workers) once this exits.
    try:
        code = main()
    except Exception:
        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
