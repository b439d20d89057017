"""witdb_spark benchmark: closed-loop workloads through the public entry
points, with outputs checked against DuckDB.

Run from the repository root:

    python3 perfbench/run.py --workload sql_plan --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
stream with spans around each call into a layer plus status-store and
plan-metric reads after each operation, and prints the per-layer metrics.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
An earlier stdout line carries the full detail (failed_frac, p90 with its
sample count, executor CPU, and the layer totals). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

T_PROCESS = time.perf_counter()
ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
#: measured passes at the least: exec_mix's latency median is taken over
#: 12 operations a pass in four latency clusters, so it gets a third pass
MIN_PASSES = {"sql_plan": 2, "exec_mix": 3}
RUN_DEADLINE_S = 170
MAX_CORES = 4


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            full = os.path.join(dirpath, n)
            out[full] = os.path.getsize(full)
    return out


class Tracer:
    """Spans around the calls into the package's layers, recorded from the
    benchmark side by wrapping ``Engine.sql`` and the ``transpile`` the
    engine calls. Nested calls count once, at the outermost level."""

    def __init__(self):
        self.engine_s = self.transpile_s = 0.0
        self.text_chars = 0
        self._depth = {"engine": 0, "transpile": 0}

    def reset(self) -> None:
        self.engine_s = self.transpile_s = 0.0
        self.text_chars = 0

    def _wrap(self, fn, key: str):
        tracer = self

        def wrapped(*args, **kwargs):
            if tracer._depth[key]:
                return fn(*args, **kwargs)
            tracer._depth[key] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                tracer._depth[key] -= 1
                if key == "engine":
                    tracer.engine_s += dt
                else:
                    tracer.transpile_s += dt
                    text = args[0] if args else kwargs.get("sql", "")
                    tracer.text_chars += len(text)

        return wrapped

    def install(self) -> None:
        import witdb_spark.engine as engine_mod

        engine_mod.Engine.sql = self._wrap(engine_mod.Engine.sql, "engine")
        engine_mod.transpile = self._wrap(engine_mod.transpile, "transpile")


class Bench:
    def __init__(self, args, run_dir: str, data_root: str):
        from perfbench.workloads import EXEC_MIX, SQL_PLAN

        self.workload = args.workload
        self.run_dir = run_dir
        self.cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
        self.is_plan = args.workload == SQL_PLAN
        self.is_mix = args.workload == EXEC_MIX
        from perfbench import datagen

        t0 = time.perf_counter()
        self.sf_dir = datagen.ensure(data_root, 0.1)
        self.lake_src = os.path.join(datagen.ensure(data_root, 0.01), "orders.parquet")
        self.datagen_s = time.perf_counter() - t0  # a build step, not set-up
        self.tracer = Tracer() if args.trace else None
        self.spark = None
        self.engine = None
        self.tables: dict[str, str] = {}
        self.serial = 0
        self.failures: list[str] = []
        self.attempted = 0
        self.last_rows: dict[str, tuple[list[str], list]] = {}
        self.writes: list[tuple[int, object]] = []  # (serial, op) in order
        self.write_bytes: dict[int, int] = {}

    # ---- set-up -------------------------------------------------------
    def _conf(self) -> dict[str, str]:
        jtmp = os.path.join(self.run_dir, "jtmp")
        os.makedirs(jtmp, exist_ok=True)
        return {
            "spark.ui.showConsoleProgress": "false",
            # the stage ledger must outlive the run: a stage evicted from
            # the status store would silently drop out of the totals
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={self.run_dir}/derby"
                f" -Djava.io.tmpdir={jtmp}"
            ),
        }

    def start_session(self) -> dict[str, float]:
        """Start the session, register the catalog views, build the Engine;
        returns the seconds of each step."""
        from witdb_spark.catalog import Tables
        from witdb_spark.engine import Engine
        from witdb_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app="witdb-perfbench", cpus=self.cores, extra=self._conf()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        Tables(self.spark, self.sf_dir).register_views()
        t2 = time.perf_counter()
        self.engine = Engine(self.spark, sf_dir=self.sf_dir)
        t3 = time.perf_counter()
        return {
            "session": t1 - t0,
            "catalog": t2 - t1,
            "engine": t3 - t2,
        }

    def make_fixtures(self) -> float:
        """exec_mix's lakehouse tables: a Delta and an Iceberg path table,
        each a CTAS of the sf0.01 orders rows (stored in key order) cut into
        files of SLOT consecutive keys, so a write on one slot rewrites one
        file. Returns the seconds taken."""
        from perfbench.workloads import SLOT

        t0 = time.perf_counter()
        if self.is_mix:
            self.spark.read.parquet(self.lake_src).createOrReplaceTempView("lake_src")
            self.spark.conf.set("spark.sql.files.maxRecordsPerFile", str(SLOT))
            try:
                for fmt in ("delta", "iceberg"):
                    path = os.path.join(self.run_dir, "lake", fmt)
                    self.engine.sql(
                        f"CREATE TABLE {fmt}.'{path}' AS SELECT * FROM lake_src"
                    ).collect()
                    self.tables[fmt] = path
            finally:
                self.spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        return time.perf_counter() - t0

    # ---- one operation ------------------------------------------------
    def run_op(self, op, texts: dict[str, str], traced: bool) -> dict | None:
        """Run one op; returns its record, or None when it raised."""
        from witdb_spark.queries import QUERIES

        sc = self.spark.sparkContext
        self.serial += 1
        self.attempted += 1
        tag_b, tag_r = f"pb{self.serial}b", f"pb{self.serial}r"
        tr = self.tracer
        if tr is not None:
            tr.reset()
        before = None
        if traced and op.kind == "write":
            before = _dir_files(self.tables[op.fmt])
        rec = {"name": op.name, "kind": op.kind}
        df = None
        # wall runs from the first to the last line of the op; the layer
        # spans are timed around each call alone, so the job-tag calls and
        # the glue between the calls stay unattributed
        try:
            t0 = time.perf_counter()
            sc.addJobTag(tag_b)
            try:
                s0 = time.perf_counter()
                if op.kind == "plan":
                    df = self.engine.sql(texts[op.name])
                elif op.kind == "query":
                    df = QUERIES[op.name].fn(self.spark, self.sf_dir)
                else:
                    ref = f"{op.fmt}.'{self.tables[op.fmt]}'"
                    df = self.engine.sql(op.sql.format(table=ref))
                s1 = time.perf_counter()
            finally:
                sc.removeJobTag(tag_b)
            sc.addJobTag(tag_r)
            try:
                s2 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                s3 = time.perf_counter()
                if op.kind == "plan":
                    result = (list(df.columns), None)
                else:
                    result = (list(df.columns), df.collect())
                s4 = time.perf_counter()
            finally:
                sc.removeJobTag(tag_r)
            t_end = time.perf_counter()
        except Exception:  # an op boundary: record, report, keep the loop going
            self.failures.append(f"{op.kind} {op.name}: {traceback.format_exc()}")
            print(self.failures[-1], file=sys.stderr)
            return None
        rec.update(
            wall=t_end - t0, build=s1 - s0, plan=s3 - s2, exec=s4 - s3,
            tags=(tag_b, tag_r),
        )
        if op.kind in ("plan", "query"):
            self.last_rows[op.name] = result
        if op.kind == "write":
            self.writes.append((self.serial, op))
        if traced:
            self._trace_op(rec, op, df, before)
        return rec

    def _trace_op(self, rec, op, df, before) -> None:
        from perfbench import ledger

        tr = self.tracer
        rec["transpile"] = tr.transpile_s
        rec["text_chars"] = tr.text_chars
        engine_self = max(tr.engine_s - tr.transpile_s, 0.0)
        if op.kind == "write":
            rec["analyze"], rec["write"] = 0.0, engine_self
        else:
            rec["analyze"], rec["write"] = engine_self, 0.0
        # the DataFrame build of a registered query, outside the engine
        # front door it may call; plan and lake ops build through
        # Engine.sql alone, so their build layer is the traced Engine.sql
        # span and the benchmark's glue around it is left out
        rec["build_self"] = (
            max(rec["build"] - tr.engine_s, 0.0) if op.kind == "query" else 0.0
        )
        covered = (
            rec["build_self"] + rec["transpile"] + rec["analyze"]
            + rec["write"] + rec["plan"] + rec["exec"]
        )
        rec["coverage"] = covered / rec["wall"]
        self.read_ledger(rec)
        rec["planm"] = (
            ledger.plan_totals(df._jdf)
            if op.kind in ("query", "read")
            else dict.fromkeys(ledger.PLAN_FIELDS, 0.0)
        )
        if before is not None:
            after = _dir_files(self.tables[op.fmt])
            self.write_bytes[self.serial] = sum(
                size for f, size in after.items()
                if f not in before and f.endswith(".parquet")
            )

    def read_ledger(self, rec: dict) -> None:
        """The status-store totals of an op's tagged jobs (raises
        ledger.MissingStage if a stage was evicted)."""
        from perfbench import ledger

        build, run = (ledger.tagged_totals(self.spark, t) for t in rec["tags"])
        rec["build_jobs"] = build["jobs"]
        rec["ledger"] = {k: build[k] + run[k] for k in run}

    # ---- checks -------------------------------------------------------
    def check(self) -> dict[int, int]:
        """Compare outputs with DuckDB; returns rows changed per write."""
        from perfbench import checks
        from witdb_spark.queries import QUERIES

        con = checks.oracle_connection(self.sf_dir)
        for name, (columns, rows) in sorted(self.last_rows.items()):
            oracle = QUERIES[name].oracle
            if oracle is None:
                continue
            try:
                if rows is None:
                    why = checks.check_columns(con, oracle, columns)
                else:
                    why = checks.check_result(con, oracle, columns, rows)
            except Exception:  # the oracle itself failed: a check failure
                why = traceback.format_exc()
            if why:
                self.failures.append(f"check {name}: {why}")
        con.close()
        changed: dict[int, int] = {}
        if not self.is_mix:
            return changed
        replay = checks.LakeReplay(self.lake_src, list(self.tables))
        for serial, op in self.writes:
            changed[serial] = replay.apply(op.fmt, op.duck)
        for fmt, path in self.tables.items():
            df = self.engine.sql(f"SELECT * FROM {fmt}.'{path}'")
            why = replay.compare(fmt, list(df.columns), df.collect())
            if why:
                self.failures.append(f"check {fmt} table: {why}")
        replay.con.close()
        return changed


def _layer_metrics(bench, recs, setup, fixtures_s, warmup_s, elapsed, changed) -> dict:
    """The per-layer metrics of a traced run, per measured operation."""
    from perfbench.workloads import (
        ANALYTICS, LAKE_READS, LAKE_SOURCE_KEYS, LAKE_WRITES, PYOPS,
    )

    n = len(recs)
    queries = [r for r in recs if r["kind"] == "query"]
    nq = max(len(queries), 1)

    def mean(key, rows=recs):
        return sum(r[key] for r in rows) / max(len(rows), 1)

    def qsum(field, src="ledger"):
        return sum(r[src][field] for r in queries) / nq

    m = {
        "session.start_s": (setup["session"], "s"),
        "catalog.register_s": (setup["catalog"], "s"),
        "engine.init_s": (setup["engine"], "s"),
        "setup.fixtures_s": (fixtures_s, "s"),
        "setup.warmup_s": (warmup_s, "s"),
        "queries.build_s": (mean("build_self"), "s"),
        "queries.build_jobs": (mean("build_jobs"), "count"),
        "dialect.transpile_s": (mean("transpile"), "s"),
        "dialect.text_chars": (mean("text_chars"), "count"),
        "engine.analyze_s": (mean("analyze"), "s"),
        "catalyst.plan_s": (mean("plan"), "s"),
        "exec.wall_s": (mean("exec", queries), "s"),
        "exec.jobs": (qsum("jobs"), "count"),
        "exec.stages": (qsum("stages"), "count"),
        "exec.tasks": (qsum("tasks"), "count"),
        "exec.task_run_s": (qsum("task_run_s"), "s"),
        "exec.task_cpu_s": (qsum("task_cpu_s"), "s"),
        "exec.gc_s": (qsum("gc_s"), "s"),
        "scan.input_bytes": (qsum("input_bytes"), "B"),
        "scan.input_records": (qsum("input_records"), "count"),
        "scan.files_read": (qsum("files_read", "planm"), "count"),
        "exchange.shuffle_write_bytes": (qsum("shuffle_write_bytes"), "B"),
        "exchange.shuffle_read_bytes": (qsum("shuffle_read_bytes"), "B"),
        "exchange.fetch_wait_s": (qsum("fetch_wait_s"), "s"),
        "exchange.spill_bytes": (qsum("spill_bytes"), "B"),
        "pyworker.run_s": (qsum("py_run_s", "planm"), "s"),
        "pyworker.boot_s": (qsum("py_boot_s", "planm"), "s"),
        "pyworker.init_s": (qsum("py_init_s", "planm"), "s"),
        "pyworker.bytes_sent": (qsum("py_sent", "planm"), "B"),
        "pyworker.bytes_received": (qsum("py_received", "planm"), "B"),
    }
    for group, names in (("analytics", ANALYTICS), ("pyops", PYOPS)):
        rows = [r for r in queries if r["name"] in names]
        m[f"mix.{group}_s"] = (mean("wall", rows), "s")
    for kind in dict.fromkeys(LAKE_WRITES + LAKE_READS):
        rows = [r for r in recs if r["name"] == kind]
        m[f"lake.{kind}_s"] = (mean("wall", rows), "s")
    writes = [r for r in recs if r["kind"] == "write"]
    reads = [r for r in recs if r["kind"] == "read"]
    m["lake.write_self_s"] = (mean("write", writes), "s")
    written = sum(bench.write_bytes.get(r["serial"], 0) for r in writes)
    # a "user byte" is a changed row at the source's parquet bytes per row
    row_bytes = os.path.getsize(bench.lake_src) / LAKE_SOURCE_KEYS
    user = sum(changed.get(r["serial"], 0) for r in writes) * row_bytes
    m["lake.bytes_written_per_user_byte"] = (written / user if user else 0.0, "ratio")
    files = logs = 0
    for path in bench.tables.values():
        for f in _dir_files(path):
            rel = os.path.relpath(f, path)
            if f.endswith(".parquet") and not rel.startswith(("_delta_log", "metadata")):
                files += 1
            elif f.endswith(".json") and rel.startswith(("_delta_log", "metadata")):
                logs += 1
    m["lake.data_files"] = (float(files), "count")
    m["lake.log_entries"] = (float(logs), "count")
    m["lake.files_read_per_read"] = (
        sum(r["planm"]["files_read"] for r in reads) / max(len(reads), 1), "count"
    )
    m["latency.p90_s"] = (_percentile([r["wall"] for r in recs], 0.9), "s")
    m["trace.ops_per_s"] = (n / elapsed, "1/s")
    wall = sum(r["wall"] for r in recs)
    m["trace.coverage_frac"] = (
        sum(r["coverage"] * r["wall"] for r in recs) / wall, "ratio"
    )
    m["trace.coverage_min_frac"] = (min(r["coverage"] for r in recs), "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args) -> dict:
    os.makedirs(WORK_ROOT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK_ROOT)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    bench = None
    try:
        bench = Bench(args, run_dir, os.path.join(WORK_ROOT, "data"))
        return _measure(bench, args)
    finally:
        if bench is not None and bench.spark is not None:
            _shutdown(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(bench: Bench, args) -> dict:
    from perfbench import ledger
    from perfbench.workloads import pass_ops

    setup = bench.start_session()
    fixtures_s = bench.make_fixtures()
    texts = _sql_texts() if bench.is_plan else {}
    if bench.tracer is not None:
        bench.tracer.install()
    names = tuple(sorted(texts))
    pid = ledger.jvm_pid(bench.spark)

    # warm-up: pass 0, a whole pass, so the measured passes start with the
    # planner and the query code paths compiled
    t0 = time.perf_counter()
    for op in pass_ops(bench.workload, args.seed, 0, names):
        bench.run_op(op, texts, traced=False)
    t_first = time.perf_counter()
    warmup_s = t_first - t0
    setup_s = t_first - T_PROCESS - bench.datagen_s

    passes: list[list[dict]] = []
    cpu0 = ledger.tree_cpu_s(pid)
    min_passes = MIN_PASSES[bench.workload]
    while len(passes) < min_passes or time.perf_counter() - t_first < args.seconds:
        recs = []
        for op in pass_ops(bench.workload, args.seed, len(passes) + 1, names):
            rec = bench.run_op(op, texts, traced=bool(args.trace))
            if rec is not None:
                rec["serial"] = bench.serial
                recs.append(rec)
        passes.append(recs)
    elapsed = time.perf_counter() - t_first
    cpu_s = ledger.tree_cpu_s(pid) - cpu0
    rss_mb = ledger.peak_rss_mb(pid)

    t_check = time.perf_counter()
    changed = bench.check()
    check_s = time.perf_counter() - t_check
    recs = [r for p in passes for r in p]
    if not all(passes):
        raise RuntimeError("a measured pass completed no operation")
    if not args.trace:  # the traced run read it after each operation
        for r in recs:
            bench.read_ledger(r)
    n = len(recs)
    lat = [r["wall"] for r in recs]
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (n / elapsed, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "cpu_s_per_op": (cpu_s / n, "s"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
    }
    detail = {
        "workload": bench.workload,
        "seed": args.seed,
        "cores": bench.cores,
        "passes": len(passes),
        "measured_ops": n,
        "measured_s": elapsed,
        "latency_p90_s": _percentile(lat, 0.9),
        "latency_samples": n,
        "exec_cpu_s_per_op": sum(r["ledger"]["task_cpu_s"] for r in recs) / n,
        "failed_frac": len(bench.failures) / max(bench.attempted, 1),
        "failures": [f.splitlines()[0] for f in bench.failures],
        "setup_parts_s": setup,
        "fixtures_s": fixtures_s,
        "warmup_s": warmup_s,
        "check_s": check_s,
        "op_latency_s": [(r["name"], round(r["wall"], 4)) for r in recs],
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        metrics = _layer_metrics(
            bench, recs, setup, fixtures_s, warmup_s, elapsed, changed
        )
    detail["metrics"] = metrics
    if args.trace:
        detail["ops_under_90pct_coverage"] = [
            (r["name"], round(r["coverage"], 3)) for r in recs if r["coverage"] < 0.9
        ]
    print(json.dumps({"detail": detail}))
    return {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": metrics,
    }


def _sql_texts() -> dict[str, str]:
    """The registered Trino SQL texts (tag ``sql_text``). Each query's
    function closes over the text it hands to ``Engine.sql``."""
    from witdb_spark.queries import QUERIES

    texts = {}
    for name, spec in QUERIES.items():
        if "sql_text" not in spec.tags:
            continue
        cells = dict(
            zip(spec.fn.__code__.co_freevars, spec.fn.__closure__ or ())
        )
        if "text" not in cells:
            raise RuntimeError(f"{name}: no SQL text in its query function")
        texts[name] = cells["text"].cell_contents
    return texts


def _shutdown(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_DEADLINE_S}s")


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "witdb_spark")):
        print(f"no witdb_spark package under {ROOT}; run from the repo root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(RUN_DEADLINE_S)
    try:
        result = run(args)
    finally:
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
