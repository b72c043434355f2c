"""Lakehouse-path benchmark: seeded statements through
``LakehouseClient.sql`` against staged Delta, Iceberg and parquet
tables, one client in a closed loop, Spark at ``local[nproc]``.

    python3 lakebench/run.py --workload lookup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository; the program is
imported from there. Every result is checked against a DuckDB model
of the same generated tables. With ``--trace 0`` the last line of
stdout is a JSON object carrying the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run, and a
per-layer table is printed above it. The line before it is a record
of the run's context. The exit code is 0 only if every op was correct.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter, defaultdict
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __package__ in (None, ""):  # run as a script: import lakebench from the checkout
    sys.path.insert(0, ROOT)

from lakebench.lake import Lake, files_under, same_rows  # noqa: E402
from lakebench.trace import TABLE_ORDER, Tracer  # noqa: E402
from lakebench.workloads import LI_ROW_BYTES, WORKLOADS, known_defect_ops  # noqa: E402


def canary_ms() -> float:
    """A fixed pure-Python loop: host speed at that moment. Recorded for
    diagnosis only; no metric is normalised by it."""
    t = time.perf_counter()
    s = 0
    for i in range(300_000):
        s += i * i
    return (time.perf_counter() - t) * 1000.0


def latency_stats(samples: list) -> dict:
    """Statistics of (kind, latency) samples from whole rotations, so
    every kind counts equally. ``ops_per_s`` is statements completed
    per second spent in ``client.sql``; the tail is the highest whole
    percentile with at least ten samples beyond it (none below 11)."""
    lats = sorted(lat for _, lat in samples)
    n = len(lats)
    by_kind = defaultdict(list)
    for kind, lat in samples:
        by_kind[kind].append(lat)
    out = {
        "ops_per_s": n / sum(lats),
        "p50_ms": 1000.0 * statistics.median(lats),
        "samples": n,
        "kind_mean_ms": {k: 1000.0 * sum(v) / len(v) for k, v in by_kind.items()},
    }
    if n > 10:
        pct = math.floor(100.0 * (n - 10) / n)
        out["tail_pct"] = pct
        out["tail_ms"] = 1000.0 * lats[math.ceil(pct / 100.0 * n) - 1]
    return out


class Runner:
    """Runs ops, times them, checks them against the model and, for
    traced ops, collects the per-op layer record."""

    def __init__(self, lake, tracer):
        self.lake = lake
        self.client = lake.client
        self.tracer = tracer
        self.live_files: dict = {}
        self.records: list = []
        self.errors: list = []
        self.n = 0

    def run(self, op, traced: bool = False) -> tuple[float, bool]:
        lake = self.lake
        self.n += 1
        op_id = f"op{self.n}.{op.kind}"
        affected = lake.query(op.affected) if op.affected else None
        watch = traced and op.dml is not None
        written = lake.query(op.written_rows)[0][0] if watch and op.written_rows else 0
        before = self._delta_files(op.tables) if watch else {}
        dml_rows, rows, error = None, None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op_id) if traced else nullcontext():
                if op.dml:
                    dml_rows = [tuple(r) for r in self.client.sql(op.dml).collect()]
                rows = [tuple(r) for r in self.client.sql(op.read).collect()]
        except Exception as exc:  # a failed op is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"
        latency = time.perf_counter() - t0
        if dml_rows is not None:
            for stmt in op.model:
                lake.duck.execute(stmt)
        ok = (
            error is None
            and (affected is None or same_rows(dml_rows, affected))
            and same_rows(rows, lake.query(op.read))
        )
        if not ok:
            self.errors.append({"op": op_id, "sql": op.dml or op.read, "error": (error or "wrong result")[:400]})
        if traced:
            self._record(op, op_id, rows, dml_rows, written, before)
        return latency, ok

    def _delta_files(self, tables) -> dict:
        out = {}
        for t in tables:
            if self.lake.formats[t] == "delta":
                out.update(files_under(self.lake.locations[t]))
        return out

    def _live(self, table: str) -> int:
        if table not in self.live_files:
            from local_lakehouse_spark.sources import delta_py, iceberg_py

            loc, fmt = self.lake.locations[table], self.lake.formats[table]
            if fmt == "delta":
                n = len(delta_py.DeltaLog(loc).snapshot(allow=delta_py.BATCH_READ_FEATURES).adds)
            elif fmt == "iceberg":
                meta = iceberg_py.table_metadata(loc)
                n = len(iceberg_py._snapshot_files(meta, iceberg_py._select_snapshot(meta), loc)[0])
            else:
                n = sum(1 for _, _, fs in os.walk(loc) for f in fs if f.endswith(".parquet"))
            self.live_files[table] = n
        return self.live_files[table]

    def _record(self, op, op_id, rows, dml_rows, written, before) -> None:
        from local_lakehouse_spark.sources import iceberg_py

        n_jobs, stages = self.tracer.stages(op_id)
        rec = self.tracer.summarize(op_id, n_jobs, stages)
        rec["kind"] = op.kind
        rec["rows_returned"] = len(rows or []) + len(dml_rows or [])
        if op.dml is not None:
            for t in op.tables:
                self.live_files.pop(t, None)
        rec["files_live"] = sum(self._live(t) for t in op.tables)
        if op.dml is not None:
            after = self._delta_files(op.tables)
            rec["delta_bytes_written"] = sum(s for p, s in after.items() if before.get(p) != s)
            rec["delta_user_bytes"] = written * LI_ROW_BYTES if before or after else 0
        ice = [t for t in op.tables if self.lake.formats[t] == "iceberg"]
        if ice:
            live = 0
            for t in ice:
                loc = self.lake.locations[t]
                meta = iceberg_py.table_metadata(loc)
                live += len(iceberg_py._manifest_list_rows(iceberg_py._select_snapshot(meta), loc))
            rec["manifests_live"] = live
        self.records.append(rec)


def layer_metrics(records: list, overhead_pct: float, known_failed: int) -> dict:
    """Per-op means over the traced ops; ratios over their sums."""
    n = max(len(records), 1)

    def mean(get) -> float:
        return sum(get(r) for r in records) / n

    def self_ms(layer: str) -> tuple:
        return "ms", mean(lambda r: r["self_ms"].get(layer, 0.0))

    def incl_ms(layer: str) -> tuple:
        return "ms", mean(lambda r: r["incl_ms"].get(layer, 0.0))

    def count(name: str) -> tuple:
        return "count", mean(lambda r: r["counts"].get(name, 0))

    def stages(field: str, unit: str) -> tuple:
        return unit, mean(lambda r: sum(s[field] for s in r["stages"]))

    def ratio(num, den) -> tuple:
        d = sum(den(r) for r in records)
        return "ratio", sum(num(r) for r in records) / d if d else 0.0

    manifests_live = [r["manifests_live"] for r in records if "manifests_live" in r]
    m = {
        "client.sql.self_ms": self_ms("client.sql"),
        "sqlnames.rewrite.self_ms": self_ms("sqlnames.rewrite"),
        "metastore.calls": ("count", mean(lambda r: r["calls"].get("metastore", 0))),
        "metastore.ms": incl_ms("metastore"),
        "io.read_table.self_ms": self_ms("io.read_table"),
        "io.write_table.self_ms": self_ms("io.write_table"),
        "delta_py.snapshot.ms": incl_ms("delta_py.snapshot"),
        "delta_py.commits_replayed": count("delta_py.commits_replayed"),
        "delta_py.read_delta.self_ms": self_ms("delta_py.read_delta"),
        "delta_py.write.ms": incl_ms("delta_py.write"),
        "delta_py.bytes_written_per_user_byte": ratio(
            lambda r: r.get("delta_bytes_written", 0), lambda r: r.get("delta_user_bytes", 0)
        ),
        "iceberg_py.table_metadata.ms": incl_ms("iceberg_py.table_metadata"),
        "iceberg_py.manifests_read": count("iceberg_py.manifests_read"),
        "iceberg_py.read_iceberg.self_ms": self_ms("iceberg_py.read_iceberg"),
        "iceberg_py.write.ms": incl_ms("iceberg_py.write"),
        "iceberg_py.manifests_live": (
            "count", sum(manifests_live) / len(manifests_live) if manifests_live else 0.0
        ),
        "merge.merge_table.self_ms": self_ms("merge.merge_table"),
        "spark.jobs": ("count", mean(lambda r: r["jobs"])),
        "spark.stages": ("count", mean(lambda r: len(r["stages"]))),
        "spark.tasks": stages("tasks", "count"),
        "spark.stage_wall_ms": ("ms", mean(lambda r: r["stage_wall_ms"])),
        "spark.executor_run_ms": stages("run_ms", "ms"),
        "spark.executor_cpu_ms": stages("cpu_ms", "ms"),
        "spark.input_bytes": stages("input_bytes", "bytes"),
        "spark.shuffle_read_bytes": stages("shuffle_read_bytes", "bytes"),
        "spark.shuffle_write_bytes": stages("shuffle_write_bytes", "bytes"),
        "spark.spill_bytes": stages("spill_bytes", "bytes"),
        "spark.files_scanned_ratio": ratio(
            lambda r: r["counts"].get("spark.files_scanned", 0), lambda r: r["files_live"]
        ),
        "spark.records_read_per_row_returned": ratio(
            lambda r: sum(s["input_records"] for s in r["stages"]), lambda r: r["rows_returned"]
        ),
        "driver_residual_ms": self_ms("driver_residual"),
        "trace.overhead_pct": ("%", overhead_pct),
        "known_defects.failed": ("count", known_failed),
    }
    return {k: {"value": v, "unit": u} for k, (u, v) in m.items()}


def layer_table(workload: str, records: list) -> str:
    """Mean per traced op: each layer's self time, the Spark stage wall
    and the driver residual, which add up to the op wall."""
    n = max(len(records), 1)
    rows = [("metastore", sum(r["self_ms"].get("metastore", 0.0) for r in records) / n)]
    rows += [(k, sum(r["self_ms"].get(k, 0.0) for r in records) / n) for k in TABLE_ORDER]
    rows.append(("spark stage wall", sum(r["stage_wall_ms"] for r in records) / n))
    total = sum(v for _, v in rows)
    wall = sum(r["wall_ms"] for r in records) / n
    lines = [f"per-layer mean per traced op, workload={workload}, traced ops={len(records)}"]
    lines += [f"  {k:<28}{v:>12.2f} ms {100.0 * v / wall if wall else 0.0:>6.1f}%" for k, v in rows]
    lines.append(f"  {'sum':<28}{total:>12.2f} ms")
    lines.append(f"  {'op wall':<28}{wall:>12.2f} ms")
    return "\n".join(lines)


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def prepare_env(work: str) -> None:
    """Keep every file Spark, the program and Python write inside the
    run's work dir, and let Spark's Python workers import the package."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "local_lakehouse_spark", "__init__.py")):
        print(f"lakebench: no local_lakehouse_spark package in {ROOT}", file=sys.stderr)
        return 2
    import numpy as np

    base = os.path.join(ROOT, ".lakebench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    prepare_env(work)
    canaries = [canary_ms()]
    load_before = os.getloadavg()

    t_setup = time.perf_counter()
    from local_lakehouse_spark import LakehouseClient
    from local_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="lakebench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    try:
        client = LakehouseClient(os.path.join(work, "metastore.json"), spark=spark)
        lake = Lake(client, spark, os.path.join(work, "lake"))
        wl = WORKLOADS[args.workload]()
        rng = np.random.default_rng(args.seed)
        wl.stage(lake, rng)
        stage_s = time.perf_counter() - t_setup - session_s
        tracer = Tracer(spark)
        runner = Runner(lake, tracer)
        stream = wl.ops(rng)
        warm = [(op, runner.run(op)) for op in (next(stream) for _ in range(wl.warmup_rotations * len(wl.kinds)))]
        warm_ok = [ok for _, (_, ok) in warm]
        setup_s = time.perf_counter() - t_setup
        canaries.append(canary_ms())

        if args.trace:
            tracer.install()
        samples, traced_samples, oks, rotation_s = [], [], [], [0.0]
        # Whole rotations, so every kind is measured as often as the
        # others; a traced run alternates untraced and traced rotations.
        k = len(wl.kinds)
        block = 2 * k if args.trace else k
        t0 = time.perf_counter()
        i = 0
        while i % block or time.perf_counter() - t0 < args.seconds:
            op = next(stream)
            traced = bool(args.trace) and (i // k) % 2 == 1
            lat, ok = runner.run(op, traced)
            oks.append(ok)
            (traced_samples if traced else samples).append((op.kind, lat))
            rotation_s[-1] += lat
            i += 1
            if i % k == 0:
                canaries.append(canary_ms())
                rotation_s.append(0.0)
        measured_s = time.perf_counter() - t0
        if args.trace:
            tracer.uninstall()

        table_bytes = sum(lake.disk_bytes(t) for t in wl.tables)
        raw_bytes = sum(lake.raw_bytes(t) for t in wl.tables)
        n_errors = len(runner.errors)
        known = known_defect_ops(rng, wl.n_orders)
        known_failed = sum(0 if runner.run(op)[1] else 1 for op in known)
        canaries.append(canary_ms())
        load_after = os.getloadavg()
        stats = latency_stats(samples)
        attempted = len(warm_ok) + len(oks)
        failed = attempted - sum(warm_ok) - sum(oks)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            "git_commit": git_commit(),
            "canary_ms": [round(c, 2) for c in canaries],
            "setup": {"session_s": session_s, "stage_s": stage_s, "warmup_s": setup_s - session_s - stage_s},
            "measured_s": measured_s,
            "rotation_s": [round(r, 3) for r in rotation_s[:-1]],
            "ops": dict(Counter(kind for kind, _ in samples + traced_samples)),
            "latency_tail": {k: stats.get(k) for k in ("tail_pct", "tail_ms", "samples")},
            "kind_mean_ms": stats["kind_mean_ms"],
            "warmup_ms": [round(1000.0 * lat, 1) for _, (lat, _) in warm],
            "table_bytes": table_bytes,
            "raw_user_bytes": raw_bytes,
            "known_defects": {"attempted": len(known), "failed": known_failed, "errors": runner.errors[n_errors:]},
            "errors": runner.errors[:n_errors][:20],
        }
        if args.trace:
            with_trace = latency_stats(traced_samples)
            overhead = 100.0 * (stats["ops_per_s"] / with_trace["ops_per_s"] - 1.0)
            metrics = layer_metrics(runner.records, overhead, known_failed)
            os.makedirs(base, exist_ok=True)
            tracer.flush(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            print(layer_table(args.workload, runner.records))
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "ops_per_s": {"value": stats["ops_per_s"], "unit": "1/s"},
                "latency_p50_ms": {"value": stats["p50_ms"], "unit": "ms"},
                "table_bytes_ratio": {"value": table_bytes / raw_bytes, "unit": "ratio"},
                "py_rss_peak_mb": {
                    "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                    "unit": "MB",
                },
            }
        lake.close()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
