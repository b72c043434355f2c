"""Per-layer tracing for the traced run.

At run time the benchmark wraps the public entry points of each layer
of ``local_lakehouse_spark`` (nothing in the package is edited). A
wrapper records a span (name, start, end, parent, op id) in memory
while an op is being traced and does nothing otherwise. Spark's share
comes from the status store: every traced op runs under its own job
group, and after the op the stages of that group are read back by id
(``statusTracker().getJobIdsForGroup`` -> ``statusStore()
.lastStageAttempt``), which works with the UI off.

A span's self time is its duration minus what its child spans and the
Spark stages cover. The self times of all spans of an op plus the
union of its stage intervals add up to the op's wall time exactly; the
root span's self time is the driver residual (Catalyst planning,
result transfer and anything no wrapped layer covers).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import Counter
from contextlib import contextmanager

# span name -> layer it is accounted to
LAYERS = {
    "op": "driver_residual",
    "client.sql": "client.sql",
    "sqlnames.rewrite": "sqlnames.rewrite",
    "io.read_table": "io.read_table",
    "io.write_table": "io.write_table",
    "delta_py.snapshot": "delta_py.snapshot",
    "delta_py.read_delta": "delta_py.read_delta",
    "delta_py.write": "delta_py.write",
    "iceberg_py.table_metadata": "iceberg_py.table_metadata",
    "iceberg_py.read_iceberg": "iceberg_py.read_iceberg",
    "iceberg_py.write": "iceberg_py.write",
    "merge.merge_table": "merge.merge_table",
    "trace.hook": "tracing",
}
TABLE_ORDER = list(dict.fromkeys(LAYERS.values()))


def _layer(name: str) -> str:
    return "metastore" if name.startswith("metastore.") else LAYERS[name]


def covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.op_id = None
        self.stack: list[int] = []
        self.spans: list[list] = []  # [op_id, name, start, end, parent index]
        self.counts: Counter = Counter()
        self._patched: list[tuple] = []

    # -- wrapping ---------------------------------------------------------

    def _open(self, name: str, parent) -> int:
        self.spans.append([self.op_id, name, time.time(), None, parent])
        return len(self.spans) - 1

    def wrap(self, fn, name: str, hook=None):
        """``fn`` with a span around each traced call. ``hook(tracer,
        args, kwargs, result)`` runs after the call, inside a
        ``trace.hook`` span so its cost is not charged to a layer."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            parent = tracer.stack[-1] if tracer.stack else None
            if name is None:  # hook only
                tracer._run_hook(hook, parent, args, kwargs, None)
                return fn(*args, **kwargs)
            idx = tracer._open(name, parent)
            tracer.stack.append(idx)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.stack.pop()
                tracer.spans[idx][3] = time.time()
            if hook is not None:
                tracer._run_hook(hook, parent, args, kwargs, out)
            return out

        return traced

    def _run_hook(self, hook, parent, args, kwargs, out) -> None:
        idx = self._open("trace.hook", parent)
        try:
            hook(self, args, kwargs, out)
        finally:
            self.spans[idx][3] = time.time()

    def patch_function(self, module, attr: str, name, hook=None) -> None:
        """Replace ``module.attr`` in every package module that bound
        the same function object (``from .io import read_table``)."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name, hook)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("local_lakehouse_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapped)
                    self._patched.append((mod, key, orig))

    def patch_method(self, cls, attr: str, name, hook=None) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(orig, name, hook))
        self._patched.append((cls, attr, orig))

    def install(self) -> None:
        import pyspark.sql.readwriter as rw

        import local_lakehouse_spark.client as client
        import local_lakehouse_spark.io as io
        import local_lakehouse_spark.merge as merge
        import local_lakehouse_spark.metastore as metastore
        import local_lakehouse_spark.sqlnames as sqlnames
        from local_lakehouse_spark.sources import delta_py, iceberg_py

        self.patch_method(client.LakehouseClient, "sql", "client.sql")
        self.patch_function(sqlnames, "rewrite_three_part_names", "sqlnames.rewrite")
        for attr, val in list(vars(metastore.Metastore).items()):
            if callable(val) and not attr.startswith("_"):
                self.patch_method(metastore.Metastore, attr, f"metastore.{attr}")
        self.patch_function(io, "read_table", "io.read_table")
        self.patch_function(io, "write_table", "io.write_table")
        self.patch_method(delta_py.DeltaLog, "snapshot", "delta_py.snapshot", _count_replayed)
        self.patch_function(delta_py, "read_delta", "delta_py.read_delta")
        for attr in ("write_delta", "delete_where", "update_where", "apply_row_changes"):
            self.patch_function(delta_py, attr, "delta_py.write")
        self.patch_function(iceberg_py, "table_metadata", "iceberg_py.table_metadata")
        self.patch_function(iceberg_py, "_read_avro_dicts", None, _count_manifest)
        self.patch_function(iceberg_py, "read_iceberg", "iceberg_py.read_iceberg")
        for attr in (
            "write_iceberg", "apply_iceberg_row_changes", "delete_iceberg_where",
            "update_iceberg_where", "overwrite_iceberg_where",
        ):
            self.patch_function(iceberg_py, attr, "iceberg_py.write")
        self.patch_function(merge, "merge_table", "merge.merge_table")
        self.patch_method(merge.SparkMerger, "execute", "merge.merge_table")
        self.patch_method(rw.DataFrameReader, "parquet", None, _count_scanned)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- one traced op ----------------------------------------------------

    @contextmanager
    def op(self, op_id: str):
        self.sc.setJobGroup(op_id, op_id)
        self.op_id = op_id
        self.counts = Counter()
        self.stack = [self._open("op", None)]
        self.active = True
        try:
            yield
        finally:
            self.active = False
            self.spans[self.stack[0]][3] = time.time()
            self.stack = []
            self.sc.setJobGroup("lakebench-untraced", "")

    def stages(self, op_id: str, timeout_s: float = 10.0) -> tuple[int, list[dict]]:
        """(job count, stages) of the op from the status store, once
        every job of its group has finished."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        deadline = time.time() + timeout_s
        while True:
            infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(op_id)]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            if time.time() > deadline:
                raise RuntimeError(f"jobs of {op_id} did not finish within {timeout_s} s")
            time.sleep(0.005)
        out = []
        for info in infos:
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # never attempted
                if not (sd.submissionTime().isDefined() and sd.completionTime().isDefined()):
                    continue  # skipped: its output was reused
                out.append(
                    {
                        "start": sd.submissionTime().get().getTime() / 1000.0,
                        "end": sd.completionTime().get().getTime() / 1000.0,
                        "tasks": sd.numTasks(),
                        "run_ms": sd.executorRunTime(),
                        "cpu_ms": sd.executorCpuTime() / 1e6,
                        "input_bytes": sd.inputBytes(),
                        "input_records": sd.inputRecords(),
                        "shuffle_read_bytes": sd.shuffleReadBytes(),
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    }
                )
        return len(infos), out

    def summarize(self, op_id: str, n_jobs: int, stages: list[dict]) -> dict:
        """Per-layer self times (ms) and inclusive times of the op."""
        idx = [i for i, s in enumerate(self.spans) if s[0] == op_id]
        children: dict = {i: [] for i in idx}
        for i in idx:
            parent = self.spans[i][4]
            if parent is not None:
                children[parent].append(i)
        stage_iv = [(st["start"], st["end"]) for st in stages]
        root = self.spans[idx[0]]
        self_ms: Counter = Counter()
        incl_ms: Counter = Counter()
        calls: Counter = Counter()
        for i in idx:
            _, name, start, end, parent = self.spans[i]
            kids = [(self.spans[c][2], self.spans[c][3]) for c in children[i]]
            layer = _layer(name)
            self_ms[layer] += 1000.0 * ((end - start) - covered(start, end, kids + stage_iv))
            # inclusive time counts only the outermost span of a layer
            p = parent
            while p is not None and _layer(self.spans[p][1]) != layer:
                p = self.spans[p][4]
            if p is None:
                incl_ms[layer] += 1000.0 * (end - start)
                calls[layer] += 1
        return {
            "wall_ms": 1000.0 * (root[3] - root[2]),
            "stage_wall_ms": 1000.0 * covered(root[2], root[3], stage_iv),
            "self_ms": dict(self_ms),
            "incl_ms": dict(incl_ms),
            "calls": dict(calls),
            "counts": dict(self.counts),
            "jobs": n_jobs,
            "stages": stages,
        }

    def flush(self, path: str) -> None:
        with open(path, "w") as fh:
            for op_id, name, start, end, parent in self.spans:
                fh.write(json.dumps({"op": op_id, "name": name, "start": start, "end": end, "parent": parent}) + "\n")
        self.spans.clear()


def _count_replayed(tracer, args, kwargs, snap) -> None:
    """Commit files a DeltaLog.snapshot call replayed: those after the
    newest checkpoint at or below the snapshot's version."""
    log = args[0]
    cps = [c for c in log.checkpoints() if c <= snap.version]
    start = cps[-1] if cps else -1
    tracer.counts["delta_py.commits_replayed"] += sum(
        1 for v in log.versions() if start < v <= snap.version
    )


def _count_manifest(tracer, args, kwargs, out) -> None:
    # manifest lists are named snap-*.avro; everything else read
    # through _read_avro_dicts is a manifest
    if not os.path.basename(args[0]).startswith("snap-"):
        tracer.counts["iceberg_py.manifests_read"] += 1


def _count_scanned(tracer, args, kwargs, out) -> None:
    n = 0
    for p in args[1:]:
        if os.path.isdir(p):
            n += sum(1 for _, _, fs in os.walk(p) for f in fs if f.endswith(".parquet"))
        else:
            n += 1
    tracer.counts["spark.files_scanned"] += n
