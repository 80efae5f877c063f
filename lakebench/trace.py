"""Tracing from outside the engine: spans and counters installed around
the public entry points of each layer, plus per-op Spark job records.

Used only with ``--trace 1``. The engine is not modified — ``install``
wraps attributes of the engine's classes and modules in this process and
``uninstall`` puts them back. Spans live in memory and are written as
JSONL when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict

# (owner path, attribute, span name, layer); layers with spans cover time
# that table self time excludes
_SPANNED = [
    ("icedb_spark.log:IceLogIO", "read_at_max_time", "log.fold", "log"),
    ("icedb_spark.log:IceLogIO", "append", "log.append", "log"),
    ("icedb_spark.table:IceTable", "files_for", "pruning.files_for", "pruning"),
    ("icedb_spark.table", "derive_scan_hints", "pruning.derive_hints", "pruning"),
]
_TABLE_CALLS = [
    "insert", "read", "sql", "merge_all", "tombstone_cleanup", "delete",
    "update", "merge_into", "delete_where", "apply_deletes",
]
_OPERATOR_CALLS = [
    "cosine_topk_against_index_table", "ivf_codebook_rows", "ivf_index_rows",
]
_COUNTED = [
    ("icedb_spark.log:IceLogIO", "read_log", "log.read_log"),
    ("icedb_spark.log:IceLogIO", "_read_log_uncached", "log.parse_miss"),
    ("icedb_spark.log:Storage", "get", "log.get"),
    ("icedb_spark.log:Storage", "list", "log.list"),
    ("icedb_spark.log:Storage", "put", "log.put"),
]


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    def __init__(self, spark, processes):
        self.processes = processes
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.op: dict | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _record(self, name: str, layer: str, t0: float, t1: float,
                parent, sid, extra=None) -> None:
        op = self.op
        span = {
            "id": sid, "name": name, "layer": layer,
            "start_ms": t0, "end_ms": t1, "parent": parent,
            "op": op["id"] if op else None,
        }
        if extra:
            span.update(extra)
        with self._lock:
            self.spans.append(span)

    def _wrap_span(self, fn, name: str, layer: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            op = tracer.op
            # calls on engine pool threads have no stack: parent is the op
            parent = stack[-1] if stack else (op["span"] if op else None)
            sid = next(tracer._ids)
            stack.append(sid)
            t0 = time.time() * 1000.0
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.time() * 1000.0
                stack.pop()
            extra = on_result(args, kwargs, result) if on_result else None
            tracer._record(name, layer, t0, t1, parent, sid, extra)
            return result

        return wrapper

    def _wrap_count(self, fn, counter: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.count(counter)
            return fn(*args, **kwargs)

        return wrapper

    def count(self, counter: str, n: float = 1) -> None:
        op = self.op
        if op is not None:
            with self._lock:
                op["counts"][counter] += n

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        import icedb_spark.operators as ops_pkg
        import icedb_spark.operators.similarity as sim
        from icedb_spark.log import LogState

        tracer = self

        def fold_result(_a, _k, state):
            return {"logs": len(state.log_files)}

        def files_for_result(_a, kwargs, files):
            pruned = any(kwargs.get(k) for k in (
                "partition_filter", "partition_values", "column_ranges",
                "column_equals", "column_in"))
            tracer.count("table.files_scanned", len(files))
            return {"kept": len(files),
                    "alive": getattr(tracer._local, "alive", len(files)),
                    "pruned": pruned}

        on_result = {"log.fold": fold_result,
                     "pruning.files_for": files_for_result}
        for path, attr, name, layer in _SPANNED:
            owner = _resolve(path)
            self._patch(owner, attr, self._wrap_span(
                getattr(owner, attr), name, layer, on_result.get(name)))
        table_cls = _resolve("icedb_spark.table:IceTable")
        for attr in _TABLE_CALLS:
            self._patch(table_cls, attr, self._wrap_span(
                getattr(table_cls, attr), f"table.{attr}", "table"))
        for attr in _OPERATOR_CALLS:
            wrapped = self._wrap_span(
                getattr(sim, attr), f"operators.{attr}", "operators")
            self._patch(sim, attr, wrapped)
            self._patch(ops_pkg, attr, wrapped)
        for path, attr, counter in _COUNTED:
            owner = _resolve(path)
            self._patch(owner, attr, self._wrap_count(
                getattr(owner, attr), counter))

        alive_files = LogState.alive_files

        def counting_alive(state):
            files = alive_files(state)
            tracer._local.alive = len(files)
            return files

        self._patch(LogState, "alive_files", counting_alive)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------- ops
    def begin_op(self, kind: str, name: str, phase: str) -> None:
        self._bus.waitUntilEmpty()
        self.op = {
            "id": len(self.ops) + 1, "kind": kind, "name": name,
            "phase": phase, "span": next(self._ids),
            "counts": defaultdict(float),
            "job0": self._dag.numTotalJobs(),
            "cpu0": self.processes.cpu_ms(),
            "start_ms": time.time() * 1000.0,
        }

    def end_op(self, wall_ms: float, extra: dict) -> None:
        op, self.op = self.op, None
        op["end_ms"] = time.time() * 1000.0
        cpu1 = self.processes.cpu_ms()
        self._bus.waitUntilEmpty()
        jobs = []
        for jid in range(op.pop("job0"), self._dag.numTotalJobs()):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            jobs.append({
                "id": jid,
                "start_ms": sub.get().getTime() if sub.isDefined() else None,
                "end_ms": done.get().getTime() if done.isDefined() else None,
                "stages": jd.stageIds().size() - jd.numSkippedStages(),
                "tasks": jd.numTasks() - jd.numSkippedTasks(),
            })
        cpu0 = op.pop("cpu0")
        op.update(
            wall_ms=wall_ms,
            jobs=jobs,
            cpu_ms={k: cpu1[k] - cpu0[k] for k in cpu1},
            counts=dict(op["counts"]),
            **extra,
        )
        self.ops.append(op)
        self._record(op["kind"], "op", op["start_ms"], op["end_ms"],
                     None, op["span"], {"op": op["id"]})

    # ---------------------------------------------------------- output
    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            for op in self.ops:
                f.write(json.dumps({"op_record": op}) + "\n")
