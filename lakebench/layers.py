"""Per-layer metrics of a traced run, computed from the tracer's op
records and spans. The names here are the ``per_layer`` list of
BENCHMARK.json (a unit test keeps the two equal)."""

from __future__ import annotations

from . import stats

KINDS = ("insert", "read", "maintain", "dml", "search")


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    per = lambda prefix, unit: [(f"{prefix}.{k}", unit) for k in KINDS]
    return [
        ("log.fold_ms", "ms"),
        *per("log.folds_per_op", "count"),
        ("log.logs_per_fold", "count"),
        ("log.parse_cache_hit_ratio", "ratio"),
        ("log.append_ms", "ms"),
        *per("log.gets_per_op", "count"),
        *per("log.lists_per_op", "count"),
        *per("log.puts_per_op", "count"),
        ("pruning.files_for_ms", "ms"),
        ("pruning.kept_ratio", "ratio"),
        *per("table.files_per_scan", "count"),
        *per("table.self_ms", "ms"),
        ("table.merge_files_in", "count"),
        ("table.merge_bytes_rewritten", "bytes"),
        ("table.vacuum_files_deleted", "count"),
        ("table.vacuum_logs_deleted", "count"),
        ("table.dml_files_rewritten", "count"),
        ("table.dml_bytes_rewritten", "bytes"),
        *per("session.jobs_per_op", "count"),
        *per("session.stages_per_op", "count"),
        *per("session.tasks_per_op", "count"),
        *per("session.spark_ms", "ms"),
        *per("session.driver_cpu_ms", "ms"),
        *per("session.jvm_cpu_ms", "ms"),
        *per("session.worker_cpu_ms", "ms"),
        ("session.start_s", "s"),
        ("operators.search_ms", "ms"),
        ("operators.jobs_per_search", "count"),
        ("operators.index_build_ms", "ms"),
    ]


def op_self_ms(spans: list[dict], jobs: list[dict]) -> float:
    """Wall of an op's top-level table and operator calls minus the part
    that its log and pruning spans or its Spark job intervals cover."""
    covered = [(s["start_ms"], s["end_ms"]) for s in spans
               if s["layer"] in ("log", "pruning")]
    covered += [(j["start_ms"], j["end_ms"]) for j in jobs
                if j["start_ms"] is not None and j["end_ms"] is not None]
    calls = [s for s in spans if s["layer"] in ("table", "operators")]
    # nested table calls (sql -> read) are inside their caller's span
    ids = {s["id"] for s in calls}
    return sum(stats.self_time(s["start_ms"], s["end_ms"], covered)
               for s in calls if s["parent"] not in ids)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs) -> float:
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def per_layer_metrics(tracer, sources: dict, start_s: float) -> dict:
    """``sources`` maps each op kind to the phase its end-to-end metric is
    measured in; per-layer figures use the same ops."""
    phase_of = {"insert": sources["insert"], "read": sources["read"],
                "maintain": sources["maintain"], "dml": sources["dml"],
                "search": sources["search"]}
    by_kind = {k: [op for op in tracer.ops
                   if op["kind"] == k and op["phase"] == phase_of[k]]
               for k in KINDS}
    chosen = {op["id"] for ops in by_kind.values() for op in ops}
    spans = [s for s in tracer.spans if s["op"] in chosen]
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def dur(name):
        return [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name]

    def count(op, counter):
        return op["counts"].get(counter, 0)

    def nspans(op, name):
        return sum(s["name"] == name for s in by_op.get(op["id"], []))

    def union_ms(op):
        return stats.union_length(
            (j["start_ms"], j["end_ms"]) for j in op["jobs"]
            if j["start_ms"] is not None and j["end_ms"] is not None)

    out: dict[str, float] = {}
    folds = [s for s in spans if s["name"] == "log.fold"]
    reads = sum(count(op, "log.read_log") for ops in by_kind.values() for op in ops)
    misses = sum(count(op, "log.parse_miss") for ops in by_kind.values() for op in ops)
    pruned = [s for s in spans if s["name"] == "pruning.files_for" and s["pruned"]]
    out["log.fold_ms"] = _med(dur("log.fold"))
    out["log.logs_per_fold"] = _mean(s["logs"] for s in folds)
    out["log.parse_cache_hit_ratio"] = 1.0 - misses / reads if reads else 0.0
    out["log.append_ms"] = _med(dur("log.append"))
    out["pruning.files_for_ms"] = _med(dur("pruning.files_for"))
    out["pruning.kept_ratio"] = (
        sum(s["kept"] for s in pruned) / sum(s["alive"] for s in pruned)
        if pruned and sum(s["alive"] for s in pruned) else 1.0)
    for k, ops in by_kind.items():
        out[f"log.folds_per_op.{k}"] = _mean(nspans(op, "log.fold") for op in ops)
        out[f"log.gets_per_op.{k}"] = _mean(count(op, "log.get") for op in ops)
        out[f"log.lists_per_op.{k}"] = _mean(count(op, "log.list") for op in ops)
        out[f"log.puts_per_op.{k}"] = _mean(count(op, "log.put") for op in ops)
        out[f"table.files_per_scan.{k}"] = _mean(
            count(op, "table.files_scanned") for op in ops)
        out[f"table.self_ms.{k}"] = _med(
            op_self_ms(by_op.get(op["id"], []), op["jobs"]) for op in ops)
        out[f"session.jobs_per_op.{k}"] = _mean(len(op["jobs"]) for op in ops)
        out[f"session.stages_per_op.{k}"] = _mean(
            sum(j["stages"] for j in op["jobs"]) for op in ops)
        out[f"session.tasks_per_op.{k}"] = _mean(
            sum(j["tasks"] for j in op["jobs"]) for op in ops)
        out[f"session.spark_ms.{k}"] = _med(union_ms(op) for op in ops)
        for part in ("driver", "jvm", "worker"):
            out[f"session.{part}_cpu_ms.{k}"] = _med(
                op["cpu_ms"][part] for op in ops)
    maint = by_kind["maintain"]
    for key in ("merge_files_in", "merge_bytes_rewritten",
                "vacuum_files_deleted", "vacuum_logs_deleted"):
        out[f"table.{key}"] = _mean(op.get(key, 0) for op in maint)
    dml = by_kind["dml"]
    out["table.dml_files_rewritten"] = _mean(
        op.get("files_rewritten", 0) for op in dml)
    out["table.dml_bytes_rewritten"] = _mean(op["written"] for op in dml)
    out["session.start_s"] = start_s
    searches = by_kind["search"]
    out["operators.search_ms"] = _med(
        dur("operators.cosine_topk_against_index_table"))
    out["operators.jobs_per_search"] = _mean(len(op["jobs"]) for op in searches)
    out["operators.index_build_ms"] = _med(
        op["wall_ms"] for op in tracer.ops if op["kind"] == "index")
    units = dict(metric_names())
    return {name: {"value": out[name], "unit": units[name]}
            for name, _u in metric_names()}
