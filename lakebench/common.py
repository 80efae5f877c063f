"""Pieces the workloads share: the maintenance step, the numpy model
of IVF search, and the assembly of end-to-end metrics from samples."""

from __future__ import annotations

import os

import numpy as np

from . import stats

# the session is local[NPROC]; no concurrency argument exceeds it
NPROC = min(4, len(os.sched_getaffinity(0)))


def maintain(client, table) -> None:
    """One maintenance step: ``merge_all`` until it returns None, then a
    vacuum with no grace period."""
    with client.op("maintain") as op:
        files_in = bytes_out = passes = 0
        while True:
            res = op.call(table.merge_all, concurrency=NPROC)
            op.scan()  # a later pass may delete what this one wrote
            if res is None:
                break
            passes += 1
            for _part, marker, acc in res[1]:
                files_in += len(acc)
                bytes_out += marker.file_bytes
        logs, data = op.call(table.tombstone_cleanup, 0, concurrency=NPROC)
        op.info.update(
            merge_passes=passes,
            merge_files_in=files_in,
            merge_bytes_rewritten=bytes_out,
            vacuum_files_deleted=len(data),
            vacuum_logs_deleted=len(logs),
        )


def files_per_partition(table, **prune) -> dict[str, int]:
    out: dict[str, int] = {}
    for m in table.files_for(**prune):
        out[m.partition()] = out.get(m.partition(), 0) + 1
    return dict(sorted(out.items()))


# ------------------------------------------------------------ IVF model
def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product summed left to right, as the engine's
    ``aggregate(zip_with(...))`` does, so results match bit for bit."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for d in range(a.shape[-1]):
        acc = acc + a[..., d] * b[..., d]
    return acc


def _cos6(a, an, b, bn):
    return np.round(_seq_dot(a, b) / (an * bn), 6)


def ivf_model_topk(ids, vecs, code_ids, code_vecs, q_ids, q_vecs,
                   nprobe: int, k: int) -> dict[int, list[tuple[int, float]]]:
    """Exhaustive top-k over the probed cells: the exact result the IVF
    index search must return (same rounding, tie-breaks and self
    exclusion as the engine's contract)."""
    norms = np.sqrt(_seq_dot(vecs, vecs))
    cnorms = np.sqrt(_seq_dot(code_vecs, code_vecs))
    corder = np.argsort(code_ids, kind="stable")
    code_ids, code_vecs, cnorms = code_ids[corder], code_vecs[corder], cnorms[corder]
    # nearest cell: highest rounded cosine, lowest cid on ties
    sims = _cos6(vecs[:, None, :], norms[:, None], code_vecs[None], cnorms[None])
    cells = code_ids[np.argmax(sims, axis=1)]
    out = {}
    for qid, qv in zip(q_ids, q_vecs):
        qn = np.sqrt(_seq_dot(qv, qv))
        qs = _cos6(qv[None], qn, code_vecs, cnorms)
        probe = code_ids[np.lexsort((code_ids, -qs))][:nprobe]
        cand = np.isin(cells, probe) & (ids != qid)
        cs = _cos6(vecs[cand], norms[cand], qv[None], qn)
        cid = ids[cand]
        top = np.lexsort((cid, -cs))[:k]
        out[int(qid)] = [(int(cid[i]), float(cs[i])) for i in top]
    return out


def same_topk(got: dict, want: dict, tol: float = 2e-6) -> bool:
    if got.keys() != want.keys():
        return False
    for q, w in want.items():
        g = got[q]
        if len(g) != len(w):
            return False
        if any(abs(gc - wc) > tol for (_gi, gc), (_wi, wc) in zip(g, w)):
            return False
        if [i for i, _c in g] != [i for i, _c in w]:
            return False
    return True


def collect_topk(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["neighbor_id"]), float(r["cosine"])))
    return out


# ------------------------------------------------------- e2e metrics
E2E_UNITS = {
    "setup_s": "s",
    "ingest_rows_per_s": "rows/s",
    "insert_ms": "ms",
    "read_ms": "ms",
    "search_ms": "ms",
    "maintain_ms": "ms",
    "dml_ms": "ms",
    "cpu_ms_per_op": "ms",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}


def e2e_metrics(client, sources: dict, cpu_ms: float, loop_ops: int,
                live_user_bytes: int, on_disk_bytes: int,
                peak_rss_mb: float, setup_s: list[float]) -> dict:
    """The end-to-end metrics, each from the phase ``sources`` names for
    it ("loop" or "setup"). Read and DML latencies are geomeans of the
    medians of their shapes; the rest are medians or ratios."""

    def geo(phase, prefix):
        groups = client.phase_samples(phase, prefix)
        return stats.geomean([stats.median(xs) for xs in groups.values()])

    p = sources
    out = {
        "setup_s": stats.median(setup_s),
        "ingest_rows_per_s": (
            client.rows[p["ingest"]] / (client.insert_ms[p["ingest"]] / 1000.0)),
        "insert_ms": stats.median(
            [x for xs in client.phase_samples(p["insert"], "insert").values()
             for x in xs]),
        "read_ms": geo(p["read"], "read"),
        "search_ms": stats.median(client.samples[(p["search"], "search")]),
        "maintain_ms": stats.median(client.samples[(p["maintain"], "maintain")]),
        "dml_ms": geo(p["dml"], "dml"),
        "cpu_ms_per_op": cpu_ms / loop_ops,
        "write_amp": (
            sum(v for (ph, _k), v in client.written.items() if ph == p["write"])
            / client.user_bytes[p["write"]]),
        "space_amp": on_disk_bytes / live_user_bytes,
        "peak_rss_mb": peak_rss_mb,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in out.items()}
