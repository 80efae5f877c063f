"""Unit tests for the benchmark's helpers; no JVM needed.

    python3 -m pytest lakebench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from lakebench import layers, stats
from lakebench.common import ivf_model_topk, same_topk

HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------- statistics
def test_median_geomean():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    assert stats.geomean([1, 4, 16]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1, 0])
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_reports_highest_percentile_with_ten_beyond():
    assert stats.tail(list(range(50))) == {"n": 50, "p50": 24.5}
    t = stats.tail(list(range(1, 101)))
    assert t["n"] == 100 and t["p90"] == 90 and "p99" not in t
    t = stats.tail(list(range(1, 1001)))
    assert t["p99"] == 990 and "p99.9" not in t


# -------------------------------------------------------------- self time
def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 10), (5, 15), (20, 25)]) == 20
    assert stats.union_length([(0, 10), (2, 3), (3, 4)]) == 10
    assert stats.union_length([(5, 5), (7, 6)]) == 0


def test_self_time_clips_children_to_the_span():
    # children overlapping each other and the span's edges
    assert stats.self_time(10, 20, [(5, 12), (11, 14), (18, 30)]) == 4
    assert stats.self_time(10, 20, []) == 10
    assert stats.self_time(10, 20, [(0, 100)]) == 0
    assert stats.self_time(10, 20, [(30, 40)]) == 10


def test_op_self_ms_counts_top_level_calls_only():
    spans = [
        {"id": 1, "parent": 0, "layer": "table", "start_ms": 0, "end_ms": 100},
        # nested read inside sql: already inside span 1
        {"id": 2, "parent": 1, "layer": "table", "start_ms": 10, "end_ms": 90},
        {"id": 3, "parent": 2, "layer": "log", "start_ms": 10, "end_ms": 30},
        {"id": 4, "parent": 2, "layer": "pruning", "start_ms": 25, "end_ms": 35},
        # a second top-level call
        {"id": 5, "parent": 0, "layer": "operators", "start_ms": 200,
         "end_ms": 250},
        {"id": 6, "parent": 0, "layer": "op", "start_ms": 0, "end_ms": 300},
    ]
    jobs = [{"start_ms": 50, "end_ms": 80}, {"start_ms": 240, "end_ms": 260},
            {"start_ms": None, "end_ms": None}]
    # span 1: 100 - (10..35 = 25) - (50..80 = 30) = 45; span 5: 50 - 10
    assert layers.op_self_ms(spans, jobs) == 85


# ------------------------------------------------------------ byte ledger
def test_byte_ledger_counts_new_and_rewritten_files(tmp_path):
    root = tmp_path / "t"
    (root / "_data").mkdir(parents=True)
    ledger = stats.ByteLedger([str(root)])
    (root / "_data" / "a.parquet").write_bytes(b"x" * 100)
    (root / "_log").mkdir()
    (root / "_log" / "1.jsonl").write_bytes(b"y" * 10)
    assert ledger.scan() == 110
    assert ledger.written == 110 and ledger.on_disk == 110
    # nothing new
    assert ledger.scan() == 0
    # a delete shrinks the footprint but not what was written
    os.remove(root / "_data" / "a.parquet")
    (root / "_data" / "b.parquet").write_bytes(b"z" * 40)
    assert ledger.scan() == 40
    assert ledger.written == 150 and ledger.on_disk == 50
    # a rewrite in place with another size counts again
    (root / "_log" / "1.jsonl").write_bytes(b"y" * 12)
    assert ledger.scan() == 12
    assert ledger.written == 162 and ledger.on_disk == 52


def test_byte_ledger_ignores_missing_roots(tmp_path):
    ledger = stats.ByteLedger([str(tmp_path / "absent")])
    assert ledger.scan() == 0 and ledger.on_disk == 0


# -------------------------------------------------------------- IVF model
def _naive_topk(ids, vecs, code_ids, code_vecs, q_ids, q_vecs, nprobe, k):
    def cos(a, b):
        return round(float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    cells = [max(code_ids, key=lambda c: (cos(v, code_vecs[list(code_ids).index(c)]), -c))
             for v in vecs]
    out = {}
    for qid, qv in zip(q_ids, q_vecs):
        ranked = sorted(code_ids, key=lambda c: (-cos(qv, code_vecs[list(code_ids).index(c)]), c))
        probe = set(ranked[:nprobe])
        cand = [(-cos(v, qv), i) for i, v, c in zip(ids, vecs, cells)
                if c in probe and i != qid]
        out[int(qid)] = [(int(i), -s) for s, i in sorted(cand)[:k]]
    return out


def test_ivf_model_matches_a_naive_loop():
    rng = np.random.default_rng(7)
    ids = np.arange(300, dtype=np.int64)
    vecs = rng.standard_normal((300, 8))
    q_ids = np.array([-1, 5, -3], dtype=np.int64)
    q_vecs = np.vstack([rng.standard_normal(8), vecs[5], rng.standard_normal(8)])
    got = ivf_model_topk(ids, vecs, ids[:6], vecs[:6], q_ids, q_vecs, 2, 4)
    want = _naive_topk(ids, vecs, ids[:6], vecs[:6], q_ids, q_vecs, 2, 4)
    assert same_topk(got, want, tol=1e-6)
    # self exclusion: query 5 never returns itself
    assert all(i != 5 for i, _c in got[5])


def test_same_topk_rejects_other_ids_or_scores():
    want = {1: [(10, 0.9), (11, 0.8)]}
    assert same_topk({1: [(10, 0.9), (11, 0.8)]}, want)
    assert not same_topk({1: [(11, 0.9), (10, 0.8)]}, want)
    assert not same_topk({1: [(10, 0.9), (11, 0.7)]}, want)
    assert not same_topk({2: [(10, 0.9), (11, 0.8)]}, want)


# ------------------------------------------------------ BENCHMARK.json
def test_benchmark_json_names_match_the_code():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        layers.metric_names()
    from lakebench.common import E2E_UNITS

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {w["name"] for w in spec["workloads"]} == \
        {"ingest_compact", "scan_mix"}


# ---------------------------------------------------------------- selftest
def _record(pid, write_amp, layouts=None, jobs=2.0):
    detail = {"pid": pid, "end_to_end": {"write_amp": write_amp,
                                         "space_amp": 0.2},
              "layouts": layouts or [{"partitions": 4,
                                      "files_per_partition": [1]}] * 3}
    return detail, {"session.jobs_per_op.read": {"value": jobs},
                    "log.fold_ms": {"value": 1.0 + write_amp}}


def test_selftest_compare_is_exact_unless_pid_widths_differ():
    from lakebench.selftest import compare

    assert compare("scan_mix", [_record(1234, 0.5), _record(4321, 0.5)]) == []
    # timings may differ; counts may not
    assert compare("scan_mix", [_record(10, 0.5), _record(20, 0.5, jobs=3.0)])
    # same pid width: bytes must match exactly
    assert compare("scan_mix", [_record(1234, 0.5), _record(4321, 0.50001)])
    # another pid width moves log bytes slightly: tolerated, but no more
    assert compare("scan_mix", [_record(1234, 0.5), _record(12345, 0.50001)]) == []
    assert compare("scan_mix", [_record(1234, 0.5), _record(12345, 0.51)])
    uneven = [{"partitions": 4, "files_per_partition": [1]},
              {"partitions": 4, "files_per_partition": [1, 2]}]
    assert compare("ingest_compact",
                   [_record(1, 0.5, uneven), _record(2, 0.5, uneven)])
