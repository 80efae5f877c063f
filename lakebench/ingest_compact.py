"""ingest_compact: the webhook-sink shape.

Each cycle is one event day. Small row-dict batches go through
``insert(rows=)``, each followed by a read-your-write count/sum of the
day; the cycle then runs one reference-index lookup (``search``), one
erasure request (copy-on-write ``delete`` of a user's rows that day) and
ends with the maintenance step. Days roll forward, so each cycle's
compaction work and read-your-write file set are the same size.
"""

from __future__ import annotations

import json
import os

import numpy as np

from . import common, stats
from .common import NPROC

# sizes; BENCHMARK.json records them next to the workload
HISTORY_DAYS = 2
HISTORY_ROWS = 1500
# rows per insert in each cycle (the seed picks the order), so every seed
# ingests the same volume in the same number of commits
BATCH_ROWS = (30, 300, 1500)
USERS = 1000
BUCKETS = 4
# reference index the per-cycle lookup searches
REF_VECTORS, REF_DIM, REF_CELLS = 2000, 16, 8
QUERIES, NPROBE, TOPK = 4, 2, 5
# nominal seconds per cycle on a 4-core host: --seconds / this = cycles
CYCLE_S = 3.5
# cycles run once per process, before the loop: latencies keep falling
# while the JIT compiles the engine's hot paths, and the loop's medians
# only repeat run to run once the steepest part of that curve is behind
WARMUP_CYCLES = 3

DAY0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
EVENTS = ["page", "click", "signup", "purchase", "refund", "share",
          "search", "logout"]


def cycles_for(seconds: float) -> int:
    return max(2, round(seconds / CYCLE_S))


def day_str(day: int) -> str:
    import datetime as dt

    return (dt.date(2024, 1, 1) + dt.timedelta(days=day)).isoformat()


class Workload:
    setups = 3  # setup_s is their median
    # phase each end-to-end metric is measured in
    sources = {"ingest": "loop", "insert": "loop", "read": "loop",
               "search": "loop", "maintain": "loop", "dml": "loop",
               "write": "loop"}

    def __init__(self, spark, seed: int, seconds: float):
        self.spark = spark
        self.seed = seed
        self.cycles = cycles_for(seconds)

    # --------------------------------------------------------- data
    def _rows(self, rng, n: int, day: int) -> list[dict]:
        ts = DAY0_MS + day * DAY_MS + rng.integers(0, DAY_MS, n)
        users = rng.integers(0, USERS, n)
        events = rng.integers(0, len(EVENTS), n)
        ks = rng.integers(0, 10, n)
        vals = np.round(rng.random(n) * 100.0, 2)
        d = day_str(day)
        rows = []
        for i in range(n):
            self.next_id += 1
            rows.append({
                "id": self.next_id,
                "day": d,
                "ts": int(ts[i]),
                "user_id": int(users[i]),
                "event": EVENTS[events[i]],
                "props": json.dumps({"k": int(ks[i]), "src": "hook"}),
                "value": float(vals[i]),
            })
        return rows

    def prepare(self, work: str) -> None:
        """Generate the set-up inputs (untimed)."""
        rng = np.random.default_rng([self.seed, 0])
        self.next_id = 0
        self.history = [self._rows(rng, HISTORY_ROWS, day)
                        for day in range(HISTORY_DAYS)]
        self.ref_ids = np.arange(REF_VECTORS, dtype=np.int64)
        self.ref_vecs = rng.standard_normal((REF_VECTORS, REF_DIM))
        self.code_ids = self.ref_ids[:REF_CELLS]
        self.code_vecs = self.ref_vecs[:REF_CELLS]
        self.first_loop_id = self.next_id

    # -------------------------------------------------------- set-up
    def setup(self, client, work: str) -> None:
        """Event table with two compacted history days, and the reference
        index (codebook + IVF rows) the per-cycle lookup searches."""
        from icedb_spark import IceTable, PartitionField, PartitionSpec
        from icedb_spark import operators as ops

        spark = self.spark
        self.next_id = self.first_loop_id
        self.layouts = []
        self.model: dict[str, list[dict]] = {}
        root = os.path.join(work, "events")
        self.table = IceTable(
            spark, root,
            PartitionSpec(fields=[
                PartitionField("day", "day"),
                PartitionField("b", f"pmod(user_id, {BUCKETS})"),
            ]),
            sort_order=["ts", "id"],
        )
        client.ledger.add_root(root)
        for rows in self.history:
            self._insert(client, rows)
        common.maintain(client, self.table)

        corpus = spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(self.ref_ids, self.ref_vecs)],
            "vec_id long, embedding array<double>",
        )
        self.codebook_table = IceTable(
            spark, os.path.join(work, "codebook"),
            PartitionSpec(fields=[PartitionField("p", "'all'")]),
        )
        self.index = IceTable(
            spark, os.path.join(work, "ref_index"),
            PartitionSpec(fields=[PartitionField("cell", "cell")]),
            sort_order=["vec_id"], bloom_columns=["cell"],
        )
        with client.op("index") as op:
            code = op.call(ops.ivf_codebook_rows, corpus, n_centroids=REF_CELLS)
            op.call(self.codebook_table.insert, df=code)
            op.call(self.index.insert, df=ops.ivf_index_rows(corpus, code))
        self.rng = np.random.default_rng([self.seed, 1])
        self.day = HISTORY_DAYS

    def _insert(self, client, rows: list[dict]) -> None:
        with client.op("insert") as op:
            op.call(self.table.insert, rows=rows)
        client.ingested(op, len(rows), sum(map(_user_bytes, rows)))
        self.model.setdefault(rows[0]["day"], []).extend(rows)

    # --------------------------------------------------------- loop
    def _read_day(self, op, d: str):
        from pyspark.sql import functions as F

        call = op.call if op is not None else (lambda f: f())
        return call(lambda: self.table.read(partition_values={"day": d})
                    .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
                    .collect()[0])

    def _check_day(self, client, row, d: str, what: str) -> None:
        rows = self.model.get(d, [])
        want_s = sum(r["value"] for r in rows)
        got_s = row["s"] or 0.0
        client.check(
            row["n"] == len(rows)
            and abs(got_s - want_s) <= 1e-9 * max(1.0, abs(want_s)),
            f"{what}: day {d} has n={row['n']} s={got_s}, "
            f"expected n={len(rows)} s={want_s}",
        )

    def cycle(self, client, full: bool = True, check_search: bool = False) -> None:
        """One day. A light cycle (``full=False``, warm-up only) skips the
        lookup and the erasure."""
        from icedb_spark import operators as ops

        rng = self.rng
        day = self.day
        d = day_str(day)
        # the day's erasure request is for a user with a row in every
        # batch, so it rewrites the same number of files each cycle
        u = int(rng.integers(0, USERS))
        reads = []
        for n in rng.permutation(BATCH_ROWS):
            rows = self._rows(rng, int(n), day)
            rows[0]["user_id"] = u
            self._insert(client, rows)
            with client.op("read", "read.ryw") as op:
                row = self._read_day(op, d)
            reads.append(op.ms)
            self._check_day(client, row, d, "read-your-write")
        if full:
            self._lookup(client, ops, check_search)
            self._erase(client, d, u)
        common.maintain(client, self.table)
        self._check_day(client, self._read_day(None, d), d,
                        "after maintenance")
        layout = common.files_per_partition(
            self.table, partition_values={"day": d})
        self.layouts.append(
            {"day": d, "files_per_partition": sorted(set(layout.values())),
             "partitions": len(layout), "read_ms": reads})
        self.day += 1

    def _lookup(self, client, ops, check: bool) -> None:
        qv = self.rng.standard_normal((QUERIES, REF_DIM))
        qids = -np.arange(1, QUERIES + 1, dtype=np.int64)
        qdf = self.spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(qids, qv)],
            "vec_id long, embedding array<double>",
        )
        with client.op("search") as op:
            res = op.call(lambda: ops.cosine_topk_against_index_table(
                qdf, self.index, self.codebook_table.read(),
                nprobe=NPROBE, k=TOPK).collect())
        if check:
            want = common.ivf_model_topk(
                self.ref_ids, self.ref_vecs, self.code_ids, self.code_vecs,
                qids, qv, NPROBE, TOPK)
            client.check(common.same_topk(common.collect_topk(res), want),
                         "reference-index search differs from the model")

    def _erase(self, client, d: str, u: int) -> None:
        with client.op("dml", "dml.delete") as op:
            out = op.call(self.table.delete,
                          f"day = '{d}' AND user_id = {u}",
                          concurrency=NPROC)
            op.info["files_rewritten"] = out["files_rewritten"]
        self.model[d] = [r for r in self.model[d] if r["user_id"] != u]

    def warmup(self, client) -> None:
        # one full cycle warms every path (and checks the first search);
        # light ones carry the insert/read/compaction curve further
        for i in range(WARMUP_CYCLES):
            self.cycle(client, full=i == 0, check_search=i == 0)

    def loop(self, client) -> None:
        for _ in range(self.cycles):
            self.cycle(client)

    # ------------------------------------------------------ results
    def live_user_bytes(self) -> int:
        return sum(_user_bytes(r) for rows in self.model.values()
                   for r in rows)

    def detail(self) -> dict:
        """Cycle layouts, and the read-your-write median of the first and
        second half of the loop's cycles (levelled state keeps them equal)."""
        loop = self.layouts[-self.cycles:]
        half = len(loop) // 2
        halves = [[x for c in part for x in c["read_ms"]]
                  for part in (loop[:half], loop[len(loop) - half:])]
        return {"cycles": self.cycles, "layouts": self.layouts,
                "read_ms_halves": [stats.median(h) for h in halves]}


def _user_bytes(row: dict) -> int:
    """Bytes of the row as a compact JSON line — what the webhook posts."""
    return len(json.dumps(row, separators=(",", ":")))
