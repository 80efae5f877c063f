"""scan_mix: the analyst shape.

Set-up bulk-loads a month-partitioned event table from a staged Parquet
file (large enough for the distributed write branch), tags it
``release``, lands three late batches and three erasure requests,
compacts and persists an IVF index. The loop then only reads: it rotates
through eight read shapes and an index search, so the log never changes
and every fold after the first is a parse-cache hit. Set-up's own
inserts, erasures and compaction supply the write-side end-to-end metrics.
"""

from __future__ import annotations

import base64
import json
import os

import numpy as np

from . import common
from .common import NPROC

MONTHS = ["2024-01", "2024-02", "2024-03", "2024-04"]
BUCKETS = 4
ROWS = 12_000  # bulk load, all months
LATE_BATCHES, LATE_ROWS = 3, 200  # late batches, last month
ERASURES = 3  # erasure requests per set-up, one user each
PAYLOAD_BYTES = 900
USERS = 4096
EVENTS = ["page", "click", "signup", "purchase", "refund", "share",
          "search", "logout"]
INDEX_VECTORS, INDEX_DIM, INDEX_CELLS = 2000, 16, 8
QUERIES, NPROBE, TOPK = 4, 2, 5
SHAPES = ["month_agg", "event_stats", "json_user", "partition",
          "zone_range", "bloom_eq", "sql_pruned", "time_travel"]
# nominal seconds per rotation (every shape once, one search) on a
# 4-core host: --seconds / this = rotations
ROTATION_S = 3.2
# rotations run once per process, before the loop, while the JIT compiles
# the read and search paths (see ingest_compact.WARMUP_CYCLES)
WARMUP_ROTATIONS = 2

MONTH_MS = {m: int(np.datetime64(f"{m}-01", "ms").astype(np.int64))
            for m in MONTHS + ["2024-05"]}


def rotations_for(seconds: float) -> int:
    return max(2, round(seconds / ROTATION_S))


class Workload:
    # setup_s is their median; the warm ones also supply the write-side
    # samples, so there is one more than ingest_compact needs
    setups = 4
    sources = {"ingest": "setup", "insert": "setup", "read": "loop",
               "search": "loop", "maintain": "setup", "dml": "setup",
               "write": "setup"}

    def __init__(self, spark, seed: int, seconds: float):
        self.spark = spark
        self.seed = seed
        self.rotations = rotations_for(seconds)

    # --------------------------------------------------------- data
    def _frame(self, rng, n: int, months: list[str], first_id: int):
        import pandas as pd

        month = np.array(months)[rng.integers(0, len(months), n)]
        nxt = {m: MONTH_MS[b] for m, b in zip(MONTHS, MONTHS[1:] + ["2024-05"])}
        lo = np.array([MONTH_MS[m] for m in month])
        hi = np.array([nxt[m] for m in month])
        ts = lo + (rng.random(n) * (hi - lo)).astype(np.int64)
        ks = rng.integers(0, 10, n)
        return pd.DataFrame({
            "id": np.arange(first_id, first_id + n, dtype=np.int64),
            "month": month,
            "ts": ts,
            "user_id": rng.integers(0, USERS, n).astype(np.int64),
            "event": np.array(EVENTS)[rng.integers(0, len(EVENTS), n)],
            "props": [json.dumps({"k": int(k), "src": "app"}) for k in ks],
            "value": np.round(rng.random(n) * 100.0, 2),
            "amount": rng.integers(1, 500, n).astype(np.int64),
            # incompressible, so the bulk load is as large on disk as in
            # memory and takes the distributed write branch
            "payload": _payloads(rng, n),
        })

    def prepare(self, work: str) -> None:
        """Generate the inputs (untimed): the staged bulk-load file, the
        late batches and the index corpus."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng([self.seed, 0])
        self.base = self._frame(rng, ROWS, MONTHS, 1)
        self.late = [self._frame(rng, LATE_ROWS, [MONTHS[-1]],
                                 ROWS + 1 + i * LATE_ROWS)
                     for i in range(LATE_BATCHES)]
        # the erased users share one bucket and each has a row in every
        # month and in the first late batch, so the erasures rewrite (and
        # the tag keeps) the same files whatever the seed
        bucket = int(rng.integers(0, BUCKETS))
        self.erased = [bucket + BUCKETS * int(k) for k in
                       rng.choice(USERS // BUCKETS, ERASURES, replace=False)]
        for i, u in enumerate(self.erased):
            for m in MONTHS:
                row = np.flatnonzero(self.base["month"] == m)[i]
                self.base.loc[row, "user_id"] = u
            self.late[0].loc[i, "user_id"] = u
        os.makedirs(work, exist_ok=True)
        self.staged = os.path.join(work, "bulk_load.parquet")
        pq.write_table(pa.Table.from_pandas(self.base, preserve_index=False),
                       self.staged)
        self.vec_ids = np.arange(INDEX_VECTORS, dtype=np.int64)
        self.vecs = rng.standard_normal((INDEX_VECTORS, INDEX_DIM))

    # -------------------------------------------------------- set-up
    def setup(self, client, work: str) -> None:
        """Bulk load, tag, late batches, erasure, compaction, index."""
        import pandas as pd
        from icedb_spark import IceTable, PartitionField, PartitionSpec
        from icedb_spark import operators as ops

        spark = self.spark
        root = os.path.join(work, "events")
        self.table = IceTable(
            spark, root,
            PartitionSpec(fields=[
                PartitionField("month", "month"),
                PartitionField("b", f"pmod(user_id, {BUCKETS})"),
            ]),
            sort_order=["ts", "id"],
            bloom_columns=["user_id"],
        )
        client.ledger.add_root(root)
        with client.op("insert", "insert.bulk") as op:
            op.call(self.table.insert, df=spark.read.parquet(self.staged))
        client.ingested(op, len(self.base), _user_bytes(self.base))
        self.table.tag("release")
        self.release = self.base
        for late in self.late:
            df = spark.createDataFrame(late)
            with client.op("insert", "insert.late") as op:
                op.call(self.table.insert, df=df)
            client.ingested(op, len(late), _user_bytes(late))
        for u in self.erased:
            with client.op("dml", "dml.delete") as op:
                out = op.call(self.table.delete, f"user_id = {u}",
                              concurrency=NPROC)
                op.info["files_rewritten"] = out["files_rewritten"]
        head = pd.concat([self.base, *self.late], ignore_index=True)
        self.head = head[~head["user_id"].isin(self.erased)].reset_index(
            drop=True)
        common.maintain(client, self.table)

        corpus = spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(self.vec_ids, self.vecs)],
            "vec_id long, embedding array<double>")
        self.codebook_table = IceTable(
            spark, os.path.join(work, "codebook"),
            PartitionSpec(fields=[PartitionField("p", "'all'")]))
        self.index = IceTable(
            spark, os.path.join(work, "index"),
            PartitionSpec(fields=[PartitionField("cell", "cell")]),
            sort_order=["vec_id"], bloom_columns=["cell"])
        with client.op("index") as op:
            code = op.call(ops.ivf_codebook_rows, corpus,
                           n_centroids=INDEX_CELLS)
            op.call(self.codebook_table.insert, df=code)
            op.call(self.index.insert, df=ops.ivf_index_rows(corpus, code))
        self.rng = np.random.default_rng([self.seed, 1])

    # ---------------------------------------------------------- reads
    def _shape(self, name: str, rng):
        """(callable returning rows, expected rows) for one read shape."""
        from pyspark.sql import functions as F

        t, h = self.table, self.head
        m = MONTHS[int(rng.integers(0, len(MONTHS)))]
        u = int(h["user_id"].iloc[int(rng.integers(0, len(h)))])
        lo = MONTH_MS[m] + int(rng.integers(0, 20)) * 86_400_000
        hi = lo + 7 * 86_400_000
        if name == "month_agg":
            run = lambda: t.read().groupBy("month").agg(
                F.count("*").alias("n"), F.sum("value").alias("s")).collect()
            g = h.groupby("month")["value"]
            want = {k: (int(n), s) for k, n, s in
                    zip(g.count().index, g.count(), g.sum())}
            key = lambda r: (r["month"], (r["n"], r["s"]))
        elif name == "event_stats":
            run = lambda: t.read().groupBy("event").agg(
                F.count("*").alias("n"), F.median("value").alias("s")).collect()
            g = h.groupby("event")["value"]
            want = {k: (int(n), s) for k, n, s in
                    zip(g.count().index, g.count(), g.median())}
            key = lambda r: (r["event"], (r["n"], r["s"]))
        elif name == "json_user":
            run = lambda: t.read().where(F.col("user_id") == u).groupBy(
                F.get_json_object("props", "$.k").cast("int").alias("k")).agg(
                F.count("*").alias("n"), F.sum("amount").alias("s")).collect()
            sub = h[h["user_id"] == u]
            ks = sub["props"].map(lambda p: json.loads(p)["k"])
            g = sub.groupby(ks)["amount"]
            want = {int(k): (int(n), int(s)) for k, n, s in
                    zip(g.count().index, g.count(), g.sum())}
            key = lambda r: (r["k"], (r["n"], r["s"]))
        elif name == "partition":
            run = lambda: t.read(partition_values={"month": m}).agg(
                F.count("*").alias("n"), F.sum("amount").alias("s")).collect()
            sub = h[h["month"] == m]
            want = {0: (len(sub), int(sub["amount"].sum()))}
            key = lambda r: (0, (r["n"], r["s"]))
        elif name == "zone_range":
            run = lambda: t.read(column_ranges={"ts": (lo, hi)}).where(
                F.col("ts").between(lo, hi)).agg(
                F.count("*").alias("n"), F.sum("value").alias("s")).collect()
            sub = h[(h["ts"] >= lo) & (h["ts"] <= hi)]
            want = {0: (len(sub), sub["value"].sum())}
            key = lambda r: (0, (r["n"], r["s"] or 0.0))
        elif name == "bloom_eq":
            run = lambda: t.read(column_equals={"user_id": u}).where(
                F.col("user_id") == u).agg(
                F.count("*").alias("n"), F.sum("amount").alias("s")).collect()
            sub = h[h["user_id"] == u]
            want = {0: (len(sub), int(sub["amount"].sum()))}
            key = lambda r: (0, (r["n"], r["s"]))
        elif name == "sql_pruned":
            q = (f"SELECT event, count(*) AS n, sum(amount) AS s FROM ice "
                 f"WHERE month = '{m}' AND ts BETWEEN {lo} AND {hi} "
                 f"GROUP BY event")
            run = lambda: t.sql(q).collect()
            sub = h[(h["month"] == m) & (h["ts"] >= lo) & (h["ts"] <= hi)]
            g = sub.groupby("event")["amount"]
            want = {k: (int(n), int(s)) for k, n, s in
                    zip(g.count().index, g.count(), g.sum())}
            key = lambda r: (r["event"], (r["n"], r["s"]))
        else:  # time_travel
            run = lambda: t.read(tag="release").agg(
                F.count("*").alias("n"), F.sum("value").alias("s")).collect()
            r0 = self.release
            want = {0: (len(r0), r0["value"].sum())}
            key = lambda r: (0, (r["n"], r["s"]))
        return run, want, key

    def _read(self, client, name: str, rng) -> None:
        run, want, key = self._shape(name, rng)
        with client.op("read", f"read.{name}") as op:
            rows = op.call(run)
        got = dict(key(r) for r in rows)
        client.check(_close(got, want),
                     f"read shape {name}: got {got}, expected {want}")

    def _search(self, client, rng, check: bool) -> None:
        from icedb_spark import operators as ops

        qv = rng.standard_normal((QUERIES, INDEX_DIM))
        qids = -np.arange(1, QUERIES + 1, dtype=np.int64)
        qdf = self.spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(qids, qv)],
            "vec_id long, embedding array<double>")
        with client.op("search") as op:
            res = op.call(lambda: ops.cosine_topk_against_index_table(
                qdf, self.index, self.codebook_table.read(),
                nprobe=NPROBE, k=TOPK).collect())
        if check:
            want = common.ivf_model_topk(
                self.vec_ids, self.vecs, self.vec_ids[:INDEX_CELLS],
                self.vecs[:INDEX_CELLS], qids, qv, NPROBE, TOPK)
            client.check(common.same_topk(common.collect_topk(res), want),
                         "index search differs from brute-force top-k")

    def rotation(self, client, search: bool = True,
                 check_search: bool = False) -> None:
        rng = self.rng
        for name in SHAPES:
            self._read(client, name, rng)
        if search:
            self._search(client, rng, check_search)

    def warmup(self, client) -> None:
        # one full rotation (its search checked), then reads only
        for i in range(WARMUP_ROTATIONS):
            self.rotation(client, search=i == 0, check_search=i == 0)

    def loop(self, client) -> None:
        for _ in range(self.rotations):
            self.rotation(client)

    # ------------------------------------------------------ results
    def live_user_bytes(self) -> int:
        return _user_bytes(self.head)

    def detail(self) -> dict:
        return {"rotations": self.rotations,
                "files_per_partition": sorted(set(
                    common.files_per_partition(self.table).values()))}


def _user_bytes(frame) -> int:
    """Bytes of the rows as JSON lines — what a client would upload."""
    return sum(len(line) for line in
               frame.to_json(orient="records", lines=True).splitlines())


def _close(got: dict, want: dict) -> bool:
    if got.keys() != want.keys():
        return False
    for k, (n, s) in want.items():
        gn, gs = got[k]
        if gn != n or abs((gs or 0) - s) > 1e-9 * max(1.0, abs(s)):
            return False
    return True


def _payloads(rng, n: int) -> list[str]:
    raw = rng.bytes(n * PAYLOAD_BYTES)
    return [base64.b64encode(raw[i:i + PAYLOAD_BYTES]).decode()
            for i in range(0, len(raw), PAYLOAD_BYTES)]
