"""The single closed-loop client: runs one operation at a time, times the
public calls it makes, records bytes written after each operation and
checks results outside the timed region."""

from __future__ import annotations

import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from .stats import ByteLedger


class CheckFailed(Exception):
    pass


class Op:
    """One operation of the client. ``call`` times a public engine call;
    time spent between calls (ledger scans) is not part of the op."""

    def __init__(self, client: "Client"):
        self.client = client
        self.ms = 0.0
        self.written = 0
        self.info: dict = {}

    def call(self, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.ms += (time.perf_counter() - t0) * 1000.0

    def scan(self) -> None:
        """Account bytes written so far; used between the passes of a
        multi-call op whose later calls delete what earlier ones wrote."""
        self.written += self.client.ledger.scan()


class Client:
    def __init__(self, tracer=None):
        self.tracer = tracer
        self.phase = "setup"
        self.samples: dict[tuple[str, str], list[float]] = defaultdict(list)
        self.written = Counter()  # (phase, kind) -> bytes written
        self.user_bytes = Counter()  # phase -> user bytes ingested
        self.rows = Counter()  # phase -> rows inserted
        self.insert_ms = Counter()  # phase -> insert call time
        self.attempted = 0
        self.failed = 0
        self.ledger = ByteLedger()

    @contextmanager
    def op(self, kind: str, name: str | None = None):
        """Run one operation of ``kind`` (insert, read, maintain, dml,
        search); its latency sample is filed under ``name``."""
        name = name or kind
        self.attempted += 1
        op = Op(self)
        if self.tracer:
            self.tracer.begin_op(kind, name, self.phase)
        try:
            yield op
        except Exception:
            self.failed += 1
            raise
        finally:
            op.scan()
            if self.tracer:
                self.tracer.end_op(op.ms, {"written": op.written, **op.info})
        self.samples[(self.phase, name)].append(op.ms)
        self.written[(self.phase, kind)] += op.written

    def ingested(self, op: Op, rows: int, user_bytes: int) -> None:
        self.rows[self.phase] += rows
        self.user_bytes[self.phase] += user_bytes
        self.insert_ms[self.phase] += op.ms

    def check(self, ok: bool, what: str) -> None:
        """A wrong result fails the operation just run."""
        if not ok:
            self.failed += 1
            raise CheckFailed(what)

    def phase_samples(self, phase: str, prefix: str) -> dict[str, list[float]]:
        return {
            name: xs for (p, name), xs in self.samples.items()
            if p == phase and (name == prefix or name.startswith(prefix + "."))
        }
