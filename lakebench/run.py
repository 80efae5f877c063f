"""Lakehouse benchmark: one closed-loop client driving the icedb_spark
engine through its public API.

    python3 lakebench/run.py --workload ingest_compact --seed 1 \
        --seconds 16 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the run's detail record (host noise,
tails, layouts, tracing overhead). Everything the run writes stays under
``.lakebench/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback



def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_compact", "scan_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal loop length; sets the fixed work done")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _workload_class(name: str):
    if name == "ingest_compact":
        from lakebench.ingest_compact import Workload
    else:
        from lakebench.scan_mix import Workload
    return Workload


def _run(args, root: str, out_dir: str, emit) -> int:
    from lakebench import common, host, layers, stats
    from lakebench.client import Client, CheckFailed
    from lakebench.stats import ByteLedger

    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    procs = host.ProcessTree()
    spark, start_s = host.start_session(work, bool(args.trace))
    client = Client()
    # the engine's log keys embed the writer's pid, so a pid of another
    # width changes log bytes (and write_amp) by a few bytes per commit
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "pid": os.getpid(), "session.start_s": start_s}
    try:
        if args.trace:
            from lakebench.trace import Tracer

            client.tracer = Tracer(spark, procs)
            client.tracer.install()
        tracer = client.tracer
        # numpy seeds must be non-negative
        wl = _workload_class(args.workload)(
            spark, args.seed % (1 << 63), args.seconds)
        wl.prepare(os.path.join(work, "inputs"))
        setup_s = []
        for i in range(wl.setups):
            client.phase = "coldsetup" if i == 0 else "setup"
            client.ledger = ByteLedger()
            if i:
                shutil.rmtree(os.path.join(work, f"setup-{i - 1}"))
            t0 = time.perf_counter()
            wl.setup(client, os.path.join(work, f"setup-{i}"))
            setup_s.append(time.perf_counter() - t0)
            if i == 0:
                # JIT and Python-worker warmth is per process: warm every
                # path on the first set-up's tables
                client.phase = "warmup"
                wl.warmup(client)

        # peak memory is the loop's own: collect what set-up left on the
        # JVM heap, then restart the high-water marks
        spark._jvm.System.gc()
        procs.reset_peak_rss()
        calib0 = host.calibration_ms()
        steal0 = host.cpu_times()
        cpu0 = procs.cpu_ms()
        attempted0 = client.attempted
        client.phase = "loop"
        t0 = time.perf_counter()
        wl.loop(client)
        loop_s = time.perf_counter() - t0
        cpu1 = procs.cpu_ms()
        steal1 = host.cpu_times()
        calib1 = host.calibration_ms()
        loop_ops = client.attempted - attempted0
        client.ledger.scan()
        rss = procs.peak_rss_mb()

        e2e = common.e2e_metrics(
            client, wl.sources,
            cpu_ms=sum(cpu1.values()) - sum(cpu0.values()),
            loop_ops=loop_ops,
            live_user_bytes=wl.live_user_bytes(),
            on_disk_bytes=client.ledger.on_disk,
            peak_rss_mb=rss["total"],
            setup_s=setup_s,
        )
        detail.update({
            "steal_pct": host.steal_pct(steal0, steal1),
            "calibration_ms": {"before": calib0, "after": calib1},
            "loop_s": loop_s,
            "loop_ops": loop_ops,
            "setup_s": setup_s,
            "cpu_ms": {k: cpu1[k] - cpu0[k] for k in cpu1},
            "peak_rss_mb": rss,
            "tails": {f"{ph}:{name}": stats.tail(xs)
                      for (ph, name), xs in sorted(client.samples.items())},
            "end_to_end": {k: v["value"] for k, v in e2e.items()},
            **wl.detail(),
        })
        result_dir = os.path.join(out_dir, "results")
        os.makedirs(result_dir, exist_ok=True)
        key = f"{args.workload}-{args.seed}-{args.seconds:g}"
        with open(os.path.join(result_dir, f"{key}-trace{args.trace}.json"), "w") as f:
            json.dump({"end_to_end": detail["end_to_end"],
                       "samples": {f"{ph}:{name}": xs for (ph, name), xs
                                   in client.samples.items()}}, f)
        if args.trace:
            tracer.uninstall()
            metrics = layers.per_layer_metrics(tracer, wl.sources, start_s)
            detail["trace_overhead"] = _overhead(
                os.path.join(result_dir, f"{key}-trace0.json"),
                detail["end_to_end"])
            span_dir = os.path.join(out_dir, "spans")
            os.makedirs(span_dir, exist_ok=True)
            tracer.write(os.path.join(span_dir, f"{key}.jsonl"))
        else:
            metrics = e2e
        correct = True
    except CheckFailed as e:
        detail["failure"] = str(e)
        metrics, correct = {}, False
    except Exception:
        detail["failure"] = traceback.format_exc()
        metrics, correct = {}, False
    finally:
        host.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not correct:
        client.failed = max(client.failed, 1)
        print(detail["failure"], file=sys.stderr)
    emit({"detail": detail})
    emit({"correct": correct, "attempted": max(1, client.attempted),
          "failed": client.failed, "metrics": metrics})
    return 0 if correct else 1


def _overhead(untraced_path: str, traced: dict):
    """Traced minus untraced end-to-end figures for the same workload,
    seed and length, when an untraced run left its figures behind."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)["end_to_end"]
    except FileNotFoundError:
        return None
    return {k: {"traced_minus_untraced": traced[k] - base[k],
                "pct": 100.0 * (traced[k] - base[k]) / base[k] if base[k] else None}
            for k in traced if k in base}


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "icedb_spark", "__init__.py")):
        print("lakebench: run from the repository root (icedb_spark/ not "
              "found here)", file=sys.stderr)
        return 2
    # the result goes to the real stdout; anything else the engine, the
    # JVM or its workers print lands on stderr
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    def emit(obj):
        real_stdout.write(json.dumps(obj) + "\n")
        real_stdout.flush()

    sys.path.insert(0, root)
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from lakebench.common import NPROC

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(NPROC))
    out_dir = os.path.join(root, ".lakebench")
    os.makedirs(out_dir, exist_ok=True)
    try:
        import icedb_spark  # noqa: F401
    except ImportError as e:
        print(f"lakebench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    return _run(args, root, out_dir, emit)


if __name__ == "__main__":
    sys.exit(main())
