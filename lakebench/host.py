"""The process side of a run: the Spark session as users start it, the
CPU and memory of the driver's process tree, and the host-noise record
(steal and a fixed calibration probe)."""

from __future__ import annotations

import os
import signal
import subprocess
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def start_session(work_dir: str, trace: bool):
    """``get_spark`` as it stands, with only the UI and the progress bar
    silenced and scratch space kept inside ``work_dir`` (no JIT or heap
    flags: memory and warm-up are what users get). The traced run
    also widens the status store, so per-op job records are not evicted
    before they are read. Returns ``(spark, seconds to start)``."""
    from icedb_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # keep the JVM's temp files and its perf-counter file (which
        # ignores java.io.tmpdir) out of the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "10000000",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="lakebench", extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, then the gateway JVM it launched, and wait until every
    process this run started has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone after stop()
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=timeout_s)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        rest = descendants(os.getpid())
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)
        try:  # reap zombies of our own children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may contain spaces; fields resume after ')'
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ms(pid: int, with_children: bool = True) -> float:
    """utime + stime of ``pid``, plus its reaped children's, in ms."""
    try:
        f = _stat_fields(pid)
    except OSError:
        return 0.0
    # after ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks * 1000.0 / _CLK_TCK


class ProcessTree:
    """CPU split of the driver, the JVM it launched and the JVM's Python
    workers. Reaped workers still count through their parent's child
    times, so deltas between two samples are complete."""

    def __init__(self):
        self.driver = os.getpid()

    def jvm(self) -> list[int]:
        kids = []
        for pid in descendants(self.driver):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        kids.append(pid)
            except OSError:
                continue
        return kids

    def cpu_ms(self) -> dict[str, float]:
        jvms = self.jvm()
        jvm_ms = sum(_cpu_ms(p, with_children=False) for p in jvms)
        workers = [w for p in jvms for w in descendants(p)]
        worker_ms = sum(_cpu_ms(p) for p in workers)
        # the JVM's own child times are its reaped Python workers
        worker_ms += sum(_cpu_ms(p) - _cpu_ms(p, False) for p in jvms)
        return {
            "driver": _cpu_ms(self.driver, with_children=False),
            "jvm": jvm_ms,
            "worker": worker_ms,
        }

    def reset_peak_rss(self) -> None:
        """Restart every process's resident high-water mark, so the next
        ``peak_rss_mb`` covers only what runs after this call."""
        jvms = self.jvm()
        for pid in [self.driver, *jvms, *(w for p in jvms for w in descendants(p))]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                continue

    def peak_rss_mb(self) -> dict[str, float]:
        """Resident high-water mark (VmHWM) of the driver, the JVM and
        the JVM's live Python workers, and their sum — an upper bound on
        the tree's peak."""
        jvms = self.jvm()
        parts = {"driver": [self.driver], "jvm": jvms,
                 "worker": [w for p in jvms for w in descendants(p)]}
        out = {k: sum(_hwm_kb(p) for p in pids) / 1024.0
               for k, pids in parts.items()}
        out["workers"] = len(parts["worker"])
        out["total"] = out["driver"] + out["jvm"] + out["worker"]
        return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_times() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_all = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_all if d_all else 0.0


def calibration_ms() -> float:
    """Wall time of a fixed CPU-bound loop (median of three): it moves
    with steal and co-tenant load, never with the program under test."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_500_000):
            acc = (acc + i * i) % 1_000_003
        times.append((time.perf_counter() - t0) * 1000.0)
    return sorted(times)[len(times) // 2]
