"""Helpers shared by the workloads: the Spark session, the median, the
memory and CPU probes, the correctness hash and directory sizes."""

from __future__ import annotations

import hashlib
import os
import statistics


def start_session():
    """The package's own session factory, quiet logs."""
    from nashville_etl_service_backup_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _proc_stats() -> dict[int, list[str]]:
    """pid → the fields of /proc/<pid>/stat after the parenthesised name
    (index 0 is field 3, the state)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                out[int(entry)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM in /proc/<pid>/status) of this Python
    process and of its children (the Spark JVM), in MB."""
    me = os.getpid()
    children = [pid for pid, f in _proc_stats().items() if int(f[1]) == me]

    def hwm(pids) -> float:
        total = 0.0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) / 1024.0
            except OSError:
                pass
        return total

    return {"python": hwm([me]), "jvm": hwm(children)}


def tree_cpu_s() -> tuple[float, dict[tuple[int, int], int]]:
    """CPU seconds (user + system) used so far by this process and all
    its descendants (the Spark JVM and its Python workers, live or
    reaped), and the CPU ticks of each live JIT compiler thread, keyed by
    (pid, tid).  Time the host hands to other guests (steal) is in
    neither."""
    stats = _proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    total, jit = 0, {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            # utime, stime, cutime, cstime: fields 14-17
            total += sum(int(x) for x in stats[pid][11:15])
            jit.update(_compiler_ticks(pid))
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK"), jit


def jit_cpu_s(before: dict, after: dict) -> float:
    """CPU seconds the JIT compiler threads used between two
    :func:`tree_cpu_s` samples.  By default HotSpot starts and retires
    compiler threads as its queue grows and drains (run.py turns that
    off); a thread that retired in between had been idle, so the little
    it used is missed."""
    ticks = 0
    for key, t in after.items():
        prev = before.get(key)
        # else a new thread, or a new one that reuses a retired one's id
        ticks += t - prev if prev is not None and t >= prev else t
    return ticks / os.sysconf("SC_CLK_TCK")


def _compiler_ticks(pid: int) -> dict[tuple[int, int], int]:
    out = {}
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[(pid, int(tid))] = int(fields[11]) + int(fields[12])
    return out


def heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak use, in MB (a pool's peak is its
    own, so the sum is an upper bound of the heap's peak)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
               if pool.getType().name() == "HEAP") / 2**20


def canon_hash(pdf) -> tuple[int, str]:
    """(row count, order-insensitive md5) of a pandas frame, columns
    sorted by name and floats rounded to 9 places."""
    cols = sorted(pdf.columns)
    rows = []
    for t in pdf[cols].itertuples(index=False, name=None):
        parts = []
        for v in t:
            if v is None or (isinstance(v, float) and v != v):
                parts.append("-")
            elif isinstance(v, float):
                parts.append(repr(round(v, 9)))
            else:
                parts.append(str(v))
        rows.append("|".join(parts))
    rows.sort()
    return len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``path`` for files ending in ``suffix``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith("."):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files
