"""Host shape, Spark environment and /proc accounting for the benchmark.

Everything here reads ``/proc`` directly: the benchmark measures the
program from outside, so it needs no hook inside ``dragnet_spark``.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
HZ = os.sysconf("SC_CLK_TCK")


def host_shape() -> dict:
    """Cores and MemTotal: results taken on different shapes are never
    compared (``compare.py`` refuses)."""
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh
                      if ln.startswith("MemTotal:"))
    return {"cores": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb}


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__}


def spark_env(shape: dict, root: str, work: str) -> dict:
    """Environment for a ``local[cores]`` session sized to this host
    through the variables ``session.get_spark`` already reads.  The
    heap is a quarter of MemTotal, at most 8g: ``get_spark`` pins it
    with ``-Xms`` so all of it becomes resident, and the rest of the
    host holds the Python workers and the page cache.  Temp and local
    dirs stay inside ``work``."""
    heap_mb = min(8192, shape["mem_total_kb"] // 4 // 1024)
    pypath = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_CPUS": str(shape["cores"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYTHONPATH": root + (os.pathsep + pypath if pypath else ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # JVM scratch (and no hsperfdata file) inside the work dir too.
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                              " -XX:-UsePerfData"),
    }


def _cmdline(pid: str) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def spark_jvms() -> list[int]:
    """PIDs of live Spark JVMs: a ``java`` executable, by absolute path
    or bare from PATH, running Spark classes."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            cmd = _cmdline(pid)
            if is_spark_jvm(cmd):
                out.append(int(pid))
    return out


def is_spark_jvm(cmdline: bytes) -> bool:
    argv0 = cmdline.split(b"\0", 1)[0]
    return os.path.basename(argv0) == b"java" and b"org.apache.spark" in cmdline


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    tree, todo = [], [root]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(kids.get(p, []))
    return tree


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_delta(before: list[int], after: list[int]) -> dict:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    return {"user_s": (d[0] + d[1]) / HZ, "sys_s": (d[2] + d[5] + d[6]) / HZ,
            "idle_frac": (d[3] + d[4]) / total}


class RssSampler:
    """Background sampler of the resident set of this process's tree
    (this process, the JVM, the Python workers).  ``peak()`` returns
    the highest sum seen since the last ``reset()``."""

    INTERVAL = 0.05         # seconds between samples
    RESCAN_EVERY = 10       # samples between process-tree rescans

    def __init__(self):
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % self.RESCAN_EVERY == 0:
                # Python workers come and go; rediscover the tree often.
                pids = process_tree(os.getpid())
            n += 1
            rss = rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.INTERVAL)

    def reset(self) -> None:
        now = rss_bytes(process_tree(os.getpid()))
        with self._lock:
            self._peak = now

    def peak(self) -> int:
        with self._lock:
            return self._peak
