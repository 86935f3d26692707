"""Host record and process-tree memory sampling, read from /proc
(psutil is not available)."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """Summed resident set size of ``root`` and all its descendants, as
    (Python and other processes, JVM processes)."""
    other = jvm = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
        if comm == "java":
            jvm += rss
        else:
            other += rss
    return other, jvm


def cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


class RssSampler:
    """Background thread recording the peak summed RSS of this
    process's tree while running, split as in ``tree_rss_bytes``.
    ``take_peak`` returns both peaks since its previous call."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak = (0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = tuple(map(max, self._peak, rss))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def take_peak(self) -> tuple[int, int]:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, (0, 0)
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def source_digest(root: str) -> str:
    """sha1 over the engine package sources, so a result names the
    code it measured even in a checkout that is not a git repo."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "pdfextraction_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def host_record(root: str, spark, load_before: list[float]) -> dict:
    import pyarrow

    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "spark_version": spark.version,
        "pyarrow_version": pyarrow.__version__,
        "master": spark.sparkContext.master,
        "max_records_per_batch": spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"),
        "driver_memory": conf.get("spark.driver.memory", None),
        "python_worker_reuse": conf.get("spark.python.worker.reuse", "true"),
    }
