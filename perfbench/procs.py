"""Peak RSS of this process tree, sampled from /proc (no psutil here),
and an orderly stop of the Spark JVM the session started."""

from __future__ import annotations

import os
import subprocess
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may hold spaces: fields start after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * _PAGE
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Background sampler of the summed RSS of this process and all its
    descendants (the Spark JVM and its Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mib(self) -> float:
        return self.peak / (1 << 20)


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it. The
    JVM exits when its stdin reaches EOF; its Python workers end with it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
