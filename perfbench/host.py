"""Host stamp and memory high-water marks, read from ``/proc``."""

from __future__ import annotations

import os
import platform
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def host_stamp() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return dict(
        nproc=nproc(),
        cpu_model=cpu_model(),
        ram_gb=round(ram_bytes() / 2**30, 1),
        python=platform.python_version(),
        pyspark=pyspark.__version__,
        pyarrow=pyarrow.__version__,
        numpy=numpy.__version__,
        pandas=pandas.__version__,
    )


def _status(pid: int) -> tuple[int, int] | None:
    """(ppid, VmHWM kB) of a live process, None once it is gone."""
    ppid = hwm = None
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("PPid:"):
                    ppid = int(line.split()[1])
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    if ppid is None or hwm is None:
        return None
    return ppid, hwm


def _pss_kb(pid: int) -> int:
    """Proportional set size of a live process: its private pages plus
    its share of the pages it shares, so pages a forked worker shares
    with its parent count once over the tree. 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


class RssSampler:
    """Polls the JVM and every process below it (the Python daemon and
    workers). Each sample adds the JVM's ``VmHWM`` (its own peak, which
    the kernel keeps between samples) to the current ``Pss`` of the
    workers alive at that moment; ``peak_mb`` is the largest sample."""

    def __init__(self, jvm_pid: int, period_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_kb = 0
        self.jvm_hwm_kb = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def sample(self) -> None:
        table = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _status(int(name))
                if st is not None:
                    table[int(name)] = st
        if self.jvm_pid not in table:
            return
        tree = {self.jvm_pid}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in table.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        self.seen |= tree
        self.jvm_hwm_kb = max(self.jvm_hwm_kb, table[self.jvm_pid][1])
        workers_kb = sum(_pss_kb(p) for p in tree if p != self.jvm_pid)
        self.peak_kb = max(self.peak_kb, self.jvm_hwm_kb + workers_kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def stop(self) -> float:
        """Take a last sample, stop polling, return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0

    def children(self) -> list[int]:
        return [p for p in self.seen if p != self.jvm_pid]


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    deadline = time.time() + timeout_s
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if _status(p) is not None]
        if alive:
            time.sleep(0.1)
    return alive
