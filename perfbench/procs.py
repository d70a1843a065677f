"""Process-tree bookkeeping read from ``/proc``: descendants, resident
memory, CPU time, and the stop-and-reap helpers the runner uses so
that no process it started outlives a run."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if
    the process is gone. Index 0 is the state, 1 the parent pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        return "?"


def descendants(root: int | None = None) -> list[int]:
    """Every live (non-zombie) process below ``root`` (default: this
    process)."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is None or st[0] == "Z":
            continue
        kids.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    return [root, *descendants(root)]


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    split among the processes sharing it, so forked Python workers do
    not count their parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_seconds(pid: int) -> float | None:
    """User plus system CPU time of one process."""
    st = _stat(pid)
    return (int(st[11]) + int(st[12])) / TICK if st else None


class TreeSampler:
    """Samples the process tree every ``period`` seconds on a daemon
    thread: peak resident memory (PSS) of the whole tree, and the last CPU
    time seen per process, so CPU spent by a process that exits
    between two marks is still counted."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_bytes = 0
        self._cpu: dict[int, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def sample(self) -> None:
        total = 0
        for pid in tree():
            total += pss_bytes(pid)
            cpu = cpu_seconds(pid)
            if cpu is not None:
                with self._lock:
                    self._cpu[pid] = cpu
        self.peak_bytes = max(self.peak_bytes, total)

    def cpu_total(self) -> float:
        """CPU seconds used so far by every process seen in the tree."""
        self.sample()
        with self._lock:
            return sum(self._cpu.values())

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_group(proc: subprocess.Popen, timeout: float = 5.0) -> None:
    """Terminate a child started with ``start_new_session=True`` and
    everything in its process group, then reap it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait(timeout=timeout)
    else:
        proc.wait()


def leftover_processes(grace: float = 10.0) -> list[str]:
    """Wait up to ``grace`` seconds for this process to have no
    descendants. Returns a description of each one still alive after
    that (and kills it, so that the run leaves nothing behind even
    when it fails); an empty list means the tree is clean."""
    deadline = time.monotonic() + grace
    while True:
        left = descendants()
        if not left or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    named = [f"pid {pid}: {cmdline(pid)[:200]}" for pid in left]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    # reap our own children among them so no zombie stays behind
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
    return named
