"""CPU and memory of this process tree, read from ``/proc``.

The tree is the benchmark's Python driver, the Spark JVM it launches and
the PySpark Python workers the JVM forks. Spark's own executor CPU time
leaves out the Python workers, so CPU is taken from the OS here.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
ROOT_PID = os.getpid()


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[int, list[str]]:
    """``pid -> stat fields`` for ROOT_PID and all its live descendants."""
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                stats[int(name)] = fields
                children.setdefault(int(fields[1]), []).append(int(name))
    out = {}
    todo = [ROOT_PID]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def _kind(pid: int) -> str:
    if pid == ROOT_PID:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return "other"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "python"
    if b"java" in cmd.split(b"\0", 1)[0]:
        return "jvm"
    return "other"


def cpu() -> dict[str, float]:
    """CPU seconds used so far by each kind of process in the tree, and
    their ``total``. Children that exited and were reaped are counted in
    their parent's ``cutime``/``cstime``, so pool workers that come and
    go are not lost."""
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0, "other": 0.0}
    for pid, f in _tree().items():
        # fields after the name: utime=11, stime=12, cutime=13, cstime=14
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        out[_kind(pid)] += ticks / _TICK
    out["total"] = sum(out.values())
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


def host_times() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the whole machine so far, from the
    first line of ``/proc/stat``. Steal is time a virtual CPU was ready
    but the hypervisor ran something else: a share of it during a run
    shows the host, not the program, slowing that run."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def rss_bytes() -> int:
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread keeping the peak summed RSS of the tree since
    the last ``mark()``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.since_mark = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.since_mark = max(self.since_mark, rss_bytes())

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def mark(self) -> None:
        self.since_mark = 0
        self._sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its tree: a descendant whose
    parent exits (the PySpark daemon and its workers when the JVM
    exits) is re-parented here, not to init, so ``stop_tree`` still
    finds it and can wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    """Collect every child that has already exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_tree(sig: int = signal.SIGTERM) -> list[int]:
    """Send ``sig`` to every live descendant; returns their pids."""
    live = [pid for pid in _tree() if pid != ROOT_PID]
    for pid in live:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass
    return live


def stop_tree(gateway=None, grace: float = 20.0) -> None:
    """Stop every process this one started and wait until each has
    ended. The Py4J gateway's JVM exits on its own once its stdin
    closes, taking the Python workers with it; whatever is left after
    ``grace`` seconds gets SIGTERM, then SIGKILL."""
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            try:
                jvm.stdin.close()
            except Exception:
                pass
            try:
                jvm.wait(grace)
            except Exception:
                pass
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.monotonic() + (grace if sig is not None else 60.0)
        while True:
            _reap()
            live = [pid for pid in _tree() if pid != ROOT_PID]
            if not live or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        if not live:
            return
        if sig is not None:
            kill_tree(sig)
