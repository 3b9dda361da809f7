"""The benchmark's process tree: this Python driver, the Spark JVM it
launched and the JVM's Python workers."""

from __future__ import annotations

import os
import signal
import subprocess
import time

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (index 0 is
    the state, field 3 of the file)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                parents.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


# Every process of one run carries this variable, whoever its parent
# is now: a child the JVM started is still found after the JVM ended.
TAG_VAR = "PERFBENCH_RUN"


def tagged(tag: str) -> list[int]:
    """Other processes whose environment holds ``TAG_VAR=tag``."""
    want = f"{TAG_VAR}={tag}".encode()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if want in f.read().split(b"\0"):
                    out.append(int(d))
        except OSError:
            continue
    return out


def alive(pid: int) -> bool:
    """Running: a zombie has ended, whether or not it was reaped."""
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def wait_gone(pids, timeout: float) -> list[int]:
    """Wait up to ``timeout`` seconds for ``pids`` to end; returns
    those still running."""
    end = time.monotonic() + timeout
    while True:
        left = [p for p in pids if alive(p)]
        if not left or time.monotonic() >= end:
            return left
        time.sleep(0.05)


def stop_all(jvm=None, timeout: float = 15.0) -> list[int]:
    """Stop every process this one started, at any depth, and wait
    until each has ended. ``jvm`` is the Spark gateway's ``Popen``: it
    is asked to exit first by closing its stdin, which the gateway
    treats as its parent's exit. Whatever is left is sent SIGTERM, then
    SIGKILL. Returns the processes that outlived all of it."""
    tag = os.environ.get(TAG_VAR)
    pids = descendants(os.getpid())
    if jvm is not None and jvm.poll() is None:
        try:
            jvm.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            jvm.wait(timeout)
        except subprocess.TimeoutExpired:
            pass
    # the JVM's own children outlive it as orphans; they were listed
    # above while it was still their parent
    pids = set(pids) | set(descendants(os.getpid()))
    if tag:
        pids |= set(tagged(tag))
    pids = sorted(pids)
    left = wait_gone(pids, 0)
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        left = wait_gone(left, grace)
        if not left:
            break
    return left


def tree() -> list[int]:
    return [os.getpid(), *descendants(os.getpid())]


def cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by the whole tree. Unlike wall time it does not grow when the
    host lends the machine's cores to other tenants."""
    total = 0
    for pid in tree():
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / TICK


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of every live process in the tree, summed."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
