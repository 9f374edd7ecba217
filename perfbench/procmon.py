"""Process-tree sampler over /proc, and the host facts every result
carries (raw seconds are never comparable across boxes).

The sampler walks /proc every `interval` seconds, keeps the tree rooted
at one pid (the cold process: Python driver, its JVM and the JVM's
Python workers), and records the tree's resident memory and the
cumulative CPU time of each process role. CPU of a process that exits
is kept at its last sampled value.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import signal
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, comm, cpu seconds, rss bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    lp, rp = raw.find("("), raw.rfind(")")
    comm = raw[lp + 1 : rp]
    rest = raw[rp + 2 :].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12) ... rss(21)
    return int(rest[1]), comm, (int(rest[11]) + int(rest[12])) / _TICK, int(rest[21]) * _PAGE


def _role(pid: int, root: int, comm: str) -> str:
    if pid == root:
        return "driver"
    if comm.startswith("java"):
        return "jvm"
    if comm.startswith("python"):
        return "workers"
    return "other"


class TreeSampler(threading.Thread):
    def __init__(self, root_pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.root = root_pid
        self.interval = interval
        self._stop_evt = threading.Event()
        self.cpu_last: dict[int, tuple[str, float]] = {}
        # (t, rss bytes of the tree, {role: cumulative cpu s})
        self.samples: list[tuple[float, int, dict[str, float]]] = []

    def _sample(self) -> None:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, (ppid, *_rest) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        tree, todo = [], [self.root] if self.root in procs else []
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(kids.get(pid, ()))
        rss = 0
        for pid in tree:
            _ppid, comm, cpu, r = procs[pid]
            rss += r
            self.cpu_last[pid] = (_role(pid, self.root, comm), cpu)
        roles: dict[str, float] = {}
        for role, cpu in self.cpu_last.values():
            roles[role] = roles.get(role, 0.0) + cpu
        self.samples.append((time.time(), rss, roles))

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    # -- queries ------------------------------------------------------------
    def peak_rss_mb(self) -> float:
        return max((s[1] for s in self.samples), default=0) / 2**20

    def cpu_at(self, t: float, role: str | None = None) -> float:
        """Cumulative CPU seconds of `role` (all roles if None) at time t,
        linearly interpolated between samples."""

        def val(s):
            return sum(s[2].values()) if role is None else s[2].get(role, 0.0)

        prev = None
        for s in self.samples:
            if s[0] >= t:
                if prev is None:
                    return val(s)
                f = (t - prev[0]) / max(s[0] - prev[0], 1e-9)
                return val(prev) + f * (val(s) - val(prev))
            prev = s
        return val(prev) if prev else 0.0

    def cpu_between(self, t0: float, t1: float, role: str | None = None) -> float:
        return max(self.cpu_at(t1, role) - self.cpu_at(t0, role), 0.0)


def become_subreaper() -> None:
    """Make processes orphaned below this one its children, so that
    every process it starts, however deep, can be killed and reaped."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _procs() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, session id)} of every process, zombies too."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        # fields after comm: state(0) ppid(1) pgrp(2) session(3)
        rest = raw[raw.rfind(")") + 2 :].split()
        out[int(name)] = (int(rest[1]), int(rest[3]))
    return out


def _reap_children() -> None:
    """Reap every child of this process that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_processes(session: int | None = None, timeout: float = 30.0) -> None:
    """SIGKILL every process of `session` (a session this process
    started), or every descendant of this process when `session` is
    None, and reap them, until not even a zombie is left. A session
    catches what leaves the process group (PySpark's worker daemon calls
    setpgid); `become_subreaper` makes the orphans this process's
    children, so it can reap them. A JVM whose main thread has ended
    shows as a zombie while its other threads still run, so zombies are
    killed too and a process counts as gone only once it is reaped."""
    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        procs = _procs()
        if session is not None:
            doomed = [p for p, (_pp, sid) in procs.items() if sid == session and p != me]
        else:
            kids: dict[int, list[int]] = {}
            for p, (pp, _sid) in procs.items():
                kids.setdefault(pp, []).append(p)
            doomed, todo = [], list(kids.get(me, ()))
            while todo:
                p = todo.pop()
                doomed.append(p)
                todo.extend(kids.get(p, ()))
        for p in doomed:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _reap_children()
        if not doomed:
            return
        if time.time() > deadline:
            raise RuntimeError(f"processes {sorted(doomed)} did not end")
        time.sleep(0.05)


def free_disk_gb(path: str) -> float:
    return shutil.disk_usage(path).free / 1e9


def _meminfo() -> dict[str, float]:
    out = {}
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                k, v = line.split(":", 1)
                if k in ("MemTotal", "MemAvailable"):
                    out[k] = int(v.split()[0]) / 2**20  # kB -> GiB
    except OSError:
        pass
    return out


def code_rev(root: str) -> str:
    """Git revision when the checkout is a git work tree, else a content
    hash of the program's Python files."""
    try:
        rev = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if rev.returncode == 0:
            return rev.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _dirs, files in os.walk(os.path.join(root, "bdqc_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        if os.path.exists(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return "content-" + h.hexdigest()[:16]


def host_facts(root: str) -> dict:
    from importlib import metadata

    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        java_version = (java.stderr or java.stdout).splitlines()[0]
    except (OSError, subprocess.TimeoutExpired, IndexError):
        java_version = None
    try:
        pyspark_version = metadata.version("pyspark")
    except metadata.PackageNotFoundError:
        pyspark_version = None
    mem = _meminfo()
    affinity = sorted(os.sched_getaffinity(0))
    return {
        "nproc": len(affinity),
        "affinity": affinity,
        "ram_gib": round(mem.get("MemTotal", 0.0), 2),
        "ram_available_gib": round(mem.get("MemAvailable", 0.0), 2),
        "free_disk_gb": round(free_disk_gb(root), 2),
        "code_rev": code_rev(root),
        "python": platform.python_version(),
        "pyspark": pyspark_version,
        "java": java_version,
        "kernel": platform.release(),
    }
