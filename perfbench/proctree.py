"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own Python process, the Spark JVM it launched
(found through the py4j gateway's process id) and every descendant of
either, which covers the PySpark daemon and its Python workers.
``executorCpuTime`` alone misses the Arrow/pandas work those workers do.

Memory is summed as PSS (proportional set size): the Python workers are
forked from one daemon and share its pages, and summing their RSS would
count those pages once per worker.
"""

from __future__ import annotations

import os
import select
import signal
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited, or a kernel thread
        pass
    return 0


def _cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def tree(roots: list[int], exclude: int | None = None) -> dict[int, float]:
    """{pid: CPU seconds} for ``roots`` and all their descendants, without
    the ``exclude`` process."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, float] = {}
    todo = [r for r in roots if r in stats]
    while todo:
        pid = todo.pop()
        if pid not in out and pid != exclude:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def _sample(interval_s: float) -> None:
    """Sampling process, driven over stdin/stdout one line at a time: on
    ``start <pid>...`` sample the tree's summed PSS every ``interval_s``;
    on ``stop`` write the peak; on ``exit`` or end of input, return."""
    me, roots, peak, buf = os.getpid(), None, 0, b""
    while True:
        if b"\n" not in buf:
            ready, _, _ = select.select([0], [], [], interval_s if roots else None)
            if ready:
                chunk = os.read(0, 4096)
                if not chunk:
                    return
                buf += chunk
        while b"\n" in buf:
            line, buf = buf.split(b"\n", 1)
            cmd, *args = line.decode().split()
            if cmd == "start":
                roots, peak = [int(a) for a in args], 0
            elif cmd == "stop":
                os.write(1, f"{peak}\n".encode())
                roots = None
            else:
                return
        if roots:
            peak = max(peak, sum(_pss_bytes(p) for p in tree(roots, exclude=me)))


class TreeSampler:
    """CPU and peak memory of the tree over each ``with`` block (one run).

    CPU is read at the block's start and end. PSS is sampled by a separate
    process (this file run as a script): a sampling thread would contend
    for the interpreter lock with the main thread that builds plans over
    py4j, and measured slowed warm runs by 5-15%. A plain subprocess, not
    ``multiprocessing``, because the latter also starts a resource tracker
    that outlives the benchmark. The sampling process is left out of the
    tree.

    CPU of a process that exits mid-run moves into its parent's reaped-
    children counters, which ``tree`` already includes; a worker that
    exits and is reaped by a process outside the tree is lost, which does
    not happen here (the JVM and the PySpark daemon reap their own)."""

    def __init__(self, roots: list[int], interval_s: float = 0.1):
        self.roots = roots
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(interval_s)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self.peak_pss = 0

    def _send(self, line: str) -> None:
        self._proc.stdin.write(f"{line}\n".encode())
        self._proc.stdin.flush()

    def close(self) -> None:
        try:
            self._send("exit")
            self._proc.stdin.close()
        except OSError:  # already gone
            pass
        try:
            self._proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=10)
        self._proc.stdout.close()

    def cpu(self) -> dict[int, float]:
        return tree(self.roots, exclude=self._proc.pid)

    def __enter__(self) -> TreeSampler:
        self._ticks0 = _cpu_ticks()
        self._cpu0 = self.cpu()
        self._send("start " + " ".join(map(str, self.roots)))
        return self

    def __exit__(self, *exc) -> None:
        self._send("stop")
        self.peak_pss = int(self._proc.stdout.readline())
        self.cpu1 = self.cpu()
        self._ticks1 = _cpu_ticks()

    def cpu_delta(self, pids: set[int] | None = None) -> float:
        """CPU seconds the tree (or the ``pids`` subset) spent between
        ``__enter__`` and ``__exit__``; processes born mid-run count from 0."""
        return sum(
            c - self._cpu0.get(p, 0.0) for p, c in self.cpu1.items() if pids is None or p in pids
        )

    def steal_frac(self) -> float:
        """Share of the machine's CPU time the hypervisor took during the
        run: a noise diagnostic, printed beside each run."""
        total = self._ticks1[0] - self._ticks0[0]
        return (self._ticks1[1] - self._ticks0[1]) / total if total else 0.0


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so the
    PySpark daemon and workers stay in its tree after the JVM exits and
    ``reap_descendants`` can wait for them (Linux ``PR_SET_CHILD_SUBREAPER``)."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)


def reap_descendants(grace_s: float = 10.0) -> set[int]:
    """Wait until every descendant of this process has ended: give them
    ``grace_s`` to exit on their own, then SIGKILL the rest; reap zombies.
    Returns the pids still left after another ``grace_s`` (none, normally)."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        while True:  # reap every child that has already exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = set(tree([me])) - {me}
        if not left or time.monotonic() > deadline + grace_s:
            return left
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


if __name__ == "__main__":
    _sample(float(sys.argv[1]))
