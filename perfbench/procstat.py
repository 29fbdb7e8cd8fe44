"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this Python process (the driver), the Spark JVM it launched and
the Python workers under the JVM. Each process is classified once:

* ``jvm``: a process whose command name is ``java``, less its JIT
  compiler threads;
* ``jit``: the JIT compiler threads of a ``jvm`` process (their CPU time is
  read per thread, so the JVM must keep them alive:
  ``-XX:-UseDynamicNumberOfCompilerThreads``), read only by explicit
  samples, not by the sampler thread;
* ``pyworker``: any descendant of a ``jvm`` process (PySpark daemon and
  workers);
* ``driver``: everything else, i.e. this process and its non-JVM children.

CPU is each process's own user+system time (``/proc/<pid>/stat`` fields 14
and 15). A process that exits keeps the last value sampled for it, so the
sampler thread's interval bounds what is lost. Peak memory is the largest
sum of proportional set sizes (``Pss`` in ``smaps_rollup``) over the live
tree seen by any sample, with the JVM's resident set (``VmRSS``) in place
of its PSS: it shares almost none of its pages, and reading its
``smaps_rollup`` walks the whole 2 GiB heap (about 23 ms a read on 4 vCPUs),
which would put the sampler's own cost into every pass.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
KINDS = ("driver", "jvm", "jit", "pyworker")
# Thread names (truncated to 15 characters) of HotSpot's JIT compilers.
JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def _read_stat(pid: int) -> tuple[str, int, float, int] | None:
    """(comm, ppid, cpu seconds, start ticks) or None if the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read()
    except OSError:
        return None
    lpar, rpar = data.index(b"("), data.rindex(b")")
    comm = data[lpar + 1:rpar].decode(errors="replace")
    rest = data[rpar + 2:].split()
    ppid = int(rest[1])
    cpu = (int(rest[11]) + int(rest[12])) / CLK_TCK
    return comm, ppid, cpu, int(rest[19])


def _jit_seconds(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of JVM ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as fh:
                data = fh.read()
        except OSError:
            continue
        if data[data.index(b"(") + 1:data.rindex(b")")] in JIT_THREADS:
            rest = data[data.rindex(b")") + 2:].split()
            total += int(rest[11]) + int(rest[12])
    return total / CLK_TCK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (the PySpark daemon's forked
    workers share most of theirs) are split among their users, so the sum
    over the tree does not count them several times."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class ProcTree:
    """Samples the process tree rooted at this process."""

    INTERVAL = 0.5

    def __init__(self):
        self.root = os.getpid()
        # (pid, start ticks) -> [kind, last cpu seconds]
        self._procs: dict[tuple[int, int], list] = {}
        self._lock = threading.Lock()
        self.peak_pss = 0
        self.peak_by_kind = dict.fromkeys(KINDS, 0)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self, jit: bool = True) -> dict[str, float]:
        """Take one sample; return cumulative CPU seconds per kind. With
        ``jit`` false the JIT threads are not read and the ``jvm`` and
        ``jit`` figures returned are not meaningful."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        total = 0
        by_kind = dict.fromkeys(KINDS, 0)
        with self._lock:
            stack = [(self.root, "driver")]
            while stack:
                pid, kind = stack.pop()
                st = stats.get(pid)
                if st is None:
                    continue
                comm, _, cpu, start = st
                if kind == "driver" and comm == "java":
                    kind = "jvm"
                # A pid keeps its start time across exec (spark-submit's
                # shell becomes the JVM), so the kind is refreshed.
                entry = self._procs.setdefault((pid, start), [kind, 0.0])
                entry[0] = kind
                entry[1] = max(entry[1], cpu)
                if kind == "jvm" and jit:
                    entry = self._procs.setdefault((pid, start, "jit"), ["jit", 0.0])
                    entry[1] = max(entry[1], _jit_seconds(pid))
                mem = _rss_bytes(pid) if kind == "jvm" else _pss_bytes(pid)
                total += mem
                by_kind[kind] += mem
                child_kind = "pyworker" if kind in ("jvm", "pyworker") else "driver"
                stack.extend((c, child_kind) for c in children.get(pid, ()))
            self.peak_pss = max(self.peak_pss, total)
            for k, v in by_kind.items():
                self.peak_by_kind[k] = max(self.peak_by_kind[k], v)
            totals = dict.fromkeys(KINDS, 0.0)
            for kind, cpu in self._procs.values():
                totals[kind] += cpu
        # A JVM's own figure includes its compiler threads.
        totals["jvm"] -= totals["jit"]
        return totals

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self.sample(jit=False)

    def __enter__(self) -> "ProcTree":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.sample()


def diff(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in KINDS}


def host_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) of the host's aggregate ``/proc/stat``
    line; the difference of two readings gives the share of CPU time the
    hypervisor gave to others."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)
