"""Runtime probes read straight from ``/proc`` and the JVM.

* process-tree CPU: the benchmark process, the Spark JVM it launched
  and the PySpark daemon/workers under the JVM.  Each live process
  contributes its own utime+stime plus cutime+cstime (CPU of children
  it already reaped), so every tick is counted once, by the nearest
  live ancestor of the process that spent it;
* peak RSS: ``VmHWM`` of the driver and the JVM;
* host steal: the ``steal`` share of all CPU time in ``/proc/stat``;
* JVM GC time: the garbage-collector MXBeans, read through the
  session's py4j gateway.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return [raw[: raw.index(" ")], raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[
        raw.rindex(")") + 2 :
    ].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is None:
            continue
        kids.setdefault(int(f[3]), []).append(int(entry))
    return kids


@dataclass
class TreeCpu:
    """CPU seconds of the process tree, split by role."""

    driver: float = 0.0
    jvm: float = 0.0
    pyworker: float = 0.0
    other: float = 0.0

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.pyworker + self.other

    def __sub__(self, o: "TreeCpu") -> "TreeCpu":
        return TreeCpu(
            self.driver - o.driver,
            self.jvm - o.jvm,
            self.pyworker - o.pyworker,
            self.other - o.other,
        )


def _cpu(f: list[str]) -> tuple[float, float]:
    """(own, reaped children) CPU seconds from a stat record."""
    own = (int(f[13]) + int(f[14])) / _TICK
    reaped = (int(f[15]) + int(f[16])) / _TICK
    return own, reaped


def tree_cpu(root: int | None = None) -> TreeCpu:
    """CPU of ``root`` (default: this process) and all descendants.

    Roles: the root is the driver; a ``java`` process is the JVM;
    ``python`` processes below a JVM are PySpark daemon/workers; the
    rest (launcher shells) is ``other``."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out = TreeCpu()
    stack = [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        f = _stat_fields(pid)
        if f is None:
            continue
        own, reaped = _cpu(f)
        comm = f[1]
        if pid != root:
            if comm == "java":
                role = "jvm"
            elif role == "jvm" or role == "pyworker":
                role = "pyworker"
            else:
                role = "other"
        if role == "jvm":
            # the JVM's reaped children are PySpark daemons/workers
            out.jvm += own
            out.pyworker += reaped
        else:
            setattr(out, role, getattr(out, role) + own + reaped)
        stack.extend((k, role) for k in kids.get(pid, []))
    return out


def jvm_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        f = _stat_fields(pid)
        if f is not None and f[1] == "java":
            out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """VmHWM of the driver plus every JVM under it."""
    return vm_hwm_mb(os.getpid()) + sum(vm_hwm_mb(p) for p in jvm_pids())


def host_cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    # guest/guest_nice are already inside user/nice
    total = sum(vals[:8])
    steal = vals[7] if len(vals) > 7 else 0
    return steal, total


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def jvm_gc_ms(spark) -> float:
    """Accumulated collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return float(sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())))


def spark_job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numTasks:
                # stages skipped because their shuffle output was
                # reused report no attempt; count only stages that ran
                if st.numCompletedTasks or st.numActiveTasks or st.numFailedTasks:
                    stages += 1
                    tasks += st.numTasks
    return len(jobs), stages, tasks

