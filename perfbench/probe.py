"""Counters read from the driver JVM over py4j and from ``/proc``.

- Spark jobs: the DAG scheduler's running job total.
- Shuffle-write and spill bytes: summed over the stages submitted in a
  window, read from Spark's status store once the listener bus has
  delivered every task-end event.
- JVM GC time: the sum over the JVM's garbage-collector MX beans.
- CPU time: ``/proc`` times of the driver JVM's process tree and this
  process, less the JVM's JIT compiler threads.
- Peak resident memory: ``VmHWM`` of the driver JVM plus this process.
"""

from __future__ import annotations

import os
import resource
import signal
import time

from py4j.protocol import Py4JJavaError


class SparkProbe:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def jobs(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def next_stage_id(self) -> int:
        return int(self._sc.dagScheduler().nextStageId())

    def stage_bytes(self, first_stage: int, end_stage: int) -> dict[str, int]:
        """Shuffle-write and spill bytes of stages ``[first, end)``."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        shuffle = spill = 0
        for sid in range(first_stage, end_stage):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never reaches the store
                continue
            shuffle += st.shuffleWriteBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {"shuffle_bytes": shuffle, "spill_bytes": spill}

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def peak_rss_mb(self) -> float:
        self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (self_kb + _vm_hwm_kb(self.jvm_pid)) / 1024.0

    def cpu_seconds(self) -> float:
        """CPU time used so far by this process, the driver JVM and every
        process under the JVM (the Python workers), reaped children included,
        less the JVM's JIT compiler threads: they compile in the background,
        and which pass their work lands in depends on the scheduler. The JVM
        must run with ``-XX:-UseDynamicNumberOfCompilerThreads`` so that no
        compiler thread exits and takes its time out of reach."""
        t = os.times()
        jvm = sum(_cpu_ticks(p) for p in process_tree(self.jvm_pid))
        return t.user + t.system + (jvm - _compiler_ticks(self.jvm_pid)) / _TICKS


_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name is in parentheses and may hold spaces
        return f.read().rsplit(")", 1)[1].split()


def _cpu_ticks(pid: int) -> int:
    try:
        fields = _stat_fields(pid)
    except OSError:  # exited since it was listed
        return 0
    # utime, stime, cutime, cstime (fields 14-17 of proc(5))
    return sum(int(v) for v in fields[11:15])


def _compiler_ticks(pid: int) -> int:
    """utime + stime of the live JIT compiler threads of ``pid``."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name, fields = stat.rsplit(")", 1)
        if "CompilerThre" in name:  # "C1 CompilerThre", "C2 CompilerThre"
            ticks += sum(int(v) for v in fields.split()[11:13])
    return ticks


def process_tree(root: int) -> list[int]:
    """``root`` and every live process descended from it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(name))[1]), []).append(int(name))
            except OSError:
                continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def wait_ended(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` runs any more; kill what outlives ``timeout``."""
    def running(pid: int) -> bool:
        try:
            return _stat_fields(pid)[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while any(running(p) for p in pids):
        if time.monotonic() > deadline:
            for p in filter(running, pids):
                os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0
