"""Measurements taken from outside the program: /proc, JMX and Spark's
status store and event log. Nothing here changes what the program does.
"""

from __future__ import annotations

import json
import os
import statistics
import time


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def host_probe() -> dict:
    """A fixed single-core Python loop and the load average. Diagnostic
    only: the seconds show how fast this host ran at that moment."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i & 7
    return {"probe_s": round(time.perf_counter() - t, 4),
            "loadavg": os.getloadavg()}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and every live descendant, including
    the time of children they have reaped (Python workers that exited)."""
    kids, total, todo = _children(), 0, [root_pid]
    tick = os.sysconf("SC_CLK_TCK")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, ()))
    return total / tick


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Jvm:
    """JMX and Spark-internal counters of the driver JVM, read via py4j."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def counters(self) -> dict:
        gc_ms = sum(b.getCollectionTime()
                    for b in self._mf.getGarbageCollectorMXBeans())
        return {
            "compiles": int(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            "jit_s": self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": gc_ms / 1e3,
            "cpu_s": tree_cpu_s(self.pid),
        }

    def stages(self) -> list[tuple[int, int]]:
        """(stage id, shuffle bytes written) of every stage the status
        store still holds."""
        jvm, gw = self.spark._jvm, self.spark.sparkContext._gateway
        store = self.spark.sparkContext._jsc.sc().statusStore()
        seq = store.stageList(jvm.java.util.ArrayList(), False, False,
                              gw.new_array(jvm.double, 0),
                              jvm.java.util.ArrayList())
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            out.append((int(s.stageId()), int(s.shuffleWriteBytes())))
        return out


def event_log_summary(path: str, windows: dict[str, tuple[float, float]]
                      ) -> dict[str, dict]:
    """Per job group: stage and task counts, driver time and task skew.

    ``windows`` maps each job group to its (start, end) wall clock in
    epoch seconds. Driver time is the window minus the union of the
    group's stage spans; skew is max over median task time on the
    group's longest stage.
    """
    jobs_of: dict[str, list[list[int]]] = {g: [] for g in windows}
    spans: dict[int, tuple[int, int]] = {}
    tasks: dict[int, list[int]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in jobs_of:
                    jobs_of[group].append(ev["Stage IDs"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    spans[info["Stage ID"]] = (info["Submission Time"],
                                               info["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                ti = ev["Task Info"]
                tasks.setdefault(ev["Stage ID"], []).append(
                    ti["Finish Time"] - ti["Launch Time"])
    out = {}
    for group, (t0, t1) in windows.items():
        ids = sorted({s for stage_ids in jobs_of[group] for s in stage_ids
                      if s in spans})
        busy, cursor = 0.0, t0 * 1e3
        for a, b in sorted(spans[s] for s in ids):
            a, b = max(a, cursor), min(b, t1 * 1e3)
            if b > a:
                busy += b - a
                cursor = b
        longest = max(ids, key=lambda s: spans[s][1] - spans[s][0],
                      default=None)
        durs = tasks.get(longest, [])
        skew = (max(durs) / max(statistics.median(durs), 1.0)) if durs else 1.0
        out[group] = {
            "stages": len(ids),
            "tasks": sum(len(tasks.get(s, ())) for s in ids),
            "driver_s": max(t1 - t0 - busy / 1e3, 0.0),
            "task_skew": skew,
        }
    return out


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.time() + timeout
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"
