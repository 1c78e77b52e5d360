"""Measurement plumbing shared by the three workloads.

Everything here reads the host or the Spark status store; nothing calls
into the engine's layers.  Kept free of Spark imports at module level so the
launcher can set its environment before pyspark is loaded.
"""

from __future__ import annotations

import os
import signal
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- process tree CPU and host counters --------------------------------------


def _read_stat(pid: int):
    """(ppid, cpu_ticks, start_ticks) from /proc/<pid>/stat, or None if the
    process is gone.  cpu_ticks = utime + stime + cutime + cstime, so the CPU
    of children already reaped by their parent is kept."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15])
    return ppid, cpu, int(fields[19])


def _tree(root: int | None) -> dict[int, tuple[int, int]]:
    """{pid: (cpu_ticks, start_ticks)} for ``root`` (default: this process)
    and every process below it."""
    root = os.getpid() if root is None else root
    table, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                table[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int | None = None) -> dict[int, int]:
    """{pid: start_ticks} for ``root`` (default: this process) and every
    process below it."""
    return {pid: start for pid, (_, start) in _tree(root).items()}


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the process tree under ``root``: the driver
    Python, the JVM it launched, the pyspark daemon and its workers."""
    return sum(cpu for cpu, _ in _tree(root).values()) / CLK_TCK


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - _read_stat(os.getpid())[2] / CLK_TCK


def cpu_stat() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def stop_processes(pids: dict[int, int], timeout: float = 30.0) -> list[int]:
    """Wait until every pid in ``pids`` ({pid: start_ticks}) has ended,
    terminating stragglers after ``timeout``.  Start ticks guard against a
    recycled pid.  Returns the pids that had to be signalled."""

    def alive(pid: int, start: int) -> bool:
        st = _read_stat(pid)
        return st is not None and st[2] == start

    deadline = time.monotonic() + timeout
    while any(alive(p, s) for p, s in pids.items()) and time.monotonic() < deadline:
        time.sleep(0.05)
    signalled = []
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p, s in pids.items() if alive(p, s)]
        for p in left:
            try:
                os.kill(p, sig)
                signalled.append(p)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5
        while any(alive(p, pids[p]) for p in left) and time.monotonic() < end:
            time.sleep(0.05)
    return signalled


# -- statistics ---------------------------------------------------------------


TAIL_BEYOND = 10


def tail(vals) -> dict | None:
    """The highest nearest-rank percentile with at least TAIL_BEYOND samples
    beyond it, or None when there are too few samples for one."""
    s = sorted(vals)
    rank = len(s) - TAIL_BEYOND
    if rank < 1:
        return None
    return {"value": s[rank - 1], "percentile": 100 * rank / len(s), "rank": rank,
            "samples": len(s), "beyond": TAIL_BEYOND}


# -- Spark status store --------------------------------------------------------

SPARK_COUNTERS = (
    "jobs", "tasks", "failed_tasks", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes",
)


class SparkCounters:
    """Per-job-group engine counters from the status store.

    ``statusTracker().getJobIdsForGroup`` names the jobs; the stage data of
    each comes from ``statusStore().lastStageAttempt``, which the listener
    fills even with the UI disabled."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()

    def collect(self, group: str, wait_s: float = 5.0) -> dict:
        from py4j.protocol import Py4JJavaError

        job_ids = list(self._tracker.getJobIdsForGroup(group))
        deadline = time.monotonic() + wait_s
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            # the listener bus is asynchronous: the action may return before
            # the job-end event is applied to the store
            while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
                time.sleep(0.01)
                info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        out["jobs"] = len(job_ids)
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never attempted (reused shuffle)
                continue
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"], sd.peakExecutionMemory())
        return out


# -- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the engine's layers.

    A span records name, start, end, parent span and op id, the process-tree
    CPU it used and, when ``spark=True``, the engine counters of the jobs it
    ran (its own job group; a child span's jobs belong to the child).
    ``dump`` adds each span's self time: its duration minus the part of it
    covered by child spans."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._counters = SparkCounters(spark)
        self._t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, rec):
        if rec is None or rec["group"] is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str, op_id, spark: bool = True):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op_id": op_id,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}" if spark else (parent or {}).get("group"),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        cpu0 = tree_cpu_s()
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            self._set_group(parent)
            if spark:
                rec["spark"] = self._counters.collect(rec["group"])

    def subtree_spark(self, rec) -> dict:
        """Engine counters of ``rec`` and all spans below it."""
        ids = {rec["id"]}
        total = dict.fromkeys(SPARK_COUNTERS, 0)
        for s in self.spans:  # parents precede children in self.spans
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                for k, v in s.get("spark", {}).items():
                    total[k] = max(total[k], v) if k == "peak_exec_mem_bytes" else total[k] + v
        return total

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            rec = {k: v for k, v in s.items() if k != "group"}
            rec["self_s"] = (s["end"] - s["start"]) - covered
            out.append(rec)
        return out


def span_s(rec) -> float:
    return rec["end"] - rec["start"]


# -- workloads ------------------------------------------------------------------


def persist(df, held: list):
    """Materialize ``df`` (every column, so Python UDFs run) and remember it
    for release."""
    df = df.persist()
    df.count()
    held.append(df)
    return df


def release(held: list) -> None:
    while held:
        held.pop().unpersist(blocking=True)


def persistent_rdds(spark) -> set[int]:
    jsc = spark.sparkContext._jsc
    return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}


def release_rdds_since(spark, baseline: set[int]) -> None:
    """Unpersist every cached RDD not in ``baseline`` (block-RDDs such as a
    localCheckpoint have no DataFrame handle to unpersist through)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) not in baseline:
            jmap.get(k).unpersist(False)


class Workload:
    """One closed-loop workload.  The runner calls, in order:

    ``generate`` once (input generation: the load generator's cost, never
    timed); ``prepare`` per set-up round; the first ``op``; ``reference``
    once (expected results, never timed); ``begin_measure``; then ``op`` /
    ``traced_op`` in a loop (warm-up, then timed).  ``op`` returns a plain payload
    that ``check`` judges; ``after_op`` releases what the op left behind,
    outside the timed region."""

    name = ""
    rows_per_op = 0
    # untimed ops after the first, cold one; then at least min_ops timed ops
    warmup_ops = 2
    min_ops = 4

    def __init__(self, spark, seed: int, scale: str, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.work_dir = work_dir

    def sizes(self) -> dict:
        raise NotImplementedError

    def generate(self) -> None:
        pass

    def prepare(self) -> None:
        raise NotImplementedError

    def reference(self) -> None:
        raise NotImplementedError

    def corrupt_reference(self, how: str) -> None:
        """Damage the expected result (self-test); ``how`` is 'default' or a
        workload-specific kind."""
        raise NotImplementedError

    def begin_measure(self) -> None:
        pass

    def op(self):
        raise NotImplementedError

    def check(self, payload) -> str | None:
        raise NotImplementedError

    def after_op(self) -> None:
        pass

    def traced_once(self, tracer: Tracer) -> dict:
        """Per-layer values measured once per traced run (kernel probes)."""
        raise NotImplementedError

    def traced_op(self, op_id: int, tracer: Tracer):
        """Returns (payload, per-layer values, the span of the op itself)."""
        raise NotImplementedError
