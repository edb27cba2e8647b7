"""Measurement from outside the package: the process tree and Spark's own
status store.

Nothing here is added to ``crankshaft_spark``.  A traced unit is one timed
call into a public function; its Spark counters are the jobs and stages
whose ids fall in the id window the call opened (job ids and stage ids are
handed out in order by the DAG scheduler), not a job group, because thread
pools inside the package do not inherit the caller's group.  Spans are
kept in memory and written once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024.0 * 1024.0


# ------------------------------------------------------------ processes ---

def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    f = s[s.rindex(")") + 2:].split()
    # fields after the comm: state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14) ... rss(21)
    return (int(f[1]), sum(int(v) for v in f[11:15]), int(f[21]) * _PAGE)


def tree(root: int) -> dict:
    """{pid: (ppid, cpu ticks, rss)} for ``root`` and all its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep, frontier = {}, [root]
    kids: dict[int, list[int]] = {}
    for pid, st in procs.items():
        kids.setdefault(st[0], []).append(pid)
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in keep:
            keep[pid] = procs[pid]
            frontier.extend(kids.get(pid, []))
    return keep


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the process tree, counting reaped children."""
    return sum(st[1] for st in tree(root).values()) / _CLK


def python_worker_root(root: int):
    """Pid of the PySpark worker daemon under ``root``, if it has started."""
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" in fh.read():
                    return pid
        except OSError:
            pass
    return None


class RssSampler:
    """Samples the summed RSS of the process tree in a background thread
    and keeps the peak.

    A process counts from the second sample that sees it.  The JVM starts
    its helpers (``chmod`` for every file it writes) and the driver starts
    ``spark-submit`` with vfork-style spawns, and until the child execs it
    shares its parent's memory and reports the parent's RSS: a sample that
    fell into that window counted the JVM twice (+2.6 GB in 2 of 10
    hotspot runs).  Helpers that live shorter than a period are not counted.
    """

    def __init__(self, root: int, period_s: float = 0.2):
        self.root, self.period = root, period_s
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        seen = {self.root}
        while not self._stop.is_set():
            procs = tree(self.root)
            rss = sum(st[2] for pid, st in procs.items() if pid in seen)
            self.peak = max(self.peak, rss)
            seen = set(procs) | {self.root}
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


def host_context() -> dict:
    """Load average and cumulative CPU steal share, printed beside the
    metrics (not as metrics) so a contended run is visible."""
    with open("/proc/stat") as fh:
        cpu = [int(v) for v in fh.readline().split()[1:]]
    return {"loadavg_1m": os.getloadavg()[0],
            "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
            "total_ticks": sum(cpu)}


def steal_pct(a: dict, b: dict) -> float:
    dt = b["total_ticks"] - a["total_ticks"]
    return 100.0 * (b["steal_ticks"] - a["steal_ticks"]) / dt if dt else 0.0


# ---------------------------------------------------------------- spark ---

class SparkProbe:
    """Reads job/stage/storage/GC counters of one SparkContext over py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.dag = jsc.dagScheduler()
        self.jvm = self.sc._jvm
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> dict:
        py = python_worker_root(os.getpid())
        return {"py_cpu": tree_cpu_s(py) if py else 0.0,
                "job": self.dag.nextJobId(),
                "stage": self.dag.nextStageId(),
                "exec": self._next_execution(),
                "gc_ms": self._gc_ms(),
                "held": self.held_bytes(),
                "wall": time.time()}

    def _gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def _old_gen_pools(self):
        return [p for p in self.jvm.java.lang.management.ManagementFactory
                .getMemoryPoolMXBeans()
                if p.getType().toString() == "Heap memory"
                and ("Old" in p.getName() or "Tenured" in p.getName())]

    def reset_old_gen_peak(self) -> None:
        for p in self._old_gen_pools():
            p.resetPeakUsage()

    def old_gen_peak_mb(self) -> float:
        """Peak old-generation occupancy since the last reset: the heap's
        long-lived data (with the garbage not yet collected), which the
        pinned heap keeps out of the process tree's RSS."""
        return sum(p.getPeakUsage().getUsed()
                   for p in self._old_gen_pools()) / MB

    def held_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize()
                   for i in self.sc._jsc.sc().getRDDStorageInfo())

    def _next_execution(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return 0
        last = self.sql_store.executionsList(n - 1, 1)
        return last.apply(0).executionId() + 1 if last.size() else 0

    def executor_totals(self) -> dict:
        """Cumulative task counters of the application (all executors)."""
        ex = self.store.executorList(True)
        return {"shuffle_w": sum(ex.apply(i).totalShuffleWrite()
                                 for i in range(ex.size()))}

    def stages(self, a: dict, b: dict):
        out = []
        for sid in range(a["stage"], b["stage"]):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped or no longer retained
                continue
            out.append({
                "cpu_ns": sd.executorCpuTime(),
                "shuffle_w": sd.shuffleWriteBytes(),
                "spill": sd.diskBytesSpilled(),
                "start": _epoch_s(sd.submissionTime()),
                "end": _epoch_s(sd.completionTime()),
            })
        return out

    def python_bytes(self, a: dict, b: dict) -> int:
        """Bytes sent to plus returned from Python workers, summed over the
        SQL executions in the window (the PythonSQLMetrics of each plan)."""
        total = 0
        for eid in range(a["exec"], b["exec"]):
            data = self.sql_store.execution(eid)
            if not data.isDefined():
                continue
            ids = []
            metrics = data.get().metrics()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                if "Python workers" in m.name():
                    ids.append(m.accumulatorId())
            if not ids:
                continue
            vals = self.sql_store.executionMetrics(eid)
            for acc in ids:
                v = vals.get(acc)
                if v.isDefined():
                    total += _parse_size(v.get())
        return total

    def unit(self, a: dict, b: dict) -> dict:
        """Counters of the window between two marks."""
        st = self.stages(a, b)
        wall = b["wall"] - a["wall"]
        ivs = sorted((max(s["start"], a["wall"]), min(s["end"], b["wall"]))
                     for s in st if s["start"] and s["end"])
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return {
            "s": wall,
            "jobs": b["job"] - a["job"],
            "task_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "driver_gap_s": max(wall - busy, 0.0),
            "gc_s": (b["gc_ms"] - a["gc_ms"]) / 1e3,
            "spill_mb": sum(s["spill"] for s in st) / MB,
            "shuffle_mb": sum(s["shuffle_w"] for s in st) / MB,
            "held_mb": (b["held"] - a["held"]) / MB,
            "python_cpu_s": b["py_cpu"] - a["py_cpu"],
        }


def _epoch_s(opt_date):
    """Seconds since the epoch of a Scala ``Option[Date]``, or None."""
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def _parse_size(text: str) -> int:
    """The total of a formatted SQL size metric ("total (min, med, max)\\n
    12.0 MiB (...)" or a bare "12.0 MiB")."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return int(float(m.group(1)) * _UNIT[m.group(2)]) if m else 0


def write_spans(run, path: str) -> None:
    """Write the traced rounds' spans (kept in memory until now) as JSON
    lines: one span per round and one per unit, the unit's parent being
    its round."""
    with open(path, "w") as fh:
        for i, units in enumerate(run.units):
            rid = f"round-{i}"
            spans = [u for u in units.values() if isinstance(u, dict)]
            fh.write(json.dumps({
                "span": rid, "parent": None,
                "start": min(u["start"] for u in spans),
                "end": max(u["end"] for u in spans)}) + "\n")
            for name, u in units.items():
                if isinstance(u, dict):
                    fh.write(json.dumps({"span": name, "parent": rid,
                                         **u}) + "\n")
