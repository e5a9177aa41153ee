"""Layer counters for the traced run.

``Tracer.install`` wraps, for the duration of one traced pass, the public
entry points of each engine layer: the registered query callables
(``registry.QUERIES[name]``, the query *build*), ``catalog.load``,
``materialize.iter_materialize`` and the REST server's job runner and HTTP
routes. Wrappers append spans to an in-memory list; nothing is written
until the run ends. Every query build runs under the Spark job group
``pb:<key>:build`` and everything after it (the sink, or the server's
collect) under ``pb:<key>:exec``, so the Spark status store attributes each
stage's executor CPU, shuffle, spill and input bytes to one query and one
phase. The package itself is not modified.
"""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_MISSING = object()

STAGE_FIELDS = {
    "stages": None,
    "tasks": "numTasks",
    "cpu_s": "executorCpuTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields after the comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        ticks = sum(int(x) for x in rest[11:15])
        out[int(name)] = (int(rest[1]), ticks / _CLK_TCK)
    return out


def descendants(pid: int, table: dict | None = None) -> dict[int, float]:
    """Descendant pids of ``pid`` with their CPU seconds."""
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        children.setdefault(pp, []).append(p)
    out, todo = {}, list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out[p] = table[p][1]
        todo.extend(children.get(p, []))
    return out


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU of the PySpark daemon and workers (all descendants of the JVM)."""
    return sum(descendants(jvm_pid).values())


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds so far of this Python driver, the JVM and its workers."""
    table = _proc_table()
    own = table.get(os.getpid(), (0, 0.0))[1]
    return own + table.get(jvm_pid, (0, 0.0))[1] + sum(descendants(jvm_pid, table).values())


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def next_stage_id(sc) -> int:
    """The id the DAG scheduler gives the next stage it creates."""
    return int(sc._jsc.sc().dagScheduler().nextStageId())


def stage_totals(sc, stage_ids) -> dict[str, float]:
    """Sum the completed stages among ``stage_ids`` (Spark status store)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # skipped before submission, or evicted
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        for field, getter in STAGE_FIELDS.items():
            if getter:
                out[field] += getattr(sd, getter)()
    out["cpu_s"] /= 1e9
    return out


def reset_peak_rss(pid: int | str) -> None:
    """Restart VmHWM from the current RSS (Linux >= 4.0)."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


class Tracer:
    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.origin = time.perf_counter()
        self.spans: list[dict] = []
        self.local = threading.local()
        self._seq = itertools.count()
        self._undo: list = []
        self._mx = self.sc._jvm.java.lang.management.ManagementFactory.getThreadMXBean()

    # -- spans ------------------------------------------------------------
    def span(self, name: str, key, t0: float, t1: float, **attrs) -> None:
        self.spans.append(
            {"span": name, "key": key, "t0": t0 - self.origin, "dur": t1 - t0, **attrs}
        )

    def _timed(self, name: str, fn):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.span(name, getattr(self.local, "key", None), t0, time.perf_counter())

        return wrapper

    def _query(self, name: str, fn):
        def wrapper(spark, sf_dir):
            if getattr(self.local, "building", False):  # a query built by another
                return fn(spark, sf_dir)
            key = f"{name}#{next(self._seq)}"
            self.local.key, self.local.building = key, True
            self.set_group(f"pb:{key}:build")
            cpu0, jcpu0 = time.thread_time(), self._mx.getCurrentThreadCpuTime()
            t0 = time.perf_counter()
            try:
                return fn(spark, sf_dir)
            finally:
                t1 = time.perf_counter()
                self.local.building = False
                cpu = time.thread_time() - cpu0
                cpu += (self._mx.getCurrentThreadCpuTime() - jcpu0) / 1e9
                self.set_group(f"pb:{key}:exec")
                self.span("build", key, t0, t1, query=name, driver_cpu_s=cpu)

        return wrapper

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    # -- install / uninstall ----------------------------------------------
    def _replace(self, owner, attr: str, new) -> None:
        if isinstance(owner, dict):
            self._undo.append((owner, attr, owner[attr]))
            owner[attr] = new
        else:
            self._undo.append((owner, attr, vars(owner).get(attr, _MISSING)))
            setattr(owner, attr, new)

    def _replace_everywhere(self, orig, new) -> None:
        """Rebind ``orig`` in every engine module that imported it by name."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("pythonmapreduce_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._replace(mod, attr, new)

    def install(self, names, job_server=None, handler_cls=None) -> None:
        from pythonmapreduce_spark import catalog
        from pythonmapreduce_spark.plans import materialize, registry

        self._replace_everywhere(catalog.load, self._timed("catalog.load", catalog.load))
        im = materialize.iter_materialize
        self._replace_everywhere(im, self._timed("materialize", im))
        for name in names:
            self._replace(registry.QUERIES, name, self._query(name, registry.QUERIES[name]))
        if job_server is not None:
            run = job_server._run

            def traced_run(job):
                t0 = time.perf_counter()
                try:
                    return run(job)
                finally:
                    key = getattr(self.local, "key", None)
                    self.span("server.job", key, t0, time.perf_counter(), query=job.name)

            self._replace(job_server, "_run", traced_run)
        if handler_cls is not None:
            for method in ("do_GET", "do_POST"):
                wrapped = self._timed(f"server.{method[3:]}", getattr(handler_cls, method))
                self._replace(handler_cls, method, wrapped)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            if isinstance(owner, dict):
                owner[attr] = old
            elif old is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self.set_group(None)

    # -- Spark status store -------------------------------------------------
    def stage_counters(self, key: str, phase: str) -> dict[str, float]:
        """Sum the completed stages of the jobs in ``pb:<key>:<phase>``."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(f"pb:{key}:{phase}"):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        return stage_totals(self.sc, stage_ids)

    def resident_rdds(self) -> tuple[int, int]:
        """(count, bytes) of RDD blocks still stored in the block manager."""
        infos = [i for i in self.sc._jsc.sc().getRDDStorageInfo() if i.isCached()]
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos)
