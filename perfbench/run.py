#!/usr/bin/env python3
"""Layered benchmark of the engine at this machine's core count.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 6 --trace 0

Workloads (``WORKLOADS`` below), both at ``nproc`` cores in one process:

- ``batch``: each query is built, then executed into the ``noop`` sink.
- ``rest_jobs``: the same session behind the in-process REST server
  (``server.serve``). ``nproc`` client threads share each round's job list
  (a closed loop: a client posts its next job once the last one reads
  COMPLETED); the server collects each result (``limit`` 100) as JSON.

One run: build the tables (``fixtures.py``, cached under
``.bench_build/perfbench``), set up once (a cold start), run one untimed
gate pass that checks every output against its DuckDB oracle (and warms
the JVM), then passes until ``--seconds`` have elapsed and at least
``MIN_PASSES`` untraced ones were made. The seed fixes the query order of
every pass and the job order of every ``rest_jobs`` round.

End-to-end metrics (``--trace 0``): ``setup_s``, the cold start; and the
median per pass of the shuffle bytes written and the tasks run, read from
Spark's status store. With ``--trace 1`` every other pass is traced (see
``layers.py``) and the run reports the layer counters, the tracing
overhead and the untraced passes' wall and CPU times instead. Spans and a
per-query breakdown are written to ``.bench_build/perfbench/trace``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it records the run's context: cores, sf, seed, commit,
load average, steal ticks, and every pass's wall and CPU time.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import math
import os
import queue
import random
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

import fixtures
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOADS = {
    # One query per layer that a pass should load: a star join and
    # aggregate (Catalyst execution), a pandas UDF (Python workers) and a
    # driver loop over iter_materialize bases (build-time materialization).
    "batch": ["join_star", "dedup_unicode_normalized", "pagerank_iter"],
    "rest_jobs": ["agg_basic", "join_star", "topk", "bm25_rank", "knn_cosine", "pagerank_iter"],
}
# Untraced timed passes per run, whatever --seconds says: pass_s is their
# median.
MIN_PASSES = 2
JOB_LIMIT = 100
POLL_S = 0.05
DRIVER_MEM = "2g"

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "build.s": "s",
    "build.driver_cpu_s": "s",
    "build.stages": "count",
    "build.cpu_s": "s",
    "build.shuffle_write_bytes": "B",
    "materialize.calls": "count",
    "materialize.s": "s",
    "materialize.resident_rdds": "count",
    "materialize.resident_bytes": "B",
    "exec.s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.input_bytes": "B",
    "pyworker.cpu_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "server.post_s": "s",
    "server.queue_s": "s",
    "server.run_s": "s",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    # Wall and CPU times of the run's untraced passes. On a shared 4-vCPU
    # host they spread by 15-50% between runs with hypervisor steal, so
    # they are reported here, with no regression bound, and not as
    # end-to-end metrics.
    "untraced.pass_s": "s",
    "untraced.pass_cpu_s": "s",
    "untraced.task_cpu_s": "s",
    "untraced.query_p50_s": "s",
    "untraced.query_p90_s": "s",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Session sizing and scratch dirs, set before pyspark is imported.

    The engine defaults to local[32] and a 16g heap; the benchmark runs at
    the machine's core count with a heap that fits a shared host, and keeps
    every scratch file (Spark local dirs, temp files, JVM tmpdir) inside
    the checkout.
    """
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    os.environ["TMPDIR"] = tmp
    # C1 only: with C2 the JVM keeps compiling for minutes on 4 cores (CPU
    # per batch pass fell from 17.7 s to 7.3 s over twelve passes), so a
    # short run would time the JIT instead of the engine. C1 reaches its
    # steady speed within the warm-up, at about the same wall time per pass.
    # -UsePerfData: no hsperfdata file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# -- setup ------------------------------------------------------------------


def setup():
    """Cold start: session up, registry loaded, first trivial action run."""
    t0 = time.perf_counter()
    from pythonmapreduce_spark.session import get_spark

    spark = get_spark("perfbench", cpus=str(cores()))
    t1 = time.perf_counter()
    from pythonmapreduce_spark.plans import registry

    registry.load_all()
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {
        "setup_s": t3 - t0,
        "session.get_spark_s": t1 - t0,
        "registry.load_all_s": t2 - t1,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers exit."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    kids = list(layers.descendants(jvm.pid))
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- correctness ------------------------------------------------------------


def _norm(v) -> str:
    """Canonical cell string, as in the repo's oracle-diff harness."""
    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        r = round(f, 9)
        return str(int(r)) if r == int(r) else repr(r)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical_hash(pdf) -> tuple[int, str]:
    """(rows, order-insensitive hash over name-sorted columns)."""
    import pandas as pd

    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_norm(c.to_pydatetime() if isinstance(c, pd.Timestamp) else c) for c in row)
        for row in pdf[cols].itertuples(index=False)
    )
    h = hashlib.sha256("\x1e".join([",".join(cols)] + rows).encode())
    return len(rows), h.hexdigest()


class Oracle:
    """DuckDB over the same parquet files; answers are computed once."""

    def __init__(self, sf_dir: str):
        import duckdb

        from pythonmapreduce_spark.catalog import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self._memo: dict[str, tuple[int, str]] = {}

    def answer(self, name: str) -> tuple[int, str]:
        from pythonmapreduce_spark.plans import registry

        if name not in self._memo:
            self._memo[name] = canonical_hash(self.con.sql(registry.ORACLES[name]).df())
        return self._memo[name]


# -- workloads --------------------------------------------------------------


class Run:
    def __init__(self, spark, sf_dir: str, names: list[str], seed: int, tracer):
        from pythonmapreduce_spark.plans import registry

        self.spark, self.sf_dir, self.names = spark, sf_dir, names
        self.queries = registry.QUERIES
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.oracle = Oracle(sf_dir)
        self.attempted = self.failed = 0
        self.client_cpu_s = 0.0  # CPU of the benchmark's own HTTP clients
        self.errors: list[str] = []
        self.layer_samples: list[dict] = []  # one per traced pass

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def order(self) -> list[str]:
        return self.rng.sample(self.names, len(self.names))

    def cache_is_empty(self) -> bool:
        # Spark's CacheManager serves any later query whose subtree matches
        # a cached plan, so a query that leaves a persist() behind would let
        # the gate pass feed the timed ones.
        return self.spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def layer_totals(self, keys: list[str], pyworker_s: float) -> dict[str, float]:
        """Per-layer sums over the traced executions ``keys``."""
        tr = self.tracer
        tot = dict.fromkeys(LAYER_UNITS, 0.0)
        keyset = set(keys)
        for sp in tr.spans:
            if sp["key"] not in keyset:
                continue
            if sp["span"] == "build":
                tot["build.s"] += sp["dur"]
                tot["build.driver_cpu_s"] += sp["driver_cpu_s"]
            elif sp["span"] == "exec":
                tot["exec.s"] += sp["dur"]
            elif sp["span"] == "materialize":
                tot["materialize.calls"] += 1
                tot["materialize.s"] += sp["dur"]
            elif sp["span"] == "catalog.load":
                tot["catalog.load_calls"] += 1
                tot["catalog.load_s"] += sp["dur"]
        per_query = {}
        for key in keys:
            b, e = tr.stage_counters(key, "build"), tr.stage_counters(key, "exec")
            per_query[key] = {"build": b, "exec": e}
            tot["build.stages"] += b["stages"]
            tot["build.cpu_s"] += b["cpu_s"]
            tot["build.shuffle_write_bytes"] += b["shuffle_write_bytes"]
            for f in ("stages", "tasks", "cpu_s", "shuffle_write_bytes", "shuffle_read_bytes",
                      "spill_bytes", "input_bytes"):
                tot[f"exec.{f}"] += e[f]
        tot["pyworker.cpu_s"] = pyworker_s
        tr.span("stage_counters", None, time.perf_counter(), time.perf_counter(), per_query=per_query)
        return tot


class Batch(Run):
    def check(self, name: str) -> None:
        self.attempted += 1
        try:
            got = canonical_hash(self.queries[name](self.spark, self.sf_dir).toPandas())
            want = self.oracle.answer(name)
            if got != want:
                self.fail(f"{name}: rows/hash {got} != oracle {want}")
        except Exception as e:  # noqa: BLE001 - counted, not fatal
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")

    def gate(self) -> None:
        for name in self.order():
            self.check(name)
            if not self.cache_is_empty():
                self.fail(f"{name}: SQL cache entries survived the query")

    def run_pass(self, traced: bool) -> tuple[float, list[float]]:
        tr = self.tracer
        times, keys = [], []
        if traced:
            tr.install(self.names)
            py0 = layers.pyworker_cpu_s(tr.jvm_pid)
        for name in self.order():
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                df = self.queries[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            times.append(t2 - t0)
            if traced:
                key = tr.local.key
                keys.append(key)
                tr.span("exec", key, t1, t2, query=name)
            if not self.cache_is_empty():
                self.fail(f"{name}: SQL cache entries survived the query")
        if traced:
            pyworker_s = layers.pyworker_cpu_s(tr.jvm_pid) - py0
            tr.uninstall()
            self.layer_samples.append(self.layer_totals(keys, pyworker_s))
        return sum(times), times


class RestJobs(Run):
    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from pythonmapreduce_spark import server

        self.httpd, self.job_server = server.serve(self.spark)
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()
        host, port = self.httpd.server_address[:2]
        self.base = f"http://{host}:{port}"
        self.clients = cores()

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.job_server.shutdown()
        self.thread.join()

    def _call(self, method: str, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(self.base + path, data=data, method=method)
        req.add_header("Content-Type", "application/json")
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())

    def job(self, name: str) -> dict:
        """POST one job and poll it to completion (client-side times)."""
        t0 = time.perf_counter()
        job_id = self._call("POST", "/jobs", {"query": name, "sf_dir": self.sf_dir, "limit": JOB_LIMIT})["job_id"]
        t_post = t_run = time.perf_counter()
        seen_running = False
        while True:
            st = self._call("GET", f"/jobs/{job_id}/status")
            now = time.perf_counter()
            if st["status"] == "RUNNING" and not seen_running:
                seen_running, t_run = True, now
            if st["status"] in ("COMPLETED", "FAILED"):
                break
            time.sleep(POLL_S)
        return {
            "query": name,
            "job_s": now - t0,
            "post_s": t_post - t0,
            "queue_s": t_run - t_post,
            "run_s": now - t_run,
            "status": st["status"],
            "rows": len(st.get("rows") or []),
            "error": st.get("error"),
        }

    def round(self) -> tuple[float, list[dict]]:
        todo: queue.Queue = queue.Queue()
        for name in self.order():
            todo.put(name)
        done: list[dict] = []

        def client():
            cpu0 = time.thread_time()
            while True:
                try:
                    name = todo.get_nowait()
                except queue.Empty:
                    break
                try:
                    done.append(self.job(name))
                except Exception as e:  # noqa: BLE001
                    done.append({"query": name, "status": "ERROR", "error": repr(e)})
            self.client_cpu_s += time.thread_time() - cpu0

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        ok = []
        for j in done:
            self.attempted += 1
            if j["status"] != "COMPLETED":
                self.fail(f"{j['query']}: job {j['status']}: {j.get('error')}")
                continue
            want = min(JOB_LIMIT, self.oracle.answer(j["query"])[0])
            if j["rows"] != want:
                self.fail(f"{j['query']}: {j['rows']} rows, expected {want}")
                continue
            ok.append(j)
        if not self.cache_is_empty():
            self.fail("SQL cache entries survived a round")
        return wall, ok

    def gate(self) -> None:
        self.round()

    def run_pass(self, traced: bool) -> tuple[float, list[float]]:
        tr = self.tracer
        if traced:
            n0 = len(tr.spans)
            tr.install(self.names, self.job_server, self.httpd.RequestHandlerClass)
            py0 = layers.pyworker_cpu_s(tr.jvm_pid)
        wall, jobs = self.round()
        if traced:
            pyworker_s = layers.pyworker_cpu_s(tr.jvm_pid) - py0
            tr.uninstall()
            new = tr.spans[n0:]
            keys = [s["key"] for s in new if s["span"] == "build"]
            builds = {s["key"]: s for s in new if s["span"] == "build"}
            for s in new:
                if s["span"] == "server.job" and s["key"] in builds:
                    b = builds[s["key"]]
                    tr.span("exec", s["key"], b["t0"] + tr.origin + b["dur"],
                            s["t0"] + tr.origin + s["dur"], query=s["query"])
            tot = self.layer_totals(keys, pyworker_s)
            n = max(1, len(jobs))
            per_job = {k: v / n for k, v in tot.items()}
            for f in ("post_s", "queue_s", "run_s"):
                per_job[f"server.{f}"] = sum(j[f] for j in jobs) / n
            self.layer_samples.append(per_job)
        return wall, [j["job_s"] for j in jobs]


# -- main -------------------------------------------------------------------


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="table scale factor")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pythonmapreduce_spark", "__init__.py")):
        print("perfbench: pythonmapreduce_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    configure_env()

    sf_dir = fixtures.ensure(args.sf, os.path.join(BUILD, f"sf{args.sf}"))
    load0, steal0 = os.getloadavg()[0], steal_ticks()

    phases = {}  # wall seconds of each phase of this run (context only)
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    spark, setup_times = setup()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = layers.Tracer(spark, jvm_pid)
    names = WORKLOADS[args.workload]
    cls = RestJobs if args.workload == "rest_jobs" else Batch
    run = cls(spark, sf_dir, names, args.seed, tracer)
    phase("setup")
    try:
        run.gate()
        phase("gate")
        # peak RSS counts from here: the gate's DuckDB and pandas work is not
        # the engine's
        layers.reset_peak_rss("self")
        layers.reset_peak_rss(jvm_pid)
        passes: list[float] = []
        pass_cpu: list[float] = []
        pass_stages: list[dict] = []
        traced_passes: list[float] = []
        samples: list[float] = []
        t_end = time.perf_counter() + args.seconds
        i = 0
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            traced = bool(args.trace) and i % 2 == 1
            cpu0 = layers.engine_cpu_s(jvm_pid) - run.client_cpu_s
            stage0 = layers.next_stage_id(spark.sparkContext)
            wall, times = run.run_pass(traced)
            if traced:
                traced_passes.append(wall)
            else:
                pass_cpu.append(layers.engine_cpu_s(jvm_pid) - run.client_cpu_s - cpu0)
                stage1 = layers.next_stage_id(spark.sparkContext)
                pass_stages.append(layers.stage_totals(spark.sparkContext, range(stage0, stage1)))
                passes.append(wall)
                samples.extend(times)
            i += 1
        phase("measure")
        resident = tracer.resident_rdds()
        peak_rss = layers.vm_hwm_mb("self") + layers.vm_hwm_mb(jvm_pid)
    finally:
        if isinstance(run, RestJobs):
            run.close()
        stop_spark(spark)
    phase("stop")

    untraced = {
        "untraced.pass_s": statistics.median(passes),
        "untraced.pass_cpu_s": statistics.median(pass_cpu),
        "untraced.task_cpu_s": statistics.median(p["cpu_s"] for p in pass_stages),
        "untraced.query_p50_s": statistics.median(samples),
        "untraced.query_p90_s": statistics.quantiles(samples, n=10, method="inclusive")[8],
    }
    if args.trace:
        layer = {k: statistics.median(s[k] for s in run.layer_samples) for k in LAYER_UNITS}
        for k in ("session.get_spark_s", "registry.load_all_s"):
            layer[k] = setup_times[k]
        layer["materialize.resident_rdds"], layer["materialize.resident_bytes"] = resident
        layer["peak_rss_mb"] = peak_rss
        layer["trace.overhead_s"] = statistics.median(traced_passes) - untraced["untraced.pass_s"]
        layer.update(untraced)
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_times["setup_s"], "unit": "s"},
            "pass_shuffle_bytes": {
                "value": statistics.median(p["shuffle_write_bytes"] for p in pass_stages),
                "unit": "B",
            },
            "pass_tasks": {"value": statistics.median(p["tasks"] for p in pass_stages), "unit": "count"},
        }
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "cores": cores(),
        "commit": git_commit(),
        "passes": len(passes),
        "traced_passes": len(traced_passes),
        "query_samples": len(samples),
        "setup": setup_times,
        "pass_s": passes,
        "pass_cpu_s": pass_cpu,
        "pass_stages": pass_stages,
        **untraced,
        "phases_s": phases,
        "load_avg_start": load0,
        "load_avg_end": os.getloadavg()[0],
        "steal_ticks_delta": steal_ticks() - steal0,
        "errors": run.errors,
    }
    if args.trace:
        out_dir = os.path.join(BUILD, "trace")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"context": context, "layers": run.layer_samples, "spans": tracer.spans}, fh)
    print(json.dumps({"context": context}), flush=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
