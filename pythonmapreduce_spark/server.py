"""REST job-submission surface: submit a registered query, poll its status,
fetch its result and logs.

Functional parity with the reference's Flask server (the one reference
capability with no engine-level analog):
- POST /jobs            ≈ POST /mapreduce  (/root/reference/server.py:57-76)
  body {"query": name, "sf_dir": dir, "limit": n} → {"job_id": ...}
- GET  /jobs/<id>/status ≈ GET /getjobstatus (server.py:34-54) — returns the
  result payload once COMPLETED, the bare status string otherwise (the
  reference's exact contract).
- GET  /jobs/<id>/result — the completed rows as JSON.
- GET  /jobs/<id>/log    ≈ GET /getjoblog (server.py:19-31).
- GET  /jobs, /queries, / — listing/welcome routes.

Architecture differences are deliberate: the reference forks a master
process per job and busy-polls a central KV store for status keys
(server.py:70, master.py:139-151); here a job is a Catalyst plan executed
on a SHARED SparkSession by a bounded thread pool — Spark's scheduler
multiplexes concurrent jobs across the same executors (FAIR/FIFO pools),
so submission is thread-dispatch, not process-fork, and status lives in
process memory instead of a KV hop. stdlib http.server only — no Flask
dependency.

At scale: the server is a thin control plane; all data-plane work stays on
the cluster. ``limit`` caps driver-side materialization (collect of an
unbounded result is the classic driver OOM).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlparse

from pyspark.sql import SparkSession

from pythonmapreduce_spark.plans import registry

_DEFAULT_SF_DIR = "/root/testdata/sf0.001"
_MAX_LIMIT = 10_000
# Finished jobs (and their rows) the table keeps; older ones are evicted.
_MAX_FINISHED_JOBS = 1_000


def _json_cell(v):
    """JSON-safe cell: timestamps → isoformat, NaN → null, bytes → hex."""
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_cell(x) for k, x in v.items()}
    return v


class Job:
    def __init__(self, name: str, sf_dir: str, limit: int):
        self.job_id = str(uuid.uuid4())
        self.name = name
        self.sf_dir = sf_dir
        self.limit = limit
        self.status = "PENDING"
        self.rows: list[dict] | None = None
        self.columns: list[str] | None = None
        self.error: str | None = None
        self.log: list[str] = []
        self._lock = threading.Lock()

    def log_line(self, msg: str) -> None:
        with self._lock:
            self.log.append(msg)

    def to_summary(self) -> dict:
        return {
            "job_id": self.job_id,
            "query": self.name,
            "sf_dir": self.sf_dir,
            "status": self.status,
        }


class JobServer:
    """Control plane: owns the job table and the worker pool; the
    SparkSession is shared across jobs (Spark schedules them FAIR/FIFO)."""

    def __init__(self, spark: SparkSession, max_workers: int = 4):
        self.spark = spark
        self.jobs: dict[str, Job] = {}
        self._pool = ThreadPoolExecutor(max_workers=max_workers)
        self._lock = threading.Lock()
        registry.load_all()

    def submit(self, name: str, sf_dir: str = _DEFAULT_SF_DIR, limit: int = 100) -> Job:
        if name not in registry.QUERIES:
            raise KeyError(f"unknown query: {name}")
        job = Job(name, sf_dir, min(int(limit), _MAX_LIMIT))
        with self._lock:
            self.jobs[job.job_id] = job
        job.log_line(f"submitted query={name} sf_dir={sf_dir} limit={job.limit}")
        self._pool.submit(self._run, job)
        return job

    def _run(self, job: Job) -> None:
        job.status = "RUNNING"
        job.log_line("started")
        try:
            job.columns, rows = registry.run_query(
                self.spark, job.name, job.sf_dir,
                lambda df: (df.columns, df.limit(job.limit).collect()),
            )
            job.rows = [{c: _json_cell(r[c]) for c in job.columns} for r in rows]
            job.status = "COMPLETED"
            job.log_line(f"completed rows={len(job.rows)}")
        except Exception as e:  # noqa: BLE001 — surfaced through the API
            job.status = "FAILED"
            job.error = f"{type(e).__name__}: {e}"
            job.log_line(f"failed: {job.error}")
        with self._lock:  # evict the oldest finished jobs past the bound
            done = [k for k, j in self.jobs.items() if j.status in ("COMPLETED", "FAILED")]
            for k in done[: max(0, len(done) - _MAX_FINISHED_JOBS)]:
                del self.jobs[k]

    def get(self, job_id: str) -> Job | None:
        return self.jobs.get(job_id)

    def shutdown(self) -> None:
        self._pool.shutdown(wait=False, cancel_futures=True)


def _make_handler(srv: JobServer):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload, content_type: str = "application/json"):
            body = (
                payload.encode()
                if isinstance(payload, str)
                else json.dumps(payload).encode()
            )
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, fmt, *args):  # quiet test runs
            pass

        def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler contract
            path = urlparse(self.path).path.rstrip("/")
            if path == "":
                return self._send(200, "Welcome to pythonmapreduce-spark", "text/plain")
            if path == "/queries":
                return self._send(
                    200,
                    {
                        "queries": [
                            {"name": n, "oracle_backed": n in registry.ORACLES}
                            for n in registry.query_names()
                        ]
                    },
                )
            if path == "/jobs":
                return self._send(
                    200, {"jobs": [j.to_summary() for j in list(srv.jobs.values())]}
                )
            parts = path.split("/")
            if len(parts) >= 3 and parts[1] == "jobs":
                job = srv.get(parts[2])
                if job is None:
                    return self._send(404, {"error": "no such job"})
                sub = parts[3] if len(parts) > 3 else "status"
                if sub == "status":
                    # reference contract: status string until COMPLETED,
                    # then the output itself (server.py:45-50)
                    if job.status == "COMPLETED":
                        return self._send(
                            200,
                            {"status": job.status, "columns": job.columns, "rows": job.rows},
                        )
                    return self._send(
                        200, {"status": job.status, "error": job.error}
                    )
                if sub == "result":
                    if job.status != "COMPLETED":
                        return self._send(
                            409, {"status": job.status, "error": job.error}
                        )
                    return self._send(
                        200, {"columns": job.columns, "rows": job.rows}
                    )
                if sub == "log":
                    return self._send(200, "\n".join(job.log), "text/plain")
            return self._send(404, {"error": "unknown route"})

        def do_POST(self):  # noqa: N802
            path = urlparse(self.path).path.rstrip("/")
            if path != "/jobs":
                return self._send(404, {"error": "unknown route"})
            try:
                n = int(self.headers.get("Content-Length", "0"))
                spec = json.loads(self.rfile.read(n) or b"{}")
                job = srv.submit(
                    spec["query"],
                    sf_dir=spec.get("sf_dir", _DEFAULT_SF_DIR),
                    limit=spec.get("limit", 100),
                )
                return self._send(202, {"job_id": job.job_id})
            except KeyError as e:
                return self._send(400, {"error": str(e)})
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"error": f"{type(e).__name__}: {e}"})

    return Handler


def serve(spark: SparkSession, host: str = "127.0.0.1", port: int = 0):
    """Start the REST server; returns (http_server, job_server). Caller
    drives serve_forever (or spins it on a thread — see tests)."""
    job_srv = JobServer(spark)
    httpd = ThreadingHTTPServer((host, port), _make_handler(job_srv))
    return httpd, job_srv


def main() -> int:
    from pythonmapreduce_spark.session import get_spark

    httpd, _ = serve(get_spark("pythonmapreduce-spark-server"), port=8765)
    print(f"serving on http://{httpd.server_address[0]}:{httpd.server_address[1]}")
    httpd.serve_forever()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
