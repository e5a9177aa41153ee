"""REST job-submission surface: submit → poll → result/log round trip,
mirroring the reference's server API semantics (submit returns a job id;
status returns the output once completed; logs are fetchable per job)."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

import pytest

from pythonmapreduce_spark import server as srv_mod
from pythonmapreduce_spark.plans.materialize import run_scratch


@pytest.fixture(scope="module")
def rest(spark):
    httpd, job_srv = srv_mod.serve(spark)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://{httpd.server_address[0]}:{httpd.server_address[1]}"
    yield base
    httpd.shutdown()
    job_srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        body = r.read()
    try:
        return json.loads(body)
    except json.JSONDecodeError:
        return body.decode()


def _post(url: str, payload: dict):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(), headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def _wait(base: str, job_id: str, timeout: float = 120.0) -> dict:
    deadline = time.time() + timeout
    while time.time() < deadline:
        st = _get(f"{base}/jobs/{job_id}/status")
        if st["status"] in ("COMPLETED", "FAILED"):
            return st
        time.sleep(0.2)
    raise TimeoutError(f"job {job_id} did not finish")


def test_submit_poll_result_log(rest, spark, sf_smoke):
    jid = _post(f"{rest}/jobs", {"query": "wordcount", "sf_dir": sf_smoke, "limit": 5000})[
        "job_id"
    ]
    st = _wait(rest, jid)
    assert st["status"] == "COMPLETED", st
    # status-when-completed carries the output (reference contract)
    assert st["columns"] == ["word", "cnt"]
    res = _get(f"{rest}/jobs/{jid}/result")
    assert res["rows"], "expected nonempty wordcount result"

    # result agrees with a direct engine run
    from pythonmapreduce_spark.plans import registry

    direct = {
        r["word"]: r["cnt"] for r in registry.QUERIES["wordcount"](spark, sf_smoke).collect()
    }
    via_rest = {r["word"]: r["cnt"] for r in res["rows"]}
    assert via_rest == {w: direct[w] for w in via_rest}

    log = _get(f"{rest}/jobs/{jid}/log")
    assert "submitted" in log and "completed" in log


def test_concurrent_jobs_share_session(rest):
    ids = [
        _post(f"{rest}/jobs", {"query": q, "limit": 10})["job_id"]
        for q in ("agg_basic", "topk", "grep_filter", "distinct_vals")
    ]
    for jid in ids:
        assert _wait(rest, jid)["status"] == "COMPLETED"
    jobs = _get(f"{rest}/jobs")["jobs"]
    assert {j["job_id"] for j in jobs} >= set(ids)


def test_failure_and_unknown_routes(rest):
    # unknown query → 400 at submit
    req = urllib.request.Request(
        f"{rest}/jobs", data=json.dumps({"query": "nope"}).encode()
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected HTTP 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400

    # bad sf_dir → job FAILS and surfaces the error
    jid = _post(f"{rest}/jobs", {"query": "wordcount", "sf_dir": "/nonexistent"})["job_id"]
    st = _wait(rest, jid)
    assert st["status"] == "FAILED" and st["error"]

    # unknown job id → 404
    try:
        _get(f"{rest}/jobs/not-a-job/status")
        raise AssertionError("expected HTTP 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404

    # queries listing includes oracle-backed marks
    qs = _get(f"{rest}/queries")["queries"]
    names = {q["name"] for q in qs}
    assert "wordcount" in names and "dedup_near" in names


def test_fifty_jobs_leave_storage_views_and_table_flat(spark, sf_smoke, monkeypatch):
    """A long-lived server holds nothing per finished job past its bound:
    50 consecutive jobs (checkpointed bases, a centroid broadcast, a
    streaming memory sink, a state-store memory sink, and results read
    back off scratch files and a Derby database) leave no persisted RDD,
    no temporary view and no scratch dir beyond those the session held
    before, and the job table keeps the 10 newest finished jobs plus
    every unfinished one."""
    monkeypatch.setattr(srv_mod, "_MAX_FINISHED_JOBS", 10)
    root = os.path.dirname(run_scratch("probe_"))

    def held() -> tuple[set, set, set]:
        rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return rdds, views, set(os.listdir(root))

    rdds0, views0, dirs0 = held()
    job_srv = srv_mod.JobServer(spark, max_workers=1)
    pending = srv_mod.Job("agg_basic", sf_smoke, 5)  # oldest, never runs
    job_srv.jobs[pending.job_id] = pending
    names = (
        "bm25_rank", "kcore_rounds", "semdedup", "stream_wordcount", "stream_state_inspect",
        "sink_dynamic_overwrite", "source_libsvm", "source_roundtrip_jdbc",
    )
    try:
        for i in range(50):
            job = job_srv.submit(names[i % len(names)], sf_dir=sf_smoke, limit=5)
            deadline = time.time() + 120
            while job.status not in ("COMPLETED", "FAILED") and time.time() < deadline:
                time.sleep(0.05)
            assert job.status == "COMPLETED", (job.name, job.status, job.error)
    finally:
        job_srv._pool.shutdown(wait=True)
    rdds, views, dirs = held()
    assert rdds <= rdds0, rdds - rdds0
    assert views <= views0, views - views0
    assert dirs <= dirs0, dirs - dirs0
    assert len(job_srv.jobs) == 11 and pending.job_id in job_srv.jobs
    assert job.job_id in job_srv.jobs
