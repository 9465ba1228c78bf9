"""REST monitoring facade vs the reference scheduler API surface
(``ballista/scheduler/src/api/mod.rs:85-130``): /api/state, /api/executors,
/api/jobs, /api/job/{id}, /api/job/{id}/dot, PATCH-cancel, /api/metrics."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from arrow_ballista_spark.context import BallistaContext
from arrow_ballista_spark.monitoring import MonitoringServer
from tests.conftest import SF_DIR


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return r.status, r.read().decode()


def _patch(url: str):
    req = urllib.request.Request(url, method="PATCH")
    with urllib.request.urlopen(req, timeout=10) as r:
        return r.status, r.read().decode()


@pytest.fixture(scope="module")
def served(spark):
    ctx = BallistaContext(spark=spark)
    ctx.register_parquet("mon_nation", f"{SF_DIR}/nation.parquet")
    srv = MonitoringServer(ctx).start()
    yield ctx, srv
    srv.stop()


def test_api_state(served):
    ctx, srv = served
    code, body = _get(f"{srv.url}/api/state")
    assert code == 200
    state = json.loads(body)
    assert state["application_id"]
    assert state["master"].startswith("local")
    assert state["default_parallelism"] >= 1


def test_api_executors(served):
    _, srv = served
    code, body = _get(f"{srv.url}/api/executors")
    assert code == 200
    assert isinstance(json.loads(body), list)


def test_api_jobs_and_job_dot(served):
    ctx, srv = served
    h = ctx.submit("SELECT n_regionkey, COUNT(*) AS n FROM mon_nation GROUP BY n_regionkey")
    h.result(timeout=60)

    code, body = _get(f"{srv.url}/api/jobs")
    assert code == 200
    jobs = json.loads(body)
    assert {"job_id": h.job_id, "status": "SUCCESSFUL"} in jobs

    code, body = _get(f"{srv.url}/api/job/{h.job_id}")
    assert code == 200
    assert json.loads(body)["status"] == "SUCCESSFUL"

    code, dot = _get(f"{srv.url}/api/job/{h.job_id}/dot")
    assert code == 200
    assert dot.startswith("digraph physical_plan")
    assert "->" in dot  # a real plan tree, not the empty stub


def test_api_metrics(served):
    ctx, srv = served
    code, body = _get(f"{srv.url}/api/metrics")
    assert code == 200
    metrics = json.loads(body)
    # at least the job from the previous test reports a rollup
    assert any(v for v in metrics.values())


def test_api_job_not_found(served):
    _, srv = served
    try:
        code, _ = _get(f"{srv.url}/api/job/nope")
    except urllib.error.HTTPError as e:  # urllib raises on 404
        code = e.code
    assert code == 404


def test_patch_cancel_finished_job_is_safe(served):
    ctx, srv = served
    h = ctx.submit("SELECT 1 AS one")
    h.result(timeout=60)
    code, body = _patch(f"{srv.url}/api/job/{h.job_id}")
    assert code == 200
    assert json.loads(body)["status"] == "SUCCESSFUL"


def test_api_metrics_prometheus_exposition(served):
    """?format=prometheus (and Accept: text/plain) serves the text
    exposition with the reference collector's seven metric families
    (scheduler/src/metrics/prometheus.rs:30-120): two histograms, four
    job counters, one gauge — scrape-parseable lines — plus the engine's
    codegen compile counter (never falling between scrapes) and its
    codegen cache cap gauge."""
    import re

    from arrow_ballista_spark.session import CODEGEN_CACHE_MAX_ENTRIES

    ctx, srv = served

    def compiled(body: str) -> int:
        return int(re.search(r"^codegen_compilations_total (\d+)$", body, re.M)[1])

    first = compiled(_get(f"{srv.url}/api/metrics?format=prometheus")[1])
    h = ctx.submit("SELECT COUNT(*) AS n FROM mon_nation")
    h.result(timeout=60)
    code, body = _get(f"{srv.url}/api/metrics?format=prometheus")
    assert code == 200
    for fam, typ in [
        ("job_exec_time_seconds", "histogram"),
        ("planning_time_ms", "histogram"),
        ("job_submitted_total", "counter"),
        ("job_completed_total", "counter"),
        ("job_failed_total", "counter"),
        ("job_cancelled_total", "counter"),
        ("pending_task_queue_size", "gauge"),
        ("codegen_compilations_total", "counter"),
        ("codegen_cache_max_entries", "gauge"),
    ]:
        assert f"# TYPE {fam} {typ}" in body, fam
    assert first <= compiled(body)
    assert re.search(
        rf"^codegen_cache_max_entries {CODEGEN_CACHE_MAX_ENTRIES}$", body, re.M
    )
    # counters reflect the job registry
    submitted = int(re.search(r"^job_submitted_total (\d+)", body, re.M)[1])
    completed = int(re.search(r"^job_completed_total (\d+)", body, re.M)[1])
    assert submitted >= 1 and 1 <= completed <= submitted
    # histogram buckets are cumulative and end at +Inf == count
    buckets = re.findall(
        r'^job_exec_time_seconds_bucket\{le="([^"]+)"\} (\d+)$', body, re.M
    )
    counts = [int(n) for _, n in buckets]
    assert buckets[-1][0] == "+Inf"
    assert counts == sorted(counts)
    count = int(re.search(r"^job_exec_time_seconds_count (\d+)", body, re.M)[1])
    assert counts[-1] == count == completed
    # a successful 1-row job lands in a finite-le bucket
    assert counts[0] >= 0 and count >= 1
