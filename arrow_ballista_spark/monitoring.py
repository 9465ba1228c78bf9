"""REST monitoring HTTP facade over the client's job registry.

Reference parity: the Ballista scheduler serves a warp REST API
(``ballista/scheduler/src/api/mod.rs:85-130``) with::

    GET   /api/state                 scheduler/cluster state
    GET   /api/executors             executor inventory
    GET   /api/jobs                  submitted-job registry
    PATCH /api/job/{job_id}          cancel a job
    GET   /api/job/{job_id}/dot      stage DAG as graphviz DOT
    GET   /api/metrics               scheduler metrics

This module serves the same routes from a stdlib ``ThreadingHTTPServer``
over a :class:`~arrow_ballista_spark.context.BallistaContext` — the job
registry is the context's :class:`JobHandle` list, the DOT artifact comes
from :func:`plans.dot.plan_dot`, and state/executors come from the
SparkContext status tracker.  Spark's own UI covers the deep-inspection
role (enable it with ``get_session(ui=True)`` / ``SPARK_GRAFT_UI=1``);
this facade is the *stable, machine-readable* surface the reference
exposes, so a monitoring client of the reference can point at the same
paths here.

The server binds an ephemeral port by default (``port=0``) and runs on a
daemon thread; ``stop()`` shuts it down.  It is an in-process monitor for
the driver, not a multi-tenant service — same trust domain as the
reference scheduler's REST port.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from arrow_ballista_spark.context import BallistaContext


def codegen_compilations(spark) -> int:
    """Whole-stage-codegen classes this JVM has compiled since it started
    (``CodegenMetrics``; every ``CodeGenerator`` cache miss is one).  In
    local mode that covers driver and executors; on a cluster, the
    driver only."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


class MonitoringServer:
    """HTTP facade mirroring the reference scheduler's REST routes."""

    def __init__(self, ctx: "BallistaContext", host: str = "127.0.0.1",
                 port: int = 0):
        self.ctx = ctx
        facade = self

        class Handler(BaseHTTPRequestHandler):
            # quiet: pytest/driver logs shouldn't fill with access lines
            def log_message(self, *a):  # noqa: D102
                pass

            def _json(self, obj, code: int = 200) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _text(self, text: str, code: int = 200) -> None:
                body = text.encode()
                self.send_response(code)
                self.send_header("Content-Type", "text/plain")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802 (http.server API)
                parts = [p for p in self.path.split("?")[0].split("/") if p]
                if parts == ["api", "state"]:
                    return self._json(facade.state())
                if parts == ["api", "executors"]:
                    return self._json(facade.executors())
                if parts == ["api", "jobs"]:
                    return self._json(facade.jobs())
                if parts == ["api", "metrics"]:
                    # reference parity: the scheduler's /api/metrics serves
                    # the Prometheus text exposition when built with the
                    # prometheus collector (scheduler/src/metrics/
                    # prometheus.rs:165-180); content-negotiate so JSON
                    # clients of the rollup surface keep working
                    if "format=prometheus" in self.path or (
                        "text/plain" in (self.headers.get("Accept") or "")
                    ):
                        return self._text(facade.prometheus_metrics())
                    return self._json(facade.metrics())
                if len(parts) == 3 and parts[:2] == ["api", "job"]:
                    job = facade.find_job(parts[2])
                    if job is None:
                        return self._json({"error": "job not found"}, 404)
                    return self._json(
                        {"job_id": job.job_id, "status": job.status()}
                    )
                if (len(parts) == 4 and parts[:2] == ["api", "job"]
                        and parts[3] == "dot"):
                    job = facade.find_job(parts[2])
                    if job is None:
                        return self._json({"error": "job not found"}, 404)
                    return self._text(facade.job_dot(job))
                return self._json({"error": "no such route"}, 404)

            def do_PATCH(self):  # noqa: N802
                parts = [p for p in self.path.split("?")[0].split("/") if p]
                # PATCH /api/job/{id} == reference cancel_job
                if len(parts) == 3 and parts[:2] == ["api", "job"]:
                    job = facade.find_job(parts[2])
                    if job is None:
                        return self._json({"error": "job not found"}, 404)
                    delivered = job.cancel(wait_for_start=5.0)
                    return self._json(
                        {"job_id": job.job_id, "cancelled": delivered,
                         "status": job.status()}
                    )
                return self._json({"error": "no such route"}, 404)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True,
            name="ballista-monitoring",
        )

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> "MonitoringServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    # -- route payloads ----------------------------------------------------

    def state(self) -> dict:
        """Reference ``get_scheduler_state``: cluster identity + sizing."""
        sc = self.ctx.spark.sparkContext
        return {
            "application_id": sc.applicationId,
            "master": sc.master,
            "spark_version": sc.version,
            "default_parallelism": sc.defaultParallelism,
            "started": sc.startTime,
            "jobs": len(getattr(self.ctx, "_jobs", [])),
        }

    def executors(self) -> list[dict]:
        """Reference ``get_executors``.  local[*] has exactly the driver
        executor; on a real cluster the status tracker enumerates all."""
        sc = self.ctx.spark.sparkContext
        # the executor inventory is Scala-side only (PySpark's StatusTracker
        # doesn't expose getExecutorInfos); go through the JVM handle
        infos = sc._jsc.sc().statusTracker().getExecutorInfos()
        return [
            {"host": e.host(), "port": e.port(),
             "running_tasks": e.numRunningTasks()}
            for e in infos
        ]

    def jobs(self) -> list[dict]:
        return self.ctx.jobs()

    def find_job(self, job_id: str):
        for h in getattr(self.ctx, "_jobs", []):
            if h.job_id == job_id:
                return h
        return None

    def job_dot(self, job) -> str:
        """Reference ``get_job_dot_graph`` — the job's physical-plan DAG.

        Renders the executed (post-AQE) plan for finished jobs, the
        initial plan for in-flight ones (finalizing AQE would force a
        second execution)."""
        from arrow_ballista_spark.plans.dot import plan_dot

        if job._df is None:
            return "digraph physical_plan {}"
        return plan_dot(job._df, execute=False)

    # the reference collector's histogram buckets, verbatim
    # (scheduler/src/metrics/prometheus.rs:52-70)
    _EXEC_BUCKETS = (0.5, 1.0, 5.0, 30.0, 60.0)
    _PLAN_BUCKETS = (1.0, 5.0, 25.0, 100.0, 500.0)

    def prometheus_metrics(self) -> str:
        """Prometheus text exposition format (text/plain version 0.0.4) —
        the same seven metric families the reference's
        PrometheusMetricsCollector registers
        (``ballista/scheduler/src/metrics/prometheus.rs:30-120``):
        job_exec_time_seconds / planning_time_ms histograms,
        job_{submitted,completed,failed,cancelled}_total counters, and the
        pending_task_queue_size gauge.  Two engine families follow them:
        the codegen_compilations_total counter and the
        codegen_cache_max_entries gauge, the session's cap on compiled
        classes kept for reuse (Spark's stock 100 in a vanilla session;
        see ``session.CODEGEN_CACHE_MAX_ENTRIES``)."""
        jobs = list(getattr(self.ctx, "_jobs", []))
        statuses = [h.status() for h in jobs]
        exec_times = [
            d for h, s in zip(jobs, statuses)
            if s == "SUCCESSFUL" and (d := h.duration_seconds()) is not None
        ]
        plan_times = [h._planning_ms for h in jobs]
        spark = self.ctx.spark
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        pending = 0
        for jid in tracker.getActiveJobsIds():
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st:
                    pending += max(st.numTasks - st.numCompletedTasks, 0)

        def histogram(name: str, help_: str, buckets, values) -> list[str]:
            lines = [f"# HELP {name} {help_}", f"# TYPE {name} histogram"]
            for b in buckets:
                n = sum(1 for v in values if v <= b)
                lines.append(f'{name}_bucket{{le="{b}"}} {n}')
            lines.append(f'{name}_bucket{{le="+Inf"}} {len(values)}')
            lines.append(f"{name}_sum {sum(values)}")
            lines.append(f"{name}_count {len(values)}")
            return lines

        def counter(name: str, help_: str, v: int) -> list[str]:
            return [f"# HELP {name} {help_}", f"# TYPE {name} counter",
                    f"{name} {v}"]

        out: list[str] = []
        out += histogram(
            "job_exec_time_seconds",
            "Histogram of successful job execution time in seconds",
            self._EXEC_BUCKETS, exec_times,
        )
        out += histogram(
            "planning_time_ms",
            "Histogram of job planning time in milliseconds",
            self._PLAN_BUCKETS, plan_times,
        )
        out += counter("job_submitted_total", "Counter of submitted jobs",
                       len(jobs))
        out += counter("job_completed_total", "Counter of completed jobs",
                       statuses.count("SUCCESSFUL"))
        out += counter("job_failed_total", "Counter of failed jobs",
                       statuses.count("FAILED"))
        out += counter("job_cancelled_total", "Counter of cancelled jobs",
                       statuses.count("CANCELLED"))
        out += ["# HELP pending_task_queue_size Number of pending tasks",
                "# TYPE pending_task_queue_size gauge",
                f"pending_task_queue_size {pending}"]
        out += counter("codegen_compilations_total",
                       "Counter of whole-stage-codegen class compilations",
                       codegen_compilations(spark))
        cap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
        out += ["# HELP codegen_cache_max_entries Compiled classes the "
                "codegen cache keeps for reuse",
                "# TYPE codegen_cache_max_entries gauge",
                f"codegen_cache_max_entries {cap}"]
        return "\n".join(out) + "\n"

    def metrics(self) -> dict:
        """Reference ``get_scheduler_metrics`` — per-job operator rollups
        for completed jobs (SQLMetrics; plans/metrics.py)."""
        from arrow_ballista_spark.plans.metrics import metrics_summary

        out = {}
        for h in getattr(self.ctx, "_jobs", []):
            if h.status() == "SUCCESSFUL" and h._df is not None:
                # execute=False: the job already ran; read what's there
                try:
                    out[h.job_id] = metrics_summary(h._df, execute=False)
                except Exception:
                    out[h.job_id] = {}
        return out
