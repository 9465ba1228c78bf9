"""Layered engine benchmark: one workload, one seed, end to end or per layer.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run generates its input tables from
the seed, computes every reference answer with DuckDB, sets the engine up
(``get_session``, ``register_tables``, a warm pass), then runs
seeded shuffled sweeps of the workload's operations, as many as take about
``--seconds`` seconds on a 4-core host, checking every answer outside the
timed span.  The number of sweeps depends on ``--seconds`` only, never on
how fast they ran, so every run of a workload measures the same operations.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
sweep a second time with a span around every layer call and prints the
per-layer metrics.  Human-readable lines come first; the last line of
standard output is one JSON object.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Engine environment, pinned here and printed with every run.
DRIVER_MEM = "2g"
# Two engine cores, not all four: the client, the Flight server, the JVM's
# compiler and GC threads and the Python workers keep the other two, so
# runs measure the engine rather than the scheduler.  At these input sizes
# two cores are as fast as four and fork fewer Python workers.
MAX_CPUS = 2
# A run stops starting sweeps after this many seconds of wall time, so it
# exits well inside three minutes even on a slow host or a slow engine.
HARD_STOP_S = 140.0


def pin_environment(work: str) -> dict:
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


# layer spans the workloads open inside an operation, plus what none covers
SPAN_LAYERS = ("caching.release", "queries.build", "exec.action", "sources.write",
               "serving.prepared_bind", "serving.flight_info", "serving.do_get",
               "uncovered")


def pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Runner:
    """Executes and checks operations; counts attempts and failures."""

    def __init__(self, workload, log):
        self.w = workload
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.next_id = 0

    def execute(self, op, tracer, traced: bool):
        """Run ``op`` (one retry after a failure); the successful outcome
        or None.  Every attempt counts in ``attempted``."""
        for _ in range(2):
            op_id = self.next_id
            self.next_id += 1
            self.attempted += 1
            try:
                out = self.w.run(op, op_id, tracer, traced)
            except Exception as e:  # any engine error fails this attempt
                self.failed += 1
                self.log(f"FAIL op{op_id} {op.kind}: {type(e).__name__}: {str(e)[:300]}")
                continue
            ref = self.w.reference(op)
            if out.digest != ref:
                self.failed += 1
                self.log(f"WRONG op{op_id} {op.kind}: got {out.digest} want {ref}")
                continue
            return out
        return None

    def phase(self, units, count: int, deadline: float) -> dict:
        """Run the first ``count`` units, or fewer if ``deadline`` passes
        first.  A unit is a list of ``(sweep, tracer, traced)``; returns the
        successful outcomes, keyed by ``id(tracer)``."""
        outs: dict[int, list] = {}
        for unit in units[:count]:
            if time.monotonic() > deadline:
                self.log(f"hard stop at {HARD_STOP_S:.0f} s: fewer sweeps than asked")
                break
            for sweep, tracer, traced in unit:
                for op in sweep:
                    out = self.execute(op, tracer, traced)
                    if out is not None:
                        out.kind = op.kind
                        outs.setdefault(id(tracer), []).append(out)
        return outs


def measured_sweeps(w, seconds: float) -> int:
    """How many sweeps a run measures: ``seconds`` over the length of one
    warm sweep on a 4-core host (``w.SWEEP_S``), at least ``w.MIN_SWEEPS``.
    A fixed count, not a time budget: a faster engine finishes sooner with
    the same samples, so its percentiles are read off the same ranks."""
    return max(w.MIN_SWEEPS, round(seconds / w.SWEEP_S))


def busy_s(tracer) -> float:
    """Summed time of every attempt's root span, failed ones included."""
    return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "op")


def end_to_end(outs: list, busy: float, setup_s: float) -> dict:
    lat = [o.layers["op_s"] * 1000 for o in outs]
    kinds: dict[str, list] = {}
    for o, x in zip(outs, lat):
        kinds.setdefault(o.kind, []).append(x)
    return {
        "setup_s": setup_s,
        "op_p50_ms": pct(lat, 50),
        "op_p90_ms": pct(lat, 90),
        "ops_per_s": len(lat) / busy if busy else 0.0,
        "_n": len(lat),
        "_beyond_p90": sum(1 for x in lat if x > pct(lat, 90)),
        "_kinds": {k: (len(v), pct(v, 50)) for k, v in sorted(kinds.items())},
    }


def per_layer(outs: list, tracer, setup: dict, untraced_ops_per_s: float,
              jvm_peak_mb: float, steal: float) -> dict:
    L = [o.layers for o in outs]
    n = max(1, len(L))

    def vals(key):
        return [x[key] for x in L if key in x]

    def p50_ms(key):
        return pct(vals(key), 50) * 1000

    def per(key, among=None):
        v = vals(key)
        base = len(vals(among)) if among else n
        return sum(v) / base if v and base else 0.0

    op_total = sum(vals("op_s"))
    planned = [x for x in L if "scan_rows" in x]
    span_total = busy_s(tracer)
    traced_ops_per_s = len(L) / span_total if span_total else 0.0
    m = {
        "session.get_session_s": setup["get_session_s"],
        "catalog.register_tables_s": setup["register_tables_s"],
        "bench.warm_pass_s": setup["warm_pass_s"],
        "queries.build_ms_p50": p50_ms("build_s"),
        "queries.build_share": sum(vals("build_s")) / op_total if op_total else 0.0,
        "queries.jobs_build_per_op": per("jobs_build"),
        "exec.action_ms_p50": pct(vals("action_s") + vals("write_s"), 50) * 1000,
        "exec.jobs_per_op": per("jobs"),
        "exec.stages_per_op": per("stages"),
        "exec.tasks_per_op": per("tasks"),
        "exec.result_rows_per_op": per("rows"),
        "plans.shuffle_write_bytes_per_op": per("shuffle_write", "scan_rows"),
        "plans.shuffle_read_bytes_per_op": per("shuffle_read", "scan_rows"),
        "plans.spill_bytes_per_op": per("spill", "scan_rows"),
        "plans.scan_rows_per_result_row": (
            sum(x["scan_rows"] for x in planned) / max(1, sum(x["rows"] for x in planned))
        ),
        "operators.pyworker_cpu_s_per_op": per("cpu_pyworker"),
        "driver.py_cpu_s_per_op": per("cpu_driver"),
        "caching.release_ms_p50": p50_ms("release_s"),
        "sources.write_ms_p50": p50_ms("write_s"),
        "sources.bytes_written_per_op": per("bytes_written", "write_s"),
        "sources.files_written_per_op": per("files", "write_s"),
        "serving.flight_info_ms_p50": p50_ms("info_s"),
        "serving.do_get_ms_p50": p50_ms("do_get_s"),
        "serving.prepared_bind_ms_p50": p50_ms("bind_s"),
        "serving.bytes_per_op": per("bytes"),
        "serving.overhead_ms_p50": pct(
            [x["do_get_s"] - x["direct_s"] for x in L if "direct_s" in x], 50) * 1000,
        "jvm.cpu_s_per_op": per("cpu_jvm"),
        "jvm.gc_ms_per_op": per("gc_ms"),
        "jvm.rss_peak_mb": jvm_peak_mb,
        "host.steal_share": steal,
        "trace.overhead_share": (
            1.0 - traced_ops_per_s / untraced_ops_per_s if untraced_ops_per_s else 0.0
        ),
    }
    self_s = tracer.self_times()
    for layer in SPAN_LAYERS:
        m[f"self.{layer}_share"] = self_s.get(layer, 0.0) / span_total if span_total else 0.0
    return m


UNITS = {
    "setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms", "ops_per_s": "1/s",
    "mem_peak_mb": "MB",
}
LAYER_UNITS = {
    "session.get_session_s": "s", "catalog.register_tables_s": "s",
    "bench.warm_pass_s": "s",
    "queries.build_ms_p50": "ms", "queries.build_share": "ratio",
    "queries.jobs_build_per_op": "count",
    "exec.action_ms_p50": "ms", "exec.jobs_per_op": "count", "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count", "exec.result_rows_per_op": "count",
    "plans.shuffle_write_bytes_per_op": "B", "plans.shuffle_read_bytes_per_op": "B",
    "plans.spill_bytes_per_op": "B", "plans.scan_rows_per_result_row": "ratio",
    "operators.pyworker_cpu_s_per_op": "s", "driver.py_cpu_s_per_op": "s",
    "caching.release_ms_p50": "ms",
    "sources.write_ms_p50": "ms", "sources.bytes_written_per_op": "B",
    "sources.files_written_per_op": "count",
    "serving.flight_info_ms_p50": "ms", "serving.do_get_ms_p50": "ms",
    "serving.prepared_bind_ms_p50": "ms", "serving.bytes_per_op": "B",
    "serving.overhead_ms_p50": "ms",
    "jvm.cpu_s_per_op": "s", "jvm.gc_ms_per_op": "ms", "jvm.rss_peak_mb": "MB",
    "host.steal_share": "ratio", "trace.overhead_share": "ratio",
    **{f"self.{layer}_share": "ratio" for layer in SPAN_LAYERS},
}


def stop_engine(spark) -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for both the
    JVM and the Python workers it forked to exit."""
    from pyspark import SparkContext

    import probes

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = probes.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            break
        time.sleep(0.1)
    else:
        for p in alive:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, sizes=None,
        corrupt_reference: bool = False, work: str = WORK, log=None) -> dict:
    """One benchmark run; returns the report (see ``main`` for printing)."""
    t_begin = time.monotonic()
    walls = {}
    log = log or (lambda msg: print(msg, file=sys.stderr, flush=True))
    env = pin_environment(work)
    sys.path.insert(0, ROOT)
    import numpy as np

    import datagen
    import probes
    from spans import Tracer
    from workloads import WORKLOADS, duckdb_views

    import arrow_ballista_spark  # noqa: F401  fail fast outside a checkout

    sizes = sizes or datagen.Sizes(sf=0.01, documents=100, embeddings=100)
    sf_dir = datagen.write_tables(os.path.join(work, "data"), seed, sizes)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    w = WORKLOADS[workload](sf_dir, run_dir)

    # every sweep this run may need, drawn from the seed up front
    rng = np.random.default_rng(seed)
    sweeps = [w.sweep(rng) for _ in range(400)]
    con = duckdb_views(sf_dir)
    w.references(con, [op for s in sweeps[:24] for op in s])
    if corrupt_reference:
        key = next(iter(w.refs))
        w.refs[key] = "0:deliberately-wrong"

    from arrow_ballista_spark.catalog import register_tables
    from arrow_ballista_spark.session import get_session

    runner = Runner(w, log)
    walls["prepare"] = time.monotonic() - t_begin
    t0 = time.perf_counter()
    spark = get_session(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    t1 = time.perf_counter()
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tree = probes.ProcessTree(jvm_pid)
    report: dict = {}
    try:
        with probes.MemorySampler(tree) as mem:
            register_tables(spark, sf_dir)
            t2 = time.perf_counter()
            w.start(spark)
            warm = Tracer(False)
            for sweep in sweeps[: w.WARM_SWEEPS]:
                for op in sweep:
                    runner.execute(op, warm, traced=False)
            t3 = time.perf_counter()
            setup = {"get_session_s": t1 - t0, "register_tables_s": t2 - t1,
                     "warm_pass_s": t3 - t2}
            walls["setup"] = t3 - t0
            deadline = t_begin + HARD_STOP_S
            steal0 = probes.cpu_stat()
            plain = Tracer(False)
            if not trace:
                units = [[(s, plain, False)] for s in sweeps[w.WARM_SWEEPS:]]
            else:

                def probe():
                    return {**tree.cpu(), "gc_ms": probes.jvm_gc_ms(spark)}

                # each sweep twice, untraced and traced in alternating order
                # (untraced first), so both halves see the same operations
                # and, over several pairs, the same warm-up
                traced = Tracer(True, probe)
                units = [[(s, plain, False), (s, traced, True)][:: -1 if k % 2 else 1]
                         for k, s in enumerate(sweeps[w.WARM_SWEEPS:])]
            t_measure = time.monotonic()
            outs = runner.phase(units, measured_sweeps(w, seconds), deadline)
            walls["measure"] = time.monotonic() - t_measure
            report["steal"] = probes.steal_share(steal0, probes.cpu_stat())
            e2e = end_to_end(outs.get(id(plain), []), busy_s(plain), t3 - t0)
            if trace:
                traced.dump(os.path.join(work, f"trace-{workload}-seed{seed}.json"))
        e2e["mem_peak_mb"] = mem.peak_total_mb
        report.update(e2e=e2e, setup=setup, jvm_peak_mb=mem.peak_jvm_mb)
        if trace:
            touts = outs.get(id(traced), [])
            report["layers"] = per_layer(touts, traced, setup, e2e["ops_per_s"],
                                         mem.peak_jvm_mb, report["steal"])
            report["self_s"] = traced.self_times()
            report["op_s_total"] = sum(o.layers["op_s"] for o in touts)
    finally:
        t_down = time.monotonic()
        w.stop()
        from arrow_ballista_spark.operators.caching import release_caches

        release_caches()
        stop_engine(spark)
        con.close()
        import shutil

        shutil.rmtree(run_dir, ignore_errors=True)
        walls["teardown"] = time.monotonic() - t_down
    report.update(attempted=runner.attempted, failed=runner.failed, env=env, walls=walls,
                  total_s=time.monotonic() - t_begin)
    return report


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "nproc": len(os.sched_getaffinity(0))}


def format_report(workload: str, seed: int, trace: bool, rep: dict) -> tuple[list[str], dict]:
    """Human-readable lines and the final JSON object."""
    e2e = rep["e2e"]
    env = rep["env"]
    v = versions()
    lines = [
        f"perfbench workload={workload} seed={seed} trace={int(trace)} "
        f"spark={v['spark']} pyarrow={v['pyarrow']} duckdb={v['duckdb']} "
        f"nproc={v['nproc']} SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} "
        f"SPARK_DRIVER_MEM={env['SPARK_DRIVER_MEM']} "
        f"SPARK_LOCAL_DIRS={os.path.relpath(env['SPARK_LOCAL_DIRS'], ROOT)}",
        f"host.steal_share {rep['steal']:.4f} ratio",
        "wall " + " ".join(f"{k}={v:.1f}s" for k, v in rep["walls"].items())
        + f" total={rep['total_s']:.1f}s",
    ]
    for k in ("setup_s", "op_p50_ms", "op_p90_ms", "ops_per_s", "mem_peak_mb"):
        extra = ""
        if k.startswith("op_p"):
            extra = f"  (n={e2e['_n']}" + (
                f", {e2e['_beyond_p90']} beyond)" if k == "op_p90_ms" else ")")
        lines.append(f"{k} {e2e[k]:.4f} {UNITS[k]}{extra}")
    for kind, (n, p50) in e2e["_kinds"].items():
        lines.append(f"  kind {kind}: n={n} p50={p50:.1f} ms")
    ratio = rep["failed"] / rep["attempted"] if rep["attempted"] else 0.0
    lines.append(f"fail_ratio {ratio:.4f} ratio  ({rep['failed']} failed / "
                 f"{rep['attempted']} attempted)")
    if trace:
        metrics = rep["layers"]
        for k, val in metrics.items():
            lines.append(f"{k} {val:.6g} {LAYER_UNITS[k]}")
        covered = sum(rep["self_s"].values())
        lines.append(f"self-time check: layers+uncovered {covered:.4f} s "
                     f"of {rep['op_s_total']:.4f} s summed op time")
    else:
        metrics = {k: e2e[k] for k in UNITS}
    result = {
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {k: {"value": round(val, 6), "unit": {**UNITS, **LAYER_UNITS}[k]}
                    for k, val in metrics.items()},
    }
    return lines, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["llm_pipeline", "flight_serving"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    rep = run(args.workload, args.seed, args.seconds, bool(args.trace))
    lines, result = format_report(args.workload, args.seed, bool(args.trace), rep)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
