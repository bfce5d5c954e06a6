"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the repository root.  Generates the inputs from ``--seed`` under
``.perfbench_work/``, starts a ``local[nproc]`` session through the
package's ``get_spark``, warms up with one full untimed pass of the
workload, checks that pass's outputs against DuckDB, then runs measured
passes until ``--seconds`` have elapsed.  The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``; the per-layer ones with
``--trace 1``, from one extra traced pass).  The line before it is a
report with host, seed, sample counts and workload details, also
appended to ``.perfbench_results/<host>.jsonl``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_LABEL = "sf0.01-shaped"
JVM_HEAP = "1g"

# wall time per pass is in the report, not here: on a shared VM it tracks
# the CPU other tenants steal (see README.md)
END_TO_END = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

# per-layer metric -> unit; names follow the package's modules
QUERY_LAYER = [
    f"query.{q}.{part}"
    for q in ("q_corpus_pipeline", "q_dedup_clusters", "q_pagerank")
    for part in ("build_s", "exec_s")
]
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "suite.build_s": "s",
    "suite.build_jobs": "count",
    "suite.build_share": "ratio",
    **{name: "s" for name in QUERY_LAYER},
    "plan.analysis_s": "s",
    "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_start_s": "s",
    "exec.python_init_s": "s",
    "exec.python_run_s": "s",
    "exec.python_bytes_sent": "bytes",
    "sources.scan_s": "s",
    "sources.files_read": "count",
    "sources.bytes_read": "bytes",
    "operators.indicators_s": "s",
    "sinks.upsert_s": "s",
    "sinks.upsert_jobs": "count",
    "sinks.rerun_upsert_s": "s",
    "sinks.rows_written": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "jobs.backfill_s": "s",
    "jobs.rerun_s": "s",
    "jobs.latest_p50_ms": "ms",
    "jobs.range_p50_ms": "ms",
    "jobs.range_files_read": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.rows_per_s": "1/s",
    "streaming.batch_p50_s": "s",
    "streaming.add_batch_p50_s": "s",
    "streaming.planning_p50_s": "s",
    "streaming.commit_p50_s": "s",
    "streaming.state_update_p50_s": "s",
    "streaming.state_commit_p50_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.sink_p50_s": "s",
    "streaming.ema_rsi_diff_rows": "count",
    "trace.glue_s": "s",
    "trace.overhead_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, nproc: int) -> None:
    """Keep every file Spark, the JVM, Python workers and DuckDB write
    inside ``work``, and make the package importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "duckdb_tmp")):
        os.makedirs(d)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options '{java_opts}' pyspark-shell"
        ),
    })


def _peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Kernel high-water RSS (MB) of this Python process and of the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def _tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    this process and every live descendant: the JVM, its Python worker
    daemon and workers."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        stats[int(pid)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _steal() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, traced_wall: float, untraced_wall: float, start_s: float, warm_s: float) -> dict:
    s, c, tr = wl.samples, wl.counts, wl.tracer
    self_t = tr.layer_self_times()
    build = self_t.get("suite.build", 0.0)
    execute = self_t.get("exec", 0.0)
    upserts = [sp for sp in tr.spans if sp["name"] == "sinks.upsert_ignore"]
    rerun_upserts = [sp for sp in upserts if sp["op"] == "rerun"]
    out = {
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "suite.build_s": build,
        "suite.build_jobs": c.get("suite.build_jobs", 0),
        "suite.build_share": build / (build + execute) if build + execute else 0.0,
        **{name: s[name][-1] if s.get(name) else 0.0 for name in QUERY_LAYER},
        "exec.s": execute,
        "operators.indicators_s": self_t.get("operators.indicator_table", 0.0),
        "sinks.upsert_s": sum(sp["end"] - sp["start"] for sp in upserts if sp["op"] != "rerun"),
        "sinks.rerun_upsert_s": sum(sp["end"] - sp["start"] for sp in rerun_upserts),
        "jobs.backfill_s": s["backfill_s"][-1] if s.get("backfill_s") else 0.0,
        "jobs.rerun_s": s["rerun_s"][-1] if s.get("rerun_s") else 0.0,
        "jobs.latest_p50_ms": 1e3 * _median(s.get("latest_s", [])),
        "jobs.range_p50_ms": 1e3 * _median(s.get("range_s", [])),
        "streaming.rows_per_s": _median(s.get("stream_rows_per_s", [])),
        "streaming.batch_p50_s": _median(s.get("batch_s", [])),
        "streaming.sink_p50_s": _median(s.get("sink_batch_s", [])),
        "streaming.ema_rsi_diff_rows": getattr(wl, "ema_rsi_diff_rows", 0),
        "trace.glue_s": self_t.get("pass", 0.0),
        "trace.overhead_s": traced_wall - untraced_wall,
    }
    for key in ("add_batch", "planning", "commit", "state_update", "state_commit"):
        out[f"streaming.{key}_p50_s"] = _median(s.get(f"streaming.{key}_s", []))
    for name in PER_LAYER:
        out.setdefault(name, c.get(name, 0.0))
    return out


def main(argv=None) -> int:
    args = _args(argv)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, nproc)
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        from perfbench.gen import generate
        from perfbench.workloads import WORKLOADS
        from trading_etl_python_spark.session import get_spark

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        t_run = time.perf_counter()
        data = generate(os.path.join(work, "data"), args.seed)
        phases = {"gen_s": time.perf_counter() - t_run}

        t0, c0 = time.perf_counter(), _tree_cpu_s()
        spark = get_spark("perfbench", nproc)
        start_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, data, work, args.seed)
            t0 = time.perf_counter()
            warm_out = wl.run_pass("warm", collect=True)
            warm_s = time.perf_counter() - t0
            phases["setup_cpu_s"] = _tree_cpu_s() - c0
            t0 = time.perf_counter()
            wl.check(warm_out)
            phases["check_s"] = time.perf_counter() - t0

            wl.samples.clear()
            walls, cpus, steal = [], [], []
            t_measure = time.perf_counter()
            while not walls or time.perf_counter() - t_measure < args.seconds:
                t0, c0, s0 = time.perf_counter(), _tree_cpu_s(), _steal()
                wl.run_pass(f"m{len(walls)}", collect=False)
                walls.append(time.perf_counter() - t0)
                cpus.append(_tree_cpu_s() - c0)
                steal.append(_steal() - s0)
            phases["measure_s"] = time.perf_counter() - t_measure
            wall_s = _median(walls)
            cpu_s = _median(cpus)
            details = wl.report()

            traced = None
            if args.trace:
                wl.samples.clear()
                wl.set_trace(True)
                t0 = time.perf_counter()
                with wl.tracer.span("pass", op="pass"):
                    wl.run_pass("traced", collect=False)
                traced_wall = time.perf_counter() - t0
                traced = per_layer(wl, traced_wall, wall_s, start_s, warm_s)
            rss_parts = _peak_rss_mb(int(spark._jvm.ProcessHandle.current().pid()))
            rss = sum(rss_parts)
        finally:
            _stop(spark)
            if "wl" in locals():
                wl.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    phases["total_s"] = time.perf_counter() - t_run

    host = {"nproc": nproc, "sf": SF_LABEL, "seed": args.seed, "pyspark": pyspark.__version__,
            "python": platform.python_version(), "jvm_heap": JVM_HEAP}
    report = {
        "workload": args.workload, "trace": args.trace, "host": host,
        "samples": {"wall_s": len(walls), "cpu_s": len(cpus), "setup_s": 1},
        "setup_s": start_s + warm_s, "wall_s": wall_s, "cpu_s": cpu_s, "peak_rss_mb": rss,
        "phases": phases, "walls": walls, "cpus": cpus, "steal_s": steal,
        "rss_py_jvm_mb": rss_parts, "details": details, "problems": wl.problems[:20],
    }
    if traced is not None:
        report["per_layer"] = traced
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    key = f"nproc{nproc}-pyspark{pyspark.__version__}"
    with open(os.path.join(results, f"{key}.jsonl"), "a") as fh:
        fh.write(json.dumps(report) + "\n")
    if traced is not None:
        wl.tracer.write(os.path.join(results, f"{key}-spans-{args.workload}-{args.seed}.json"))
    print(json.dumps(report))

    if args.trace:
        metrics = {k: {"value": traced[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": start_s + warm_s, "cpu_s": cpu_s, "peak_rss_mb": rss}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
