"""Tests of the benchmark itself.  From the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The Spark tests start a local session; the traced-run tests run the
benchmark end to end in a child process, about a minute per workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.trace import Tracer, parse_sql_metric  # noqa: E402


def test_metric_names_match_benchmark_json():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


@pytest.mark.parametrize(
    "text, value",
    [
        ("6,250", 6250.0),
        ("18 ms", 0.018),
        ("1.5 s", 1.5),
        ("214.0 KiB", 214.0 * 1024),
        ("total (min, med, max (stageId: taskId))\n2.2 s (483 ms, 578 ms, 610 ms (stage 7.0: task 10))", 2.2),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_self_times_sum_to_root():
    tr = Tracer(True)
    with tr.span("pass", op="pass") as root:
        with tr.span("a"):
            time.sleep(0.01)
            with tr.span("b"):
                time.sleep(0.02)
        time.sleep(0.005)
    st = tr.self_times(root["id"])
    assert sum(st.values()) == pytest.approx(root["end"] - root["start"], abs=1e-9)
    assert st[2] >= 0.02 and st[1] >= 0.01 and st[0] >= 0.005
    assert tr.spans[2]["op"] == "pass"


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("pass"):
        pass
    assert tr.spans == []


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from trading_etl_python_spark.session import get_spark

    s = get_spark("perfbench-tests", 2)
    yield s
    bench._stop(s)


def test_stream_composition_writes_what_run_replay_pipeline_writes(spark, tmp_path):
    """Fed the single events file, the benchmark's consumer composition
    writes exactly the rows the shipped ``run_replay_pipeline`` writes."""
    from perfbench.gen import generate
    from perfbench.workloads import KEYS, replay_ticks
    from trading_etl_python_spark.sinks import upsert_ignore
    from trading_etl_python_spark.streaming.pipeline import run_replay_pipeline

    data = generate(str(tmp_path / "data"), seed=0)
    ticks = tmp_path / "ticks"
    ticks.mkdir()
    shutil.copy(os.path.join(data, "events.parquet"), ticks / "events.parquet")
    sink = str(tmp_path / "sink")
    replay_ticks(spark, str(ticks), str(tmp_path / "ckpt"),
                 lambda df, _id: upsert_ignore(df, sink, keys=KEYS))
    ours = spark.read.parquet(sink).drop("trade_date")
    shipped = run_replay_pipeline(spark, data, str(tmp_path / "ckpt_shipped"),
                                  sink_path=str(tmp_path / "shipped"))
    assert ours.columns == shipped.columns
    n = ours.count()
    assert n > 0 and n == shipped.count()
    assert ours.exceptAll(shipped).count() == 0
    assert shipped.exceptAll(ours).count() == 0


@pytest.mark.parametrize("workload", ["analytics", "ingest_serve"])
def test_traced_run_accounts_for_wall_time(workload):
    """The traced pass's span self times sum to its wall time, nearly all
    of it inside calls into the package, and every per-layer metric and
    the tracing overhead are reported."""
    seed = 7
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(bench.PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert "trace.overhead_s" in m

    key = f"nproc{report['host']['nproc']}-pyspark{report['host']['pyspark']}"
    with open(os.path.join(ROOT, ".perfbench_results", f"{key}-spans-{workload}-{seed}.json")) as fh:
        spans = json.load(fh)
    tr = Tracer(True)
    tr.spans = spans
    (root,) = [s for s in spans if s["parent"] is None]
    wall = root["end"] - root["start"]
    st = tr.self_times(root["id"])
    assert sum(st.values()) == pytest.approx(wall, rel=1e-6)
    assert st[root["id"]] == pytest.approx(m["trace.glue_s"])
    assert m["trace.glue_s"] < 0.05 * wall

    if workload == "analytics":
        assert 0 < m["suite.build_share"] < 1
        for q in ("q_corpus_pipeline", "q_dedup_clusters"):
            assert m[f"query.{q}.build_s"] > 0 and m[f"query.{q}.exec_s"] > 0
        assert m["suite.build_jobs"] > 0 and m["plan.analysis_s"] > 0
    else:
        from perfbench.workloads import TICK_FILES

        assert m["streaming.batches"] == TICK_FILES
        assert m["sinks.rows_written"] > 0 and m["sinks.files_written"] > 0
        assert m["jobs.range_files_read"] > 0 and m["streaming.state_rows"] > 0
