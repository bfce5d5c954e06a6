"""The two workloads.  Both are closed loops with one client: each call
starts only after the previous one has returned.

``analytics``     one pass over ``QUERIES`` builders, each forced through
                  the noop sink.
``ingest_serve``  backfill job, idempotent re-run, a micro-batched replay
                  through the streaming consumer, then API reads on the
                  backfilled table.

A workload object offers ``run_pass(tag, collect)`` (one full pass; with
``collect`` it keeps outputs for checking) and ``check(outputs)`` (untimed
comparison against DuckDB, tallied in ``attempted``/``failed``).  The
benchmark times only calls into the package's public functions.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import duckdb
import pyarrow.parquet as pq

from trading_etl_python_spark import jobs
from trading_etl_python_spark.sinks import upsert_ignore
from trading_etl_python_spark.sources.tables import TABLES
from trading_etl_python_spark.streaming.pipeline import stream_indicators
from trading_etl_python_spark.suite import ORACLES, QUERIES

from perfbench.trace import SparkProbe, Tracer, catalyst_phases
from tools.check_correctness import compare

# the three suite builders that run the most eager jobs inside the
# builder.  The set is cut to what fits the run-time budget; the flagship
# indicator table runs in ingest_serve's backfill (see README.md).
ANALYTICS_QUERIES = [
    "q_corpus_pipeline",
    "q_dedup_clusters",
    "q_pagerank",
]
WARMUP = 26
TICK_FILES = 2
READS_PER_PASS = 4
WARM_READS = 2  # one of each kind
KEYS = ("time", "symbol")
# streamed columns that a 60-row buffer reproduces exactly; EMA/RSI are
# infinite-memory recurrences and may differ once a split cuts history
EXACT_STREAM_COLS = ["close", "sma_20", "bb_upper", "bb_lower"]
RECURRENT_STREAM_COLS = ["ema_10", "ema_20", "rsi_14"]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """State shared by both workloads: session, inputs, tracer, probe,
    per-run counters and the attempted/failed tally."""

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = Tracer(False)
        self.probe: SparkProbe | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._duck: duckdb.DuckDBPyConnection | None = None

    def set_trace(self, on: bool) -> None:
        self.tracer = Tracer(on)
        if on and self.probe is None:
            self.probe = SparkProbe(self.spark)

    @contextmanager
    def layer(self, name: str, op: str | None = None, totals: bool = False):
        """Span around one call into the package.  In the traced run the
        Spark work done inside it is counted and yielded back; with
        ``totals`` it also adds to the run-wide counters."""
        with self.tracer.span(name, op):
            got: dict[str, float] = {}
            mark = self.probe.mark() if self.tracer.enabled else None
            try:
                yield got
            finally:
                if mark is not None:
                    got.update(self.probe.since(mark))
                    if totals:
                        for k, v in got.items():
                            self.counts[k] += v

    def attempt(self, what: str, fn):
        """Run one operation; a raised error counts as a failure and the
        pass goes on, so one bad call cannot hide the others."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.problems.append(f"{what}: {traceback.format_exc(limit=3)}")
            print(f"operation failed: {what}", file=sys.stderr)
            traceback.print_exc()
            return None

    def verify(self, what: str, fn) -> None:
        """Run one output check; ``fn`` returns the problems it found.  An
        error inside the check is a problem too."""
        self.attempted += 1
        try:
            problems = fn()
        except Exception:
            problems = [f"{what}: {traceback.format_exc(limit=3)}"]
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            for p in problems:
                print(f"check failed: {p}", file=sys.stderr)

    def duck(self) -> duckdb.DuckDBPyConnection:
        if self._duck is None:
            con = duckdb.connect()
            con.sql(f"SET temp_directory = '{self.work_dir}/duckdb_tmp'")
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            self._duck = con
        return self._duck

    def oracle(self, name: str):
        return self.duck().sql(ORACLES[name]).df()

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


class Analytics(Workload):
    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.order = list(ANALYTICS_QUERIES)
        random.Random(self.seed).shuffle(self.order)
        self.rows_out: dict[str, int] = {}

    def run_pass(self, tag: str, collect: bool) -> dict:
        outputs = {}
        for name in self.order:
            def one(name=name):
                with self.tracer.span("query", op=name):
                    t0 = time.perf_counter()
                    with self.layer("suite.build", totals=True) as built:
                        df = QUERIES[name](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    with self.layer("exec", totals=True):
                        if collect:
                            outputs[name] = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    if self.tracer.enabled:
                        with self.tracer.span("plan"):
                            for k, v in catalyst_phases(df).items():
                                self.counts[k] += v
                        self.counts["suite.build_jobs"] += built.get("exec.jobs", 0)
                self.samples[f"query.{name}.build_s"].append(t1 - t0)
                self.samples[f"query.{name}.exec_s"].append(t2 - t1)
            self.attempt(f"{tag} {name}", one)
        return outputs

    def check(self, outputs: dict) -> None:
        for name, sdf in outputs.items():
            self.rows_out[name] = len(sdf)
            self.verify(name, lambda name=name, sdf=sdf: [
                f"{name}: {p}" for p in compare(name, sdf, self.oracle(name))])

    def report(self) -> dict:
        out = {f"rows_out.{k}": v for k, v in sorted(self.rows_out.items())}
        for k, v in self.samples.items():
            if k.startswith("query."):
                out[k] = _median(v)
        return out


def replay_ticks(spark, ticks_dir: str, checkpoint: str, write_batch):
    """The consumer path: tick files -> tick projection ->
    ``stream_indicators`` -> ``foreachBatch(write_batch)``, one file per
    micro-batch, availableNow, wired as ``run_replay_pipeline`` wires
    it (perfbench/tests pins the two to the same output)."""
    from pyspark.sql import functions as F

    schema = spark.read.parquet(ticks_dir).schema
    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(ticks_dir)
    ticks = raw.select(
        F.col("user_id").alias("symbol"),
        F.col("ts").cast("timestamp").alias("time"),
        "event_id",
        F.col("value").alias("close"),
    ).filter(F.col("close").isNotNull() & F.col("time").isNotNull())
    q = (
        stream_indicators(ticks)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


class IngestServe(Workload):
    """Backfill, re-run, stream replay and reads over one fresh table per
    pass."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.ticks_dir = os.path.join(self.work_dir, "ticks")
        self._write_tick_files()
        rng = random.Random(self.seed)
        self.read_plan = []
        for i in range(READS_PER_PASS):
            if i % 2 == 0:
                self.read_plan.append(("latest", None, None))
            else:
                lo = rng.randrange(1, 29)
                hi = min(30, lo + rng.randrange(0, 3))
                self.read_plan.append(("range", f"2024-01-{lo:02d}", f"2024-01-{hi:02d}"))
        self.stream_batch_s: list[float] = []
        self.ema_rsi_diff_rows = 0

    def _write_tick_files(self) -> None:
        """The events table as TICK_FILES time-ordered files; modification
        times are set in order, because the file source replays files
        oldest first."""
        os.makedirs(self.ticks_dir)
        ev = pq.read_table(f"{self.data_dir}/events.parquet").sort_by(
            [("ts", "ascending"), ("event_id", "ascending")]
        )
        n = ev.num_rows
        base = time.time() - 3600
        for k in range(TICK_FILES):
            lo, hi = k * n // TICK_FILES, (k + 1) * n // TICK_FILES
            path = os.path.join(self.ticks_dir, f"ticks-{k:03d}.parquet")
            pq.write_table(ev.slice(lo, hi - lo), path)
            os.utime(path, (base + k, base + k))

    @contextmanager
    def _traced_job_internals(self):
        """In the traced run, span the package functions ``backfill_job``
        calls (scan, indicator plan, sink) by wrapping the names the jobs
        module looks up; the originals are restored afterwards."""
        if not self.tracer.enabled:
            yield
            return
        names = {"bars": "sources.bars", "indicator_table": "operators.indicator_table",
                 "upsert_ignore": "sinks.upsert_ignore"}
        originals = {n: getattr(jobs, n) for n in names}

        def wrap(n, fn):
            def call(*a, **k):
                with self.layer(names[n]) as got:
                    r = fn(*a, **k)
                if n == "upsert_ignore":
                    self._count_upsert(got, r)
                return r
            return call

        for n, fn in originals.items():
            setattr(jobs, n, wrap(n, fn))
        try:
            yield
        finally:
            for n, fn in originals.items():
                setattr(jobs, n, fn)

    def _count_upsert(self, got: dict, rows: int) -> None:
        if self.tracer.enabled:
            self.counts["sinks.upsert_jobs"] += got.get("exec.jobs", 0)
            self.counts["sinks.rows_written"] += rows

    def replay(self, checkpoint: str, sink: str):
        def write_batch(batch_df, batch_id: int) -> None:
            t0 = time.perf_counter()
            with self.layer("sinks.upsert_ignore", op="stream") as got:
                rows = upsert_ignore(batch_df, sink, keys=KEYS)
            self.stream_batch_s.append(time.perf_counter() - t0)
            self._count_upsert(got, rows)

        return replay_ticks(self.spark, self.ticks_dir, checkpoint, write_batch)

    def run_pass(self, tag: str, collect: bool) -> dict:
        """With ``collect`` (the warm-up pass) only WARM_READS reads run:
        one of each kind exercises the read path."""
        spark, w = self.spark, self.work_dir
        table = os.path.join(w, f"table_{tag}")
        ckpt, sink = os.path.join(w, f"ckpt_{tag}"), os.path.join(w, f"sink_{tag}")
        out = {"table": table, "ckpt": ckpt, "sink": sink, "reads": []}

        def backfill(kind):
            t0 = time.perf_counter()
            with self.layer("jobs.backfill_job", op=kind, totals=True), \
                    self._traced_job_internals():
                n = jobs.backfill_job(spark, self.data_dir, table, warmup=WARMUP)
            self.samples[f"{kind}_s"].append(time.perf_counter() - t0)
            return n

        out["backfill_rows"] = self.attempt(f"{tag} backfill", lambda: backfill("backfill"))
        out["rerun_rows"] = self.attempt(f"{tag} rerun", lambda: backfill("rerun"))

        def stream():
            self.stream_batch_s = []
            t0 = time.perf_counter()
            with self.layer("streaming.replay", op="stream", totals=True):
                q = self.replay(ckpt, sink)
            dt = time.perf_counter() - t0
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
            rows = sum(p.numInputRows for p in progress)
            self.samples["stream_s"].append(dt)
            self.samples["stream_rows_per_s"].append(rows / dt)
            self.samples["batch_s"].extend(p.durationMs.get("triggerExecution", 0) / 1e3 for p in progress)
            self.samples["sink_batch_s"].extend(self.stream_batch_s)
            for key, ms in (("add_batch", "addBatch"), ("planning", "queryPlanning"),
                            ("commit", "commitOffsets")):
                self.samples[f"streaming.{key}_s"].extend(p.durationMs.get(ms, 0) / 1e3 for p in progress)
            for p in progress:
                for so in p.stateOperators:
                    self.samples["streaming.state_update_s"].append(so.allUpdatesTimeMs / 1e3)
                    self.samples["streaming.state_commit_s"].append(so.commitTimeMs / 1e3)
            if self.tracer.enabled and progress:
                self.counts["streaming.batches"] += len(progress)
                self.counts["streaming.input_rows"] += rows
                last = progress[-1].stateOperators
                self.counts["streaming.state_rows"] = sum(so.numRowsTotal for so in last)
                self.counts["streaming.state_bytes"] = sum(so.memoryUsedBytes for so in last)
            return len(progress)

        self.attempt(f"{tag} stream", stream)

        for i, (kind, lo, hi) in enumerate(self.read_plan[:WARM_READS] if collect else self.read_plan):
            def read(i=i, kind=kind, lo=lo, hi=hi):
                t0 = time.perf_counter()
                with self.layer(f"jobs.{kind}_query_job", op=f"read{i}", totals=True) as got:
                    if kind == "latest":
                        pdf = jobs.latest_indicators_job(spark, table).toPandas()
                    else:
                        pdf = jobs.range_query_job(spark, table, lo, hi).toPandas()
                dt = time.perf_counter() - t0
                self.samples[f"{kind}_s"].append(dt)
                self.samples["read_s"].append(dt)
                if kind == "range" and self.tracer.enabled:
                    self.counts["jobs.range_files_read"] += got.get("sources.files_read", 0)
                return pdf
            pdf = self.attempt(f"{tag} read {kind}", read)
            out["reads"].append((kind, lo, hi, pdf))
        return out

    def check(self, out: dict) -> None:
        """Backfill writes every gated row and the re-run none; the stream
        sink holds the same gated rows with unique keys and exact window
        columns, and a restart appends nothing; reads match the oracle."""
        import pandas as pd

        spark = self.spark
        ref = self.oracle("q_stream_replay")
        ref["day"] = ref["time"].dt.strftime("%Y-%m-%d")
        n_ref = len(ref)

        def writes():
            probs = []
            if out["backfill_rows"] != n_ref:
                probs.append(f"backfill wrote {out['backfill_rows']} rows, oracle gates {n_ref}")
            if out["rerun_rows"] != 0:
                probs.append(f"re-run wrote {out['rerun_rows']} rows, expected 0")
            return probs

        def stream_sink():
            probs = []
            sink = spark.read.parquet(out["sink"]).drop("trade_date").toPandas()
            if len(sink) != n_ref:
                probs.append(f"stream sink has {len(sink)} rows, oracle gates {n_ref}")
            if sink.duplicated(["time", "symbol"]).any():
                probs.append("stream sink keys are not unique")
            joined = sink.merge(ref, on=["symbol", "time"], suffixes=("", "_ref"))
            if len(joined) != n_ref:
                probs.append(f"stream sink matches {len(joined)} of {n_ref} oracle keys")

            def differs(c):
                a, b = joined[c], joined[f"{c}_ref"]
                return ~((a == b) | (a.isna() & b.isna()))

            for c in EXACT_STREAM_COLS:
                if bad := int(differs(c).sum()):
                    probs.append(f"stream {c}: {bad} rows differ from the batch window values")
            diff = pd.Series(False, index=joined.index)
            for c in RECURRENT_STREAM_COLS:
                diff |= differs(c)
            self.ema_rsi_diff_rows = int(diff.sum())
            self.replay(out["ckpt"], out["sink"])
            after = spark.read.parquet(out["sink"]).count()
            if after != len(sink):
                probs.append(f"restart on the same checkpoint appended {after - len(sink)} rows")
            return probs

        self.verify("backfill", writes)
        self.verify("stream sink", stream_sink)

        latest_ref = ref.groupby("symbol")["time"].max().sort_index()
        for kind, lo, hi, pdf in out["reads"]:
            if pdf is None:  # the read itself failed and is already counted
                continue

            def read_ok(kind=kind, lo=lo, hi=hi, pdf=pdf):
                if kind == "latest":
                    got = pdf.set_index("symbol")["time"].sort_index()
                    if not pdf["symbol"].is_unique or len(pdf) != len(latest_ref):
                        return [f"latest returned {len(pdf)} rows for {len(latest_ref)} symbols"]
                    if not got.equals(latest_ref.astype(got.dtype)):
                        return ["latest times differ from the oracle's per-symbol maxima"]
                    return []
                want = int(ref["day"].between(lo, hi).sum())
                if len(pdf) != want:
                    return [f"range {lo}..{hi} returned {len(pdf)} rows, oracle counts {want}"]
                return []

            self.verify(f"read {kind}", read_ok)

    def report(self) -> dict:
        s = self.samples
        reads = sorted(s["read_s"])
        return {
            "backfill_s": _median(s["backfill_s"]),
            "rerun_s": _median(s["rerun_s"]),
            "read_p50_ms": 1e3 * _median(reads),
            # too few reads per run for a p90 with samples beyond it
            "read_max_ms": 1e3 * max(reads, default=0.0),
            "read_samples": len(reads),
            "stream_rows_per_s": _median(s["stream_rows_per_s"]),
            "batch_p50_s": _median(s["batch_s"]),
            "batch_samples": len(s["batch_s"]),
            "stream_ema_rsi_diff_rows": self.ema_rsi_diff_rows,
        }


WORKLOADS = {"analytics": Analytics, "ingest_serve": IngestServe}
