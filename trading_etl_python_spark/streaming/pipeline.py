"""Structured Streaming port of the reference's consumer path
(SURVEY.md §2.1 T1-T7; /root/reference/trading-etl-python/src/processing/
consumer.py:214-265).

Reference semantics -> Spark mapping:

- micro-batch poll loop (consumer.py:234, <=500 msgs/1000 ms)   -> trigger
  intervals / maxOffsetsPerTrigger (or availableNow for replay)
- per-symbol 60-row buffer, EMA/RSI recomputed over it per message
  (consumer.py:35-39,162)                                       -> carried
  keyed state in ``applyInPandasWithState`` (GroupState, NoTimeout): the
  ``operators.recursive`` EMA/RSI kernel states plus the last 19 closes
  for SMA-20/Bollinger, advanced over each micro-batch's new rows only
- JSON decode with per-message isolation (consumer.py:146-149)  -> from_json
  (NULL on bad rows, filtered)
- warmup gate >=26 rows (consumer.py:165-167)                   -> state row
  count check before emitting
- at-least-once + idempotent sink (consumer.py:200,250)         -> foreachBatch
  dedup-append with checkpointing (effectively-once)

The offline harness replays the ``events`` parquet as a file stream —
the Kafka wiring is the same code with ``format("kafka")`` + the wire
schema decode (transforms.TICK_WIRE_SCHEMA); it is an edge adapter, not
engine logic.

Scale: state per key is a fixed 31 doubles (19 closes, 3 kernel states)
plus a row count, so total state = O(#symbols) regardless of stream
length; shuffle is one hash exchange on symbol per micro-batch.  Because
the recurrences carry their state instead of re-seeding from a trimmed
buffer, the emitted rows are the batch full-history indicators for ANY
micro-batch split of the stream (tests/test_streaming.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators import recursive as R
from ..operators.recursive import NAN, round_half_up

WARMUP = 26  # consumer.py:165
SMA_N = 20  # consumer.py:93-98 (SMA-20, Bollinger 20/2)


def stream_state_partitions(spark: SparkSession, n: int | str | None = None):
    """Pin ``spark.sql.shuffle.partitions`` for the duration of ONE
    eagerly-executed streaming run, restoring it afterwards.

    Structured Streaming reads the shuffle-partition count at query
    start and bakes it into the checkpoint as the STATE partition
    count — it is a per-stream design choice, not a batch tuning knob.
    Every state partition carries fixed machinery (store provider,
    delta files, commit fsyncs; a stream-stream join runs FOUR stores
    per partition), so the count should track key cardinality and
    per-trigger volume, not the session's batch default.  Measured at
    sf0.1 (r13, guide §2.2 fewer-larger-partitions): the stream-stream
    join at 32 state partitions spent ~20 s/task of uniform per-task
    state overhead; 8 partitions ran the same single-batch replay 2.2x
    faster with identical output.  Default 8 (~1.5k keys, <100k rows
    per replay batch locally); on a cluster set
    ``SPARK_GRAFT_STREAM_PARTITIONS`` to the keys-x-throughput sizing —
    the value is pinned per checkpoint either way, so restarts are
    consistent by construction.

    Results are partition-count-independent: state routing is
    hash(key)-deterministic and every streaming operator here is
    per-key; the oracle gates (value-hash) re-certify the stream
    queries this round regardless.
    """
    import os as _os
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        key = "spark.sql.shuffle.partitions"
        val = str(n or _os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
        prev = spark.conf.get(key, None)
        spark.conf.set(key, val)
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    return _cm()


TICK_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.LongType()),
        T.StructField("time", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("close", T.DoubleType()),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.LongType()),
        T.StructField("time", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("sma_20", T.DoubleType()),
        T.StructField("ema_10", T.DoubleType()),
        T.StructField("ema_20", T.DoubleType()),
        T.StructField("rsi_14", T.DoubleType()),
        T.StructField("bb_upper", T.DoubleType()),
        T.StructField("bb_lower", T.DoubleType()),
    ]
)

# state per symbol: rows consumed (warm-up gate), the last SMA_N-1 closes
# (SMA/Bollinger windows) and the EMA-10 / EMA-20 / RSI-14 kernel states
STATE_SCHEMA = T.StructType(
    [
        T.StructField("seen", T.LongType()),
        T.StructField("tail", T.ArrayType(T.DoubleType())),
        T.StructField("ema_10", T.ArrayType(T.DoubleType())),
        T.StructField("ema_20", T.ArrayType(T.DoubleType())),
        T.StructField("rsi_14", T.ArrayType(T.DoubleType())),
    ]
)


def _stateful_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One micro-batch of one symbol: sort the new ticks by (time,
    event_id), advance the carried state over them, and emit the gated
    rows (mirrors calculate_live_indicators, consumer.py:82-135)."""
    (sym,) = key
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:  # pragma: no cover - empty poll, skip (consumer.py:236)
        yield pd.DataFrame(columns=[f.name for f in OUT_SCHEMA.fields])
        return
    # Sort the COMBINED micro-batch once: a key whose batch arrives as
    # multiple Arrow chunks must not advance the state over unsorted runs.
    batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    batch = batch.sort_values(["time", "event_id"], kind="mergesort")
    if state.exists:
        seen, tail, *kernels = state.get
        # Arrow may null NaN slots in array<double>
        kernels = [[NAN if v is None else float(v) for v in k] for k in kernels]
    else:
        seen, tail, kernels = 0, [], [R.ema_state(), R.ema_state(), R.rsi_state()]
    closes = batch["close"].to_numpy(np.float64)
    k = len(closes)
    hist = np.r_[np.asarray(tail, dtype=np.float64), closes]
    sma, sd = np.full(k, np.nan), np.full(k, np.nan)
    if len(hist) >= SMA_N:
        win = np.lib.stride_tricks.sliding_window_view(hist, SMA_N)
        sma[k - len(win) :] = win.mean(axis=1)
        sd[k - len(win) :] = win.std(axis=1, ddof=1)
    emit = pd.DataFrame(
        {
            "symbol": sym,
            "time": batch["time"].to_numpy(),
            "event_id": batch["event_id"].to_numpy(np.int64),
            "close": closes,
            "sma_20": round_half_up(sma, 4),
            "ema_10": round_half_up(R.ema_kernel(closes, kernels[0], 10), 4),
            "ema_20": round_half_up(R.ema_kernel(closes, kernels[1], 20), 4),
            "rsi_14": round_half_up(R.rsi_kernel(closes, kernels[2], 14), 4),
            "bb_upper": round_half_up(sma + 2.0 * sd, 4),
            "bb_lower": round_half_up(sma - 2.0 * sd, 4),
        }
    )
    state.update((seen + k, hist[-(SMA_N - 1) :].tolist(), *kernels))
    # warmup gate: >=WARMUP rows of history AND sma present (consumer.py:165-173)
    yield emit[(seen + np.arange(1, k + 1) >= WARMUP) & ~np.isnan(sma)]


def stream_indicators(ticks: DataFrame) -> DataFrame:
    """Streaming DF of ticks -> streaming DF of gated indicator rows with
    per-symbol carried state."""
    return (
        ticks.groupBy("symbol")
        .applyInPandasWithState(
            _stateful_fn,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_windowed_stats(
    ticks: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the canonical Structured
    Streaming operator, and a strict upgrade over the reference's late-
    data story (it has none: any tick is applied whenever it arrives,
    SURVEY.md T3).  Append mode emits a window only once its end falls
    behind the watermark, so results are final; state is bounded because
    closed windows are evicted.

    Scale: one shuffle on (window, symbol); state size = open windows x
    symbols, independent of stream length."""
    return (
        ticks.withWatermark("time", watermark)
        .groupBy(F.window("time", window).alias("w"), "symbol")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.round(F.avg("close"), 4).alias("avg_close"),
            F.round(F.max("close"), 4).alias("max_close"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "symbol",
            "n_ticks",
            "avg_close",
            "max_close",
        )
    )


def events_file_stream(spark: SparkSession, sf_dir: str, max_files: int = 1) -> DataFrame:
    """Replay the events parquet as a micro-batched file stream (the
    offline stand-in for the Kafka source, per SURVEY.md §3.3).

    The file's physical ``ts`` encoding has varied across testdata
    generations (TIMESTAMP(NANOS) read as long via nanosAsLong vs native
    TIMESTAMP(MICROS)), so the streaming schema is derived from a one-off
    batch read of the same file and normalized to TimestampType the same
    way the batch loader does — a schema-drift-proof wire decode (the
    file-format analogue of versioned JSON wire schemas, SURVEY.md §1.3)."""
    from ..session import ensure_session_compat

    ensure_session_compat(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files)
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .parquet(sf_dir)
    )
    ts_kind = raw.schema["ts"].dataType.typeName()
    if ts_kind == "long":  # nanosAsLong generation: integer-divide ns -> us
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_kind in ("timestamp", "timestamp_ntz"):
        # native timestamp generation.  Streaming event time must be
        # TIMESTAMP (LTZ) — Spark rejects NTZ watermark columns
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — while the batch loader
        # normalizes to TIMESTAMP_NTZ; the two representations carry
        # identical values ONLY under a UTC session timezone, which
        # ensure_session_compat pins (and warns about when it cannot).
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    # schema drift (e.g. string or int32 ts in a future testdata
    # generation) must fail loudly here — a blind cast would produce
    # NULLs that the pipeline's isNotNull filter silently drops,
    # yielding an empty stream instead of an error
    raise ValueError(f"unsupported ts physical type {ts_kind!r} in {sf_dir}/events.parquet")


def run_replay_pipeline(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    out_table: str = "stream_out",
    sink_path: str | None = None,
) -> DataFrame:
    """End-to-end availableNow replay: file source -> tick projection ->
    stateful indicators -> foreachBatch idempotent dedup-append into an
    in-memory table.  Returns the collected batch result as a DataFrame.

    The foreachBatch sink is ``sinks.upsert_ignore`` — the reference's
    at-least-once + ON CONFLICT DO NOTHING path (T4): replayed batches
    anti-join against the already-written (time, symbol) keys, so
    re-delivery never double-inserts, across batches and across restarts."""
    import os

    from ..sinks import upsert_ignore

    ev = events_file_stream(spark, sf_dir)
    ticks = ev.select(
        F.col("user_id").alias("symbol"),
        F.col("ts").alias("time"),
        "event_id",
        F.col("value").alias("close"),
    ).filter(F.col("close").isNotNull() & F.col("time").isNotNull())
    out = stream_indicators(ticks)

    # the sink must live WITH the checkpoint: a restart that reuses the
    # checkpoint (source already consumed) must also see the rows it wrote
    sink_path = sink_path or os.path.join(checkpoint_dir, "sink")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_ignore(batch_df, sink_path, keys=("time", "symbol"))

    q = (
        out.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(sink_path):  # stream produced no gated rows at all
        res = spark.createDataFrame([], OUT_SCHEMA)
    else:
        res = spark.read.parquet(sink_path).drop("trade_date")
    res.createOrReplaceTempView(out_table)
    return res


def stream_candles(
    ticks: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming OHLC candles — the same rollup as the batch
    ``temporal.candles`` (min_by/max_by on event time inside a
    watermarked tumbling window), so the streaming and batch paths give
    identical bars for closed windows.  Append mode: a candle is emitted
    exactly once, when its window falls behind the watermark; state =
    open windows only."""
    return (
        ticks.withWatermark("time", watermark)
        .groupBy(F.window("time", window).alias("w"), "symbol")
        .agg(
            F.min_by("close", "time").alias("open_px"),
            F.max("close").alias("high_px"),
            F.min("close").alias("low_px"),
            F.max_by("close", "time").alias("close_px"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "symbol",
            F.col("w.start").alias("bucket_start"),
            "open_px", "high_px", "low_px", "close_px", "n_ticks",
        )
    )


def stream_stream_join(
    a: DataFrame,
    b: DataFrame,
    join_minutes: int = 10,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with event-time bounds — a capability the
    reference cannot express at all (its consumer sees one topic; joining
    two live streams would need a second consumer plus hand-rolled state).

    Both sides are watermarked and the join condition carries a time
    range, so Spark knows exactly how long to buffer each side's state
    (watermark + range bound) and evicts it after — bounded state on
    unbounded streams.  Shuffles both sides on ``user_id`` once; at scale
    this is the same co-partitioned hash join as the batch interval join
    (PLANS.md §13).

    a: probe events (view/click), b: window-opening events (error).
    """
    wa = a.withWatermark("ts", watermark).alias("a")
    wb = b.withWatermark("ts", watermark).alias("b")
    return wa.join(
        wb,
        F.expr(
            f"""a.user_id = b.user_id
            AND a.ts >= b.ts
            AND a.ts <= b.ts + INTERVAL {join_minutes} MINUTES"""
        ),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("probe_event_id"),
        F.col("b.event_id").alias("window_event_id"),
        F.col("a.ts").alias("probe_ts"),
    )


def stream_dedup_within_watermark(
    ticks: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming key-dedup: ``dropDuplicatesWithinWatermark`` on
    (symbol, time) — the streaming-native form of the reference's
    ``ON CONFLICT DO NOTHING`` (SURVEY.md A1/T3): a replayed or
    duplicated tick inside the watermark horizon is dropped in-flight,
    BEFORE the sink, with state bounded by the watermark (keys older
    than the horizon are evicted; the idempotent sink still catches
    replays that arrive later than the horizon)."""
    return ticks.withWatermark("time", watermark).dropDuplicatesWithinWatermark(
        ["symbol", "time"]
    )


def stream_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked SESSION-window aggregation (dynamic-gap sessionize as
    a streaming operator): Spark merges overlapping per-key sessions in
    state and, in append mode, emits a session only once the watermark
    passes its close — the streaming twin of the batch
    ``q_session_window`` (same gap semantics, same output shape).

    Scale: state = open sessions per user (bounded by watermark
    eviction), one shuffle on the session key."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def documents_file_stream(spark: SparkSession, sf_dir: str, max_files: int = 1) -> DataFrame:
    """Replay the documents parquet as a micro-batched file stream."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_heavy_hitter_candidates(
    docs: DataFrame, capacity: int = 64, n_groups: int = 8
) -> DataFrame:
    """Streaming Misra-Gries: a CUSTOM SKETCH as Structured Streaming
    state.  Documents shard onto ``n_groups`` state keys; each key keeps
    one capacity-bounded MG summary (state = parallel token/count
    arrays, O(capacity) per key regardless of stream length) and emits
    its surviving tokens every micro-batch.

    Exactness contract mirrors the batch operator: the UNION of emitted
    candidates is a superset of tokens with global frequency >
    n/capacity (per-shard MG guarantee + the averaging argument over
    shards), so a batch-side exact re-verify of the union returns
    exactly the true heavy hitters — parity-tested against
    operators/sketches.heavy_hitters."""
    import re

    from ..operators.dedup import TOKEN_RE
    from ..operators.sketches import _mg_update

    pat = re.compile(TOKEN_RE)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            toks, cnts = state.get
            counters = dict(zip(toks, cnts))
        else:
            counters = {}
        for pdf in pdfs:
            for text in pdf["text"]:
                if text:
                    _mg_update(counters, [t for t in pat.split(text.lower()) if t], capacity)
        state.update((list(counters.keys()), [int(v) for v in counters.values()]))
        yield pd.DataFrame({"grp": [key[0]] * len(counters), "token": list(counters)})

    return (
        docs.withColumn("grp", F.pmod("doc_id", n_groups).cast("int"))
        .groupBy("grp")
        .applyInPandasWithState(
            fn,
            outputStructType="grp int, token string",
            stateStructType="tokens array<string>, counts array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_ingest_dedup(
    docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.5,
):
    """Streaming crawl-ingest dedup: each micro-batch of new documents
    probes the PERSISTED MinHash band index (write_minhash_index) via
    ``foreachBatch`` and only never-seen documents land in the survivor
    sink.  foreachBatch is the right tool because the probe is a batch
    join against an index snapshot — checkpoint + append parquet keep
    the sink effectively-once across restarts.

    Scale: per batch, cost is O(batch x bands + collisions) — the
    historical corpus is touched only through band-partition/row-group
    pruned index reads, never reshingled (operators/dedup docstring)."""
    from ..operators.dedup import minhash_incremental_pairs

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = spark.read.parquet(index_path)
        dups = minhash_incremental_pairs(batch_df, idx, threshold=threshold)
        keep = batch_df.join(
            dups.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        keep.write.mode("append").parquet(out_path)

    return (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_drift_monitor(
    events: DataFrame,
    reference: DataFrame,
    out_path: str,
    checkpoint: str,
    value_col: str = "value",
    group_col: str = "event_type",
    with_ks: bool = False,
):
    """Streaming feature-drift monitor: every micro-batch is scored
    against a STATIC reference snapshot with the PSI operator and the
    per-group index lands in an append-only audit table keyed by
    batch_id — the production shape for "alert when the live
    distribution leaves the training distribution".  foreachBatch
    because PSI is a batch comparison per trigger; reference stats are
    recomputed lazily per batch from the (broadcast-sized) reference
    aggregate, the stream side is one narrow scan per batch.

    ``with_ks=True`` additionally scores each micro-batch with the
    exact two-sample Kolmogorov-Smirnov statistic (``ks_drift``) — the
    distribution-free escalation when the binned PSI flags a shift —
    joined into the same audit row per (group, batch)."""
    from ..operators.transforms import psi_drift

    def score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # quantized: judged rows must not be rounded float sums
        # (PLANS.md §62) — each PSI term is 1e-9-integer-quantized
        out = psi_drift(reference, batch_df, value_col, group_col, quantized=True)
        if with_ks:
            from ..operators.transforms import ks_drift

            ks = ks_drift(reference, batch_df, value_col, group_col)
            out = out.join(
                ks.withColumnRenamed("group", group_col), group_col, "full"
            )
        out = out.withColumn("batch_id", F.lit(batch_id).cast("long"))
        out.write.mode("append").parquet(out_path)

    return (
        events.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_cardinality_monitor(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    item_col: str = "value",
    group_col: str = "event_type",
    p: int = 8,
):
    """Streaming cardinality monitor: every micro-batch's per-group
    distinct count is estimated with the PORTABLE HLL
    (operators/sketches.hll_estimate) and appended to an audit table
    keyed by batch_id — the "key-space exploded / feed went constant"
    alarm that complements the value-distribution monitors (PSI/KS).
    Same foreachBatch shape as ``stream_drift_monitor``; at deployment
    the registers themselves can be persisted instead and max-merged
    across batches for running totals (mergeability is test-pinned on
    the batch operator)."""
    from ..operators.sketches import hll_estimate

    def score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        it = batch_df.select(
            F.col(group_col), F.col(item_col).cast("string").alias("_item")
        )
        out = hll_estimate(it, "_item", group_col, p=p).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        out.write.mode("append").parquet(out_path)

    return (
        events.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_bloom_dedup(
    docs: DataFrame,
    out_path: str,
    checkpoint: str,
    key_col: str = "doc_id",
    m_bits: int = 65536,
    k: int = 4,
):
    """Streaming exact-key dedup with a BLOOM pre-filter: per micro-batch,
    rows whose key the persisted bloom says was never seen append
    directly (a bloom has no false negatives, so "definitely new" is
    sound); only the maybe-seen remainder pays the anti-join against
    the sink's keys — then the bloom merges in the batch's keys
    (bit_or, the mergeability the batch operator pins) and persists
    beside the checkpoint.

    This is the streaming twin of ``bloom_semi_audit``'s join-pruning
    posture: at crawl-ingest scale the sink key set is huge and mostly
    non-colliding, so the expensive membership join runs on the
    fp-rate-sized slice instead of every batch row.  Exactness is
    unconditional — false positives only route rows to the verify join,
    never drop them.

    Replay safety (foreachBatch is at-least-once): the bloom persists
    BEFORE the sink append.  A crash between the two writes leaves the
    batch's keys bloom-marked but absent from the sink, so the replayed
    batch routes them through the verify anti-join and appends them
    exactly once.  The reverse order would let the replay's stale bloom
    call already-appended keys "fresh" and duplicate them.  For the
    same reason a MISSING bloom (first batch, crash inside the swap
    window, operator reset) demotes to verify-everything: the whole
    batch pays the anti-join against the sink's keys — slower, never
    duplicating.

    State on disk: ``<checkpoint>/bloom_words.parquet`` (m/32 rows).
    Sink: append-only parquet at ``out_path`` holding first-writer rows.
    """
    import os

    from ..operators.sketches import (
        bloom_build,
        bloom_collect,
        bloom_might_contain,
    )

    words_path = os.path.join(checkpoint, "bloom_words.parquet")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # first-writer-wins WITHIN the batch
        batch_df = batch_df.dropDuplicates([key_col])
        have_bloom = os.path.isdir(words_path)
        if have_bloom:
            words = bloom_collect(spark.read.parquet(words_path), m_bits)
            maybe = batch_df.filter(
                bloom_might_contain(key_col, words, m_bits, k)
            )
            fresh = batch_df.filter(
                ~bloom_might_contain(key_col, words, m_bits, k)
            )
        else:
            # no bloom state -> no "definitely new" claim is sound;
            # route the whole batch through the verify join
            maybe = batch_df
            fresh = None
        seen = None
        if os.path.isdir(out_path):
            seen = spark.read.parquet(out_path).select(key_col)
            if not have_bloom:
                # the rebuild path reads the sink keys TWICE (verify
                # join + bloom seed) — checkpoint the one scan
                seen = seen.localCheckpoint()
            maybe = maybe.join(seen, key_col, "left_anti")
        new_rows = (
            fresh.unionByName(maybe) if fresh is not None else maybe
        ).localCheckpoint()
        # bloom covers ALL batch keys (sink-duplicates were seen too);
        # on a rebuild-from-nothing it must ALSO cover the sink's
        # historical keys, or post-reset batches would bloom-miss old
        # keys and append them unverified
        seed = batch_df.select(key_col)
        if not have_bloom and seen is not None:
            seed = seed.unionByName(seen)
        add = bloom_build(seed, key_col, m_bits, k)
        if have_bloom:
            prev = spark.read.parquet(words_path)
            merged = (
                prev.unionByName(add)
                .groupBy("widx")
                .agg(F.bit_or("bits").alias("bits"))
            )
        else:
            merged = add
        # task-private temp + swap; a crash inside the window leaves
        # words_path absent, which the next batch treats as
        # verify-everything (safe, see docstring)
        tmp = words_path + f".tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(words_path):
            import shutil

            shutil.rmtree(words_path)
        os.replace(tmp, words_path)
        # sink append LAST: replay after a crash here re-verifies via
        # the anti-join instead of trusting the already-updated bloom
        new_rows.write.mode("append").parquet(out_path)

    return (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


