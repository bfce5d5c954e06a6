"""Chunked warmup-carry recurrences: exact parity with the unchunked
kernels at every chunk count — the property that makes the long-history
scale path safe to deploy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from trading_etl_python_spark.operators.indicators import with_recursive_suite
from trading_etl_python_spark.operators.recursive import SUITE_COLS as OUT_COLS
from trading_etl_python_spark.operators.recursive import recursive_suite_chunked
from trading_etl_python_spark.sources.tables import bars


def _collect(df):
    rows = {}
    for r in df.select("symbol", "event_id", *OUT_COLS).collect():
        rows[(r.symbol, r.event_id)] = tuple(
            float("nan") if r[c] is None else r[c] for c in OUT_COLS
        )
    return rows


@pytest.mark.parametrize("num_chunks", [1, 3, 5])
def test_chunked_equals_unchunked(spark, sf_dir, num_chunks):
    b = bars(spark, sf_dir)
    base = _collect(with_recursive_suite(b))
    chunked = _collect(recursive_suite_chunked(b, num_chunks=num_chunks))
    assert set(base) == set(chunked)
    mism = 0
    for k, vb in base.items():
        vc = chunked[k]
        for x, y in zip(vb, vc):
            if not (x == y or (np.isnan(x) and np.isnan(y))):
                mism += 1
                if mism < 5:
                    print("MISMATCH", k, vb, vc)
    assert mism == 0  # bit-for-bit (post 4dp rounding) at every chunk count


def test_chunk_boundary_splits_seed_window(spark):
    """A chunk boundary INSIDE an indicator's seed window must not
    perturb the seed: 30 rows, boundary after row 7 (inside every
    n=10..26 warmup) and after row 17 (inside RSI/ATR/ADX smoothing)."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i,
         100.0 + ((i * 13) % 7) - 3.0, 101.5 + ((i * 13) % 7) - 3.0,
         99.0 + ((i * 13) % 7) - 3.0, 10 + i)
        for i in range(30)
    ]
    df = (
        spark.createDataFrame(
            rows,
            "symbol long, time timestamp, event_id long, close double, high double, low double, volume long",
        )
        .withColumn("open", F.col("close"))
        # with_recursive_suite rides an upstream hash(symbol) stage in the
        # flagship; provide that distribution here
        .repartition("symbol")
    )
    base = _collect(with_recursive_suite(df))
    for n_chunks in (2, 4, 6):
        ch = _collect(recursive_suite_chunked(df, num_chunks=n_chunks))
        for k in base:
            for x, y in zip(base[k], ch[k]):
                assert x == y or (np.isnan(x) and np.isnan(y)), (n_chunks, k, base[k], ch[k])
