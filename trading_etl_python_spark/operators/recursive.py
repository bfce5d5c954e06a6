"""Linear-recurrence indicator family (SURVEY.md §2.1 W2, W3, W4, W6, W8):
EMA, RSI, MACD, ATR, ADX, plus the recurrences composed from them.

These are the only reference operators (pandas-ta calls at
/root/reference/trading-etl-python/src/db/backfill.py:18-27,39-44,55 and
src/processing/consumer.py:89-98,110-114,122) that no fixed-frame Spark
window aggregate can express — each output row depends on the *previous
output*, not a bounded input frame.

One carry-state kernel per recurrence.  ``ema_kernel``, ``rsi_kernel``,
``atr_kernel`` and ``adx_kernel`` each take the next slice of one key's
series plus a small state list (a few doubles: rows seen, the seed's
running sum, the last smoothed values, the previous bar) that they
advance in place.  Every caller runs the same kernels:

- batch (``_indicator_map`` plans, ``recursive_suite`` via
  ``indicators.with_recursive_suite``): one call per key with a fresh
  state — ``ema_rec``/``rsi_rec``/``atr_rec``/``adx_rec`` are exactly
  that;
- long histories (``recursive_suite_chunked``): global time-range
  chunks, the suite state carried per key between chunks as one
  ``array<double>`` column;
- streaming (``streaming.pipeline.stream_indicators``): the EMA/RSI
  states held in ``GroupState`` and advanced by each micro-batch's new
  rows.

Seeds are left folds and later values depend only on the carried
scalars, so any split of a key's series into consecutive slices gives
the same doubles as one call over the whole series (tests/
test_properties.py, tests/test_chunked.py, tests/test_streaming.py).

A secondary, Catalyst-visible formulation via the SQL ``aggregate()``
higher-order function over a per-key ``collect_list`` lives in
``ema_via_sql_hof`` (bounded series only; quadratic array copying makes it
a demo/cross-check, not the scale path).

Recurrence definitions (pandas-ta 0.4.71b0 semantics, documented in
SURVEY.md §7.4; all seeded with the SMA of the first n points, Wilder
indicators use alpha=1/n, EMA uses alpha=2/(n+1)):

    ema[n-1]  = mean(x[0..n-1]);   ema[i] = a*x[i] + (1-a)*ema[i-1]

The DuckDB recursive-CTE oracles in ``queries_oracle.py`` implement the
identical recurrences; floats are rounded to 4dp on both sides.  Holt,
Kalman, PSAR, KAMA and CUSUM run only in batch and stay whole-array
loops.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND_DP = 4
NAN = float("nan")


def round_half_up(x: np.ndarray, dp: int = 4) -> np.ndarray:
    """Half-UP (away-from-zero) rounding on the scaled double — the exact
    behavior of DuckDB ROUND and (for these magnitudes) Spark ROUND.
    numpy's np.round is half-EVEN: on series whose recurrences land
    exactly on .xxxx5 halves (common with 2dp-ish price inputs) the two
    modes diverge and the value-hash flips (seen at sf0.1: ATR hit
    exactly 35.91465).  Verified bit-for-bit against DuckDB on boundary
    neighbors in both directions and signs."""
    m = 10.0 ** dp
    with np.errstate(invalid="ignore"):
        return np.copysign(np.floor(np.abs(x) * m + 0.5), x) / m


# ------------------------------------------------------ carry-state kernels
#
# Seeds accumulate as a strict left fold (0.0 + x0 + x1 + ...) / n — the
# order DuckDB's frame AVG (the oracles' recurrence seed) uses.  numpy's
# pairwise .mean() can differ by ~1 ulp, which survives the Wilder
# recurrence long enough to flip a 4dp rounding boundary.


def true_range(
    h: np.ndarray, lo: np.ndarray, c: np.ndarray, prev_close: float | None = None
) -> np.ndarray:
    """TR_i = max(h-l, |h-prev_c|, |l-prev_c|), where row 0's previous
    close is ``prev_close``; with none (the series' first row) TR_0 = h-l."""
    tr = h - lo
    if len(c) == 0:
        return tr
    k = 1 if prev_close is None else 0
    pc = c[:-1] if prev_close is None else np.r_[prev_close, c[:-1]]
    if len(pc):
        tr[k:] = np.maximum.reduce([tr[k:], np.abs(h[k:] - pc), np.abs(lo[k:] - pc)])
    return tr


def ema_state() -> list[float]:
    """[rows seen, seed sum, last EMA]."""
    return [0.0, 0.0, NAN]


def ema_kernel(x: np.ndarray, st: list[float], n: int) -> np.ndarray:
    """SMA-seeded EMA(n), alpha = 2/(n+1); NaN before the n-th row."""
    a = 2.0 / (n + 1.0)
    b = 1.0 - a
    seen, acc, prev = st
    out = [NAN] * len(x)
    for i, v in enumerate(x.tolist()):
        seen += 1
        if seen < n:
            acc += v
        elif seen == n:
            acc += v
            prev = acc / n
            out[i] = prev
        else:
            prev = a * v + b * prev
            out[i] = prev
    st[:] = [seen, acc, prev]
    return np.array(out, dtype=np.float64)


def rsi_state() -> list[float]:
    """[rows seen, gain sum, loss sum, avg gain, avg loss, last close]."""
    return [0.0, 0.0, 0.0, NAN, NAN, NAN]


def rsi_kernel(c: np.ndarray, st: list[float], n: int = 14) -> np.ndarray:
    """RSI(n): Wilder averages of close-to-close gains and losses, seeded
    with their means over the first n deltas; rsi = 100*ag/(ag+al), NaN
    before row n and wherever ag+al is not positive."""
    seen, gacc, lacc, ag, al, prevc = st
    out = [NAN] * len(c)
    if len(c) == 0:
        return np.array(out, dtype=np.float64)
    a = 1.0 / n
    b = 1.0 - a
    d = c - np.r_[prevc, c[:-1]]
    gains = np.where(d > 0, d, 0.0).tolist()
    losses = np.where(d < 0, -d, 0.0).tolist()
    for i in range(1 if seen == 0 else 0, len(c)):  # row 0 ever has no delta
        g, l = gains[i], losses[i]
        nd = seen + i  # deltas up to and including this row
        if nd < n:
            gacc += g
            lacc += l
        elif nd == n:
            gacc += g
            lacc += l
            ag, al = gacc / n, lacc / n
            if ag + al > 0:
                out[i] = 100.0 * ag / (ag + al)
        else:
            ag = a * g + b * ag
            al = a * l + b * al
            out[i] = 100.0 * ag / (ag + al) if (ag + al) > 0 else NAN
    st[:] = [seen + len(c), gacc, lacc, ag, al, float(c[-1])]
    return np.array(out, dtype=np.float64)


def atr_state() -> list[float]:
    """[rows seen, seed sum, last ATR, last close]."""
    return [0.0, 0.0, NAN, NAN]


def atr_kernel(
    h: np.ndarray, lo: np.ndarray, c: np.ndarray, st: list[float], n: int = 14
) -> np.ndarray:
    """ATR(n) = Wilder RMA(n) of the true range, seeded with its SMA."""
    seen, tacc, atr, prevc = st
    out = [NAN] * len(c)
    if len(c) == 0:
        return np.array(out, dtype=np.float64)
    a = 1.0 / n
    b = 1.0 - a
    tr = true_range(h, lo, c, None if seen == 0 else prevc).tolist()
    for i, t in enumerate(tr):
        seen += 1
        if seen < n:
            tacc += t
        elif seen == n:
            tacc += t
            atr = tacc / n
            out[i] = atr
        else:
            atr = a * t + b * atr
            out[i] = atr
    st[:] = [seen, tacc, atr, float(c[-1])]
    return np.array(out, dtype=np.float64)


def adx_state() -> list[float]:
    """[rows seen, last high, last low, last close, +DM/-DM/TR seed sums,
    smoothed +DM/-DM/TR, DX seed sum, non-NaN DX count, last ADX]."""
    return [0.0, NAN, NAN, NAN, 0.0, 0.0, 0.0, NAN, NAN, NAN, 0.0, 0.0, NAN]


def _dx(sp: float, sm: float, stt: float) -> float:
    if stt <= 0:
        return NAN
    dip, dim = 100.0 * sp / stt, 100.0 * sm / stt
    return 100.0 * abs(dip - dim) / (dip + dim) if (dip + dim) > 0 else NAN


def adx_kernel(
    h: np.ndarray, lo: np.ndarray, c: np.ndarray, st: list[float], n: int = 14
) -> np.ndarray:
    """ADX(n): ±DM -> Wilder-smooth(n) -> ±DI -> DX -> RMA(n) of DX.
    First DX at row n; ADX (seeded with the mean of the non-NaN DX among
    the first n) from row 2n-1."""
    seen, ph, pl, pc, pacc, macc, tacc, sp, sm, stt, dxacc, dxnn, adx = st
    out = [NAN] * len(c)
    if len(c) == 0:
        return np.array(out, dtype=np.float64)
    a = 1.0 / n
    b = 1.0 - a
    up = h - np.r_[ph, h[:-1]]
    dn = np.r_[pl, lo[:-1]] - lo
    pdm = np.where((up > dn) & (up > 0), up, 0.0).tolist()
    mdm = np.where((dn > up) & (dn > 0), dn, 0.0).tolist()
    tr = true_range(h, lo, c, None if seen == 0 else pc).tolist()
    for i in range(1 if seen == 0 else 0, len(c)):  # row 0 ever has no DM
        nd = seen + i  # deltas up to and including this row
        if nd < n:
            pacc += pdm[i]
            macc += mdm[i]
            tacc += tr[i]
            continue
        if nd == n:
            pacc += pdm[i]
            macc += mdm[i]
            tacc += tr[i]
            sp, sm, stt = pacc / n, macc / n, tacc / n
        else:
            sp = a * pdm[i] + b * sp
            sm = a * mdm[i] + b * sm
            stt = a * tr[i] + b * stt
        dx = _dx(sp, sm, stt)
        ndx = nd - n + 1  # DX values up to and including this row
        if ndx <= n:
            if not math.isnan(dx):
                dxacc += dx
                dxnn += 1
            if ndx == n:
                adx = dxacc / dxnn if dxnn > 0 else NAN
                out[i] = adx
        else:
            if not math.isnan(dx):
                adx = a * dx + b * adx
            out[i] = adx
    st[:] = [
        seen + len(c), float(h[-1]), float(lo[-1]), float(c[-1]),
        pacc, macc, tacc, sp, sm, stt, dxacc, dxnn, adx,
    ]
    return np.array(out, dtype=np.float64)


def ema_rec(x: np.ndarray, n: int) -> np.ndarray:
    return ema_kernel(x, ema_state(), n)


def rsi_rec(c: np.ndarray, n: int = 14) -> np.ndarray:
    return rsi_kernel(c, rsi_state(), n)


def atr_rec(h: np.ndarray, lo: np.ndarray, c: np.ndarray, n: int = 14) -> np.ndarray:
    return atr_kernel(h, lo, c, atr_state(), n)


def adx_rec(h: np.ndarray, lo: np.ndarray, c: np.ndarray, n: int = 14) -> np.ndarray:
    return adx_kernel(h, lo, c, adx_state(), n)


# ------------------------------------------------------- Spark grouped-map


def _schema_str(df: DataFrame, out_cols: dict[str, str]) -> str:
    return ", ".join(
        [f"`{c}` {t}" for c, t in df.dtypes] + [f"`{c}` {t}" for c, t in out_cols.items()]
    )


def _indicator_map(df: DataFrame, out_cols: dict[str, str], fn, repartition: bool = True) -> DataFrame:
    """Whole-partition scaffold: co-locate keys with ONE hash exchange on
    symbol, then ``mapInPandas`` processes an entire partition per Python
    task — per-key numpy slices found by sorted boundary scan, no per-group
    Arrow round-trips.  ~5-10x faster than the grouped-map at many-small-
    keys shapes (the streaming-symbol workload).

    Scale note: a task materializes its partition (pd.concat) — per-task
    memory is bounded by the shuffle partition count, which ``repartition``
    pins explicitly (AQE coalescing would otherwise shrink small stages
    below the core count).  For very long per-key histories raise the
    partition count; keys are never split across partitions."""
    schema = _schema_str(df, out_cols)
    in_cols = [c for c, _ in df.dtypes]

    def compute(batches) -> "pd.DataFrame":
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if len(pdf) == 0:
            return
        order = np.lexsort(
            (pdf["event_id"].to_numpy(), pdf["time"].to_numpy(), pdf["symbol"].to_numpy())
        )
        pdf = pdf.iloc[order].reset_index(drop=True)
        sym = pdf["symbol"].to_numpy()
        starts = np.flatnonzero(np.r_[True, sym[1:] != sym[:-1]])
        ends = np.r_[starts[1:], len(sym)]
        outs = {c: np.full(len(sym), np.nan) for c in out_cols}
        for s, e in zip(starts, ends):
            for c, arr in fn(pdf.iloc[s:e]).items():
                outs[c][s:e] = arr
        for c in out_cols:
            pdf[c] = round_half_up(outs[c], ROUND_DP)
        yield pdf

    if repartition:
        from ..util import spread

        df = spread(df, "symbol")
    return df.mapInPandas(compute, schema=schema)


def with_ema(df: DataFrame, periods: tuple[int, ...] = (10, 20)) -> DataFrame:
    """W2 — EMA(n) for each n (backfill.py:18-19)."""

    def fn(pdf: pd.DataFrame):
        c = pdf["close"].to_numpy(dtype=np.float64)
        return {f"ema_{n}": ema_rec(c, n) for n in periods}

    return _indicator_map(df, {f"ema_{n}": "double" for n in periods}, fn)


def with_rsi(df: DataFrame, n: int = 14) -> DataFrame:
    """W3 — RSI(n) (backfill.py:20)."""

    def fn(pdf: pd.DataFrame):
        return {f"rsi_{n}": rsi_rec(pdf["close"].to_numpy(dtype=np.float64), n)}

    return _indicator_map(df, {f"rsi_{n}": "double"}, fn)


def with_macd(df: DataFrame, fast: int = 12, slow: int = 26) -> DataFrame:
    """W4 — MACD line = EMA(fast) - EMA(slow); the reference keeps only
    the line (backfill.py:23-27)."""

    def fn(pdf: pd.DataFrame):
        c = pdf["close"].to_numpy(dtype=np.float64)
        return {"macd_line": ema_rec(c, fast) - ema_rec(c, slow)}

    return _indicator_map(df, {"macd_line": "double"}, fn)


def with_atr(df: DataFrame, n: int = 14) -> DataFrame:
    """W8 — ATR(n) (backfill.py:55)."""

    def fn(pdf: pd.DataFrame):
        return {
            f"atr_{n}": atr_rec(
                pdf["high"].to_numpy(np.float64),
                pdf["low"].to_numpy(np.float64),
                pdf["close"].to_numpy(np.float64),
                n,
            )
        }

    return _indicator_map(df, {f"atr_{n}": "double"}, fn)


def with_adx(df: DataFrame, n: int = 14) -> DataFrame:
    """W6 — ADX(n) (backfill.py:39-44)."""

    def fn(pdf: pd.DataFrame):
        return {
            f"adx_{n}": adx_rec(
                pdf["high"].to_numpy(np.float64),
                pdf["low"].to_numpy(np.float64),
                pdf["close"].to_numpy(np.float64),
                n,
            )
        }

    return _indicator_map(df, {f"adx_{n}": "double"}, fn)


SUITE_COLS = ("ema_10", "ema_20", "macd_line", "rsi_14", "atr_14", "adx_14")
_SUITE_EMAS = (10, 20, 12, 26)


def suite_state() -> list[list[float]]:
    """Fresh state of ``recursive_suite``: EMA 10/20/12/26, RSI-14,
    ATR-14, ADX-14 kernel states."""
    return [ema_state() for _ in _SUITE_EMAS] + [rsi_state(), atr_state(), adx_state()]


def recursive_suite(pdf: pd.DataFrame, st: list[list[float]] | None = None) -> dict:
    """The five recurrence indicators over one key's (time, event_id)-
    sorted rows, advancing ``st`` (a fresh ``suite_state()`` if omitted)."""
    st = suite_state() if st is None else st
    c = pdf["close"].to_numpy(np.float64)
    h = pdf["high"].to_numpy(np.float64)
    lo = pdf["low"].to_numpy(np.float64)
    e10, e20, e12, e26 = (ema_kernel(c, s, n) for s, n in zip(st, _SUITE_EMAS))
    return {
        "ema_10": e10,
        "ema_20": e20,
        "macd_line": e12 - e26,
        "rsi_14": rsi_kernel(c, st[4], 14),
        "atr_14": atr_kernel(h, lo, c, st[5], 14),
        "adx_14": adx_kernel(h, lo, c, st[6], 14),
    }


def recursive_suite_chunked(df: DataFrame, num_chunks: int = 4) -> DataFrame:
    """``recursive_suite`` over global time-range chunks — the scale path
    for per-key histories too long for one task.  Per-task memory is
    bounded by the chunk, not the history: each chunk is one parallel
    ``applyInPandas`` pass over all keys, and the suite state (one
    ``array<double>`` per key) carries the recurrences across chunks, so
    the output equals the unchunked suite at every chunk count
    (tests/test_chunked.py).

    Chunk bounds are approx-percentile cut points on ``time`` (ties kept
    together); the loop is sequential on the driver.  The per-symbol
    state is a (symbol, _prev_state) DataFrame broadcast-joined onto the
    next chunk, so the driver never materializes state rows (at millions
    of keys swap the broadcast hint for a shuffle join).

    ``df`` is re-evaluated once per chunk (plus the percentile pass), so
    it must be DETERMINISTIC — a parquet scan + filters is; an unordered
    ``limit()`` / unseeded ``sample()`` is not and would send different
    rows to different chunks."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.dtypes]
        + [f"`{c}` double" for c in SUITE_COLS]
        + ["`_state` array<double>"]
    )

    if num_chunks > 1:
        cuts = df.select(
            F.percentile_approx(
                "time", [i / num_chunks for i in range(1, num_chunks)], 10_000
            ).alias("p")
        ).collect()[0]["p"]
        bounds = [None, *cuts, None]
    else:
        bounds = [None, None]

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        pv = pdf.pop("_prev_state").iloc[0]
        pdf = pdf.sort_values(["time", "event_id"], kind="mergesort").reset_index(drop=True)
        st = suite_state()
        if not (pv is None or (isinstance(pv, float) and math.isnan(pv))):
            # Arrow may null NaN slots in array<double>
            flat = iter([NAN if v is None else float(v) for v in pv])
            st = [[next(flat) for _ in s] for s in st]
        for col, arr in recursive_suite(pdf, st).items():
            pdf[col] = round_half_up(arr, ROUND_DP)
        pdf["_state"] = [None] * (len(pdf) - 1) + [sum(st, [])]
        return pdf

    carry = df.sparkSession.createDataFrame(
        [],
        StructType(
            [
                StructField("symbol", df.schema["symbol"].dataType),
                StructField("_prev_state", ArrayType(DoubleType())),
            ]
        ),
    )
    out = None
    for lo_b, hi_b in zip(bounds[:-1], bounds[1:]):
        part = df
        if lo_b is not None:
            part = part.filter(F.col("time") > F.lit(lo_b))
        if hi_b is not None:
            part = part.filter(F.col("time") <= F.lit(hi_b))
        part = part.join(F.broadcast(carry), "symbol", "left")
        res = part.groupBy("symbol").applyInPandas(compute, schema=schema)
        # materialize this chunk once: the final union reads it and the
        # next chunk's carry join depends on it
        res = res.localCheckpoint(eager=True)
        new_states = res.filter(F.col("_state").isNotNull()).select(
            "symbol", F.col("_state").alias("_prev_state")
        )
        # symbols absent from this chunk keep their previous state
        carry = new_states.unionByName(
            carry.join(new_states, "symbol", "left_anti")
        ).localCheckpoint(eager=False)
        res = res.drop("_state")
        out = res if out is None else out.unionByName(res)
    return out.select(*df.columns, *SUITE_COLS)


def holt_rec(
    x: np.ndarray, alpha: float = 0.2, beta: float = 0.1
) -> tuple[np.ndarray, np.ndarray]:
    """Holt double exponential smoothing (linear trend): level l_i =
    a*x_i + (1-a)*(l_{i-1} + b_{i-1}), trend b_i = b*(l_i - l_{i-1}) +
    (1-b)*b_{i-1}, seeded l_0 = x_0, b_0 = x_1 - x_0 (Holt 1957 /
    Hyndman FPP initialization).  Returns (level, trend); a single-row
    key gets level=x_0 and NaN trend — exactly the recursive-CTE
    oracle's seed row with a NULL LEAD."""
    L = len(x)
    lev, tr = np.full(L, np.nan), np.full(L, np.nan)
    if L == 0:
        return lev, tr
    lev[0] = x[0]
    if L == 1:
        return lev, tr
    tr[0] = x[1] - x[0]
    for i in range(1, L):
        lev[i] = alpha * x[i] + (1.0 - alpha) * (lev[i - 1] + tr[i - 1])
        tr[i] = beta * (lev[i] - lev[i - 1]) + (1.0 - beta) * tr[i - 1]
    return lev, tr


def efi_rec(c: np.ndarray, v: np.ndarray, n: int = 13) -> np.ndarray:
    """Elder Force Index(n): EMA(n) of (close - prev_close) * volume,
    SMA-seeded over the first n deltas (the family's uniform seeding
    convention; pandas-ta efi uses the same delta*volume input).  The
    delta series starts at row 1, so the first output lands at row n."""
    out = np.full(len(c), np.nan)
    if len(c) < 2:
        return out
    fi = (c[1:] - c[:-1]) * v[1:]
    out[1:] = ema_rec(fi, n)
    return out


def with_keltner(
    df: DataFrame, n_ema: int = 20, n_atr: int = 10, mult: float = 2.0
) -> DataFrame:
    """Keltner Channel(n_ema, n_atr, mult): mid = EMA(close, n_ema),
    upper/lower = mid ± mult * ATR(n_atr) — the EMA/ATR composition
    indicator (pandas-ta kc family, classic Chester Keltner bands with
    Wilder ATR).  One Arrow pass computes both recurrences per key;
    bands are NULL until BOTH components are warm (NaN propagates
    through the sum, mirroring SQL NULL arithmetic)."""

    def fn(pdf: pd.DataFrame):
        c = pdf["close"].to_numpy(np.float64)
        mid = ema_rec(c, n_ema)
        atr = atr_rec(
            pdf["high"].to_numpy(np.float64),
            pdf["low"].to_numpy(np.float64),
            c,
            n_atr,
        )
        return {
            "kc_mid": mid,
            "kc_upper": mid + mult * atr,
            "kc_lower": mid - mult * atr,
        }

    return _indicator_map(
        df, {"kc_mid": "double", "kc_upper": "double", "kc_lower": "double"}, fn
    )


def with_holt(df: DataFrame, alpha: float = 0.2, beta: float = 0.1) -> DataFrame:
    """Holt linear-trend smoothing per key over close: smoothed level,
    trend, and the one-step-ahead forecast level+trend (computed from
    the UNROUNDED states, then rounded — the oracle rounds l+b the same
    way)."""

    def fn(pdf: pd.DataFrame):
        lev, tr = holt_rec(pdf["close"].to_numpy(np.float64), alpha, beta)
        return {"holt_level": lev, "holt_trend": tr, "holt_fcst": lev + tr}

    return _indicator_map(
        df,
        {"holt_level": "double", "holt_trend": "double", "holt_fcst": "double"},
        fn,
    )


def with_force_index(df: DataFrame, n: int = 13) -> DataFrame:
    """Force Index(n) — EMA-smoothed price-change × volume."""

    def fn(pdf: pd.DataFrame):
        return {
            f"efi_{n}": efi_rec(
                pdf["close"].to_numpy(np.float64),
                pdf["volume"].to_numpy(np.float64),
                n,
            )
        }

    return _indicator_map(df, {f"efi_{n}": "double"}, fn)


# -------------------------------------------- SQL HOF alternative (bounded)


def ema_via_sql_hof(df: DataFrame, n: int = 10, out: str = "ema_hof") -> DataFrame:
    """Catalyst-visible EMA via collect_list + aggregate() fold, then
    posexplode back to rows.  Safe only for bounded per-key series (the
    reference itself bounds state at 60 rows, consumer.py:33); the fold
    re-copies the output array per element, so it is O(len^2) per key.
    Kept as a pure-SQL cross-check of ``with_ema``."""
    a = 2.0 / (n + 1.0)
    packed = df.groupBy("symbol").agg(
        F.array_sort(F.collect_list(F.struct("time", "event_id", "close"))).alias("rows")
    )
    # fold: acc = struct(i, prev, out array); seed = SMA of first n
    fold = F.aggregate(
        F.col("rows"),
        F.struct(
            F.lit(0).alias("i"),
            F.lit(None).cast("double").alias("prev"),
            F.array().cast("array<double>").alias("out"),
        ),
        lambda acc, r: F.struct(
            (acc["i"] + 1).alias("i"),
            F.when(
                acc["i"] + 1 == n,
                F.aggregate(
                    F.slice(F.col("rows"), 1, n), F.lit(0.0), lambda s, rr: s + rr["close"]
                )
                / F.lit(float(n)),
            )
            .when(acc["i"] + 1 > n, F.lit(a) * r["close"] + F.lit(1.0 - a) * acc["prev"])
            .alias("prev"),
            F.concat(
                acc["out"],
                F.array(
                    F.when(
                        acc["i"] + 1 == n,
                        F.aggregate(
                            F.slice(F.col("rows"), 1, n), F.lit(0.0), lambda s, rr: s + rr["close"]
                        )
                        / F.lit(float(n)),
                    ).when(acc["i"] + 1 > n, F.lit(a) * r["close"] + F.lit(1.0 - a) * acc["prev"])
                ),
            ).alias("out"),
        ),
        lambda acc: acc["out"],
    )
    exploded = packed.select("symbol", F.posexplode(fold).alias("pos", out), F.col("rows"))
    return exploded.select(
        "symbol",
        F.col("rows")[F.col("pos")]["time"].alias("time"),
        F.col("rows")[F.col("pos")]["event_id"].alias("event_id"),
        F.col("rows")[F.col("pos")]["close"].alias("close"),
        F.round(F.col(out), ROUND_DP).alias(out),
    )


def trix_rec(c: np.ndarray, n: int = 9) -> np.ndarray:
    """TRIX(n): triple-smoothed EMA rate of change — 100 * (e3_i /
    e3_{i-1} - 1) where e3 = EMA(EMA(EMA(close, n), n), n), each stage
    SMA-seeded over the PREVIOUS stage's first n outputs (so stage k
    starts at row k*n - k + n... i.e. rows n-1, 2n-2, 3n-3; TRIX itself
    at 3n-2)."""
    e1 = ema_rec(c, n)
    out = np.full(len(c), np.nan)
    if len(c) < 3 * n - 2:
        return out
    e2 = np.full(len(c), np.nan)
    e2[n - 1 :] = ema_rec(e1[n - 1 :], n)
    e3 = np.full(len(c), np.nan)
    e3[2 * n - 2 :] = ema_rec(e2[2 * n - 2 :], n)
    with np.errstate(invalid="ignore", divide="ignore"):
        # zero-guard mirrors the oracle's NULLIF (corpus closes can be 0)
        out[1:] = np.where(
            e3[:-1] != 0.0, 100.0 * (e3[1:] / e3[:-1] - 1.0), np.nan
        )
    return out


def supertrend_rec(
    h: np.ndarray, lo: np.ndarray, c: np.ndarray, n: int = 10, mult: float = 3.0
) -> tuple[np.ndarray, np.ndarray]:
    """Supertrend(n, mult): conditional-state band recurrence — the
    indicator family's first true state MACHINE (the others carry
    numeric state; this one branches on it).

    Definitions (documented convention, mirrored exactly by the oracle):
    basic bands ub/lb = hl2 ± mult*ATR(n); final bands ratchet —
    fub_i = min-style: ub_i if (ub_i < fub_{i-1} or close_{i-1} >
    fub_{i-1}) else fub_{i-1}; flb symmetric.  Direction: up if
    close_i > fub (pre-update comparison uses the UPDATED band of this
    row), down if close_i < flb, else carried.  Output st = flb when
    up, fub when down.  Seeded at the first ATR row with dir=up.

    Returns (st, dir) with dir in {1.0, -1.0} (NaN during warmup)."""
    L = len(c)
    st, dr = np.full(L, np.nan), np.full(L, np.nan)
    atr = atr_rec(h, lo, c, n)
    s = n - 1
    if L <= s or np.isnan(atr[s]):
        return st, dr
    hl2 = (h + lo) / 2.0
    ub = hl2 + mult * atr
    lb = hl2 - mult * atr
    fub, flb, d = ub[s], lb[s], 1.0
    st[s], dr[s] = flb, d
    for i in range(s + 1, L):
        if ub[i] < fub or c[i - 1] > fub:
            fub = ub[i]
        if lb[i] > flb or c[i - 1] < flb:
            flb = lb[i]
        if c[i] > fub:
            d = 1.0
        elif c[i] < flb:
            d = -1.0
        st[i] = flb if d == 1.0 else fub
        dr[i] = d
    return st, dr


def with_trix(df: DataFrame, n: int = 9) -> DataFrame:
    """TRIX(n) momentum over close."""

    def fn(pdf: pd.DataFrame):
        return {f"trix_{n}": trix_rec(pdf["close"].to_numpy(np.float64), n)}

    return _indicator_map(df, {f"trix_{n}": "double"}, fn)


def with_supertrend(df: DataFrame, n: int = 10, mult: float = 3.0) -> DataFrame:
    """Supertrend(n, mult): ratcheted band + direction state machine."""

    def fn(pdf: pd.DataFrame):
        st, dr = supertrend_rec(
            pdf["high"].to_numpy(np.float64),
            pdf["low"].to_numpy(np.float64),
            pdf["close"].to_numpy(np.float64),
            n,
            mult,
        )
        return {"supertrend": st, "st_dir": dr}

    return _indicator_map(df, {"supertrend": "double", "st_dir": "double"}, fn)


def kalman_rec(
    z: np.ndarray, q: float = 0.01, r: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Local-level Kalman filter (random-walk state, noisy observation):
    predict P+Q, gain K = P/(P+R), update x += K*(z-x), P *= (1-K) —
    the simplest exponential-like smoother whose weight ADAPTS to its
    own uncertainty (vs Holt/EMA's fixed alpha).  Seeded x=z_0, P=1.
    Returns (filtered level, gain)."""
    L = len(z)
    xs, ks = np.full(L, np.nan), np.full(L, np.nan)
    if L == 0:
        return xs, ks
    x, p = z[0], 1.0
    xs[0] = x
    for i in range(1, L):
        pp = p + q
        k = pp / (pp + r)
        x = x + k * (z[i] - x)
        p = (1.0 - k) * pp
        xs[i], ks[i] = x, k
    return xs, ks


def with_kalman(df: DataFrame, q: float = 0.01, r: float = 1.0) -> DataFrame:
    """Kalman local-level filtered close + gain per key."""

    def fn(pdf: pd.DataFrame):
        xs, ks = kalman_rec(pdf["close"].to_numpy(np.float64), q, r)
        return {"kalman_x": xs, "kalman_gain": ks}

    return _indicator_map(df, {"kalman_x": "double", "kalman_gain": "double"}, fn)


def psar_rec(
    h: np.ndarray, lo: np.ndarray, c: np.ndarray, af0: float = 0.02, afmax: float = 0.2
) -> tuple[np.ndarray, np.ndarray]:
    """Parabolic SAR (Wilder): the acceleration-factor state machine —
    four state variables (sar, ep, af, direction), every transition a
    branch on doubles both engines derive through identical op chains.

    Documented convention (mirrored exactly by the recursive-CTE
    oracle): seeded at the second row — up iff close_1 >= close_0, SAR
    = min(low_0, low_1) (up) / max(high_0, high_1) (down), EP the
    opposite extreme, af = af0.  Each later row: predicted SAR =
    sar + af*(ep - sar), clamped to the prior two lows (up) / highs
    (down); reversal when price crosses the clamped SAR (then SAR:=EP,
    EP:=current extreme, af:=af0, direction flips); otherwise EP
    ratchets via max/min and af steps by af0 up to afmax when EP
    improves.  Returns (sar, dir) with dir in {1.0, -1.0}."""
    L = len(c)
    sar_o, dir_o = np.full(L, np.nan), np.full(L, np.nan)
    if L < 2:
        return sar_o, dir_o
    up = bool(c[1] >= c[0])
    if up:
        sar, ep = min(lo[0], lo[1]), max(h[0], h[1])
    else:
        sar, ep = max(h[0], h[1]), min(lo[0], lo[1])
    af = af0
    sar_o[1], dir_o[1] = sar, 1.0 if up else -1.0
    for i in range(2, L):
        pred = sar + af * (ep - sar)
        if up:
            s1 = min(pred, lo[i - 1], lo[i - 2])
            rev = lo[i] < s1
        else:
            s1 = max(pred, h[i - 1], h[i - 2])
            rev = h[i] > s1
        if rev:
            sar = ep
            ep = lo[i] if up else h[i]
            af = af0
            up = not up
        else:
            sar = s1
            if up:
                if h[i] > ep:
                    af = min(af + af0, afmax)
                ep = max(ep, h[i])
            else:
                if lo[i] < ep:
                    af = min(af + af0, afmax)
                ep = min(ep, lo[i])
        sar_o[i], dir_o[i] = sar, 1.0 if up else -1.0
    return sar_o, dir_o


def with_psar(df: DataFrame, af0: float = 0.02, afmax: float = 0.2) -> DataFrame:
    """Parabolic SAR + direction per key."""

    def fn(pdf: pd.DataFrame):
        s, d = psar_rec(
            pdf["high"].to_numpy(np.float64),
            pdf["low"].to_numpy(np.float64),
            pdf["close"].to_numpy(np.float64),
            af0,
            afmax,
        )
        return {"psar": s, "psar_dir": d}

    return _indicator_map(df, {"psar": "double", "psar_dir": "double"}, fn)


def kama_rec(
    c: np.ndarray, n: int = 10, fast: int = 2, slow: int = 30
) -> np.ndarray:
    """Kaufman Adaptive Moving Average: efficiency ratio |Δn| / Σ|Δ1|
    scales the smoothing constant between the fast and slow EMA alphas,
    squared — kama_i = kama_{i-1} + sc·(c_i − kama_{i-1}), seeded
    kama_n = c_n.

    Parity: both ER operands are micro-quantized to exact integers
    (|Δ| rounded half-up at 1e-6), so the rolling denominator sum is
    exact in any accumulation order and ER is a single division of
    identical doubles; the alphas assemble as 2.0/(fast+1) and
    2.0/(slow+1) at runtime on both engines.  ER is 0 when the window
    net movement is zero (flat prices)."""
    L = len(c)
    out = np.full(L, np.nan)
    if L <= n:
        return out
    dq = round_half_up(np.abs(np.diff(c)) * 1e6, 0)  # exact ints as doubles
    numq = round_half_up(np.abs(c[n:] - c[:-n]) * 1e6, 0)
    kf, ks = 2.0 / (fast + 1.0), 2.0 / (slow + 1.0)
    kama = c[n]
    out[n] = kama
    for i in range(n + 1, L):
        den = dq[i - n : i].sum()
        er = numq[i - n] / den if den > 0 else 0.0
        s = er * (kf - ks) + ks
        kama = kama + (s * s) * (c[i] - kama)
        out[i] = kama
    return out


def with_kama(df: DataFrame, n: int = 10, fast: int = 2, slow: int = 30) -> DataFrame:
    """KAMA(n, fast, slow) over close per key."""

    def fn(pdf: pd.DataFrame):
        return {
            f"kama_{n}": kama_rec(pdf["close"].to_numpy(np.float64), n, fast, slow)
        }

    return _indicator_map(df, {f"kama_{n}": "double"}, fn)


def tsi_rec(c: np.ndarray, slow: int = 25, fast: int = 13) -> np.ndarray:
    """True Strength Index: 100 · EMA(EMA(Δc, slow), fast) /
    EMA(EMA(|Δc|, slow), fast) — four chained SMA-seeded EMA
    recursions on the one-step momentum, stage-aligned like TRIX
    (stage k seeds on the previous stage's first n outputs)."""
    L = len(c)
    out = np.full(L, np.nan)
    d = np.diff(c)
    if len(d) < slow:
        return out
    e1 = ema_rec(d, slow)
    e1a = ema_rec(np.abs(d), slow)
    v, va = e1[slow - 1 :], e1a[slow - 1 :]
    if len(v) < fast:
        return out
    e2 = ema_rec(v, fast)
    e2a = ema_rec(va, fast)
    # sub-index j maps to global row j + slow
    with np.errstate(invalid="ignore", divide="ignore"):
        vals = np.where(e2a != 0.0, 100.0 * (e2 / e2a), np.nan)
    out[slow:] = vals
    return out


def with_tsi(df: DataFrame, slow: int = 25, fast: int = 13) -> DataFrame:
    """TSI(slow, fast) momentum over close per key."""

    def fn(pdf: pd.DataFrame):
        return {"tsi": tsi_rec(pdf["close"].to_numpy(np.float64), slow, fast)}

    return _indicator_map(df, {"tsi": "double"}, fn)


def cusum_rec(
    c: np.ndarray, k: float = 0.05, h: float = 0.5
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Two-sided CUSUM changepoint detector on percent log returns:
    s+_i = max(0, s+_{i-1} + (r_i − k)), s−_i = min(0, s−_{i-1} +
    (r_i + k)), alarm when s+ > h or s− < −h.

    r_i = ROUND(100·ln(c_i/c_{i-1}), 4) (0 on the first row or
    non-positive closes) — rounding BEFORE accumulation pins both
    engines to identical summands, and the sequential recurrence gives
    identical accumulation order, so every branch compares
    bit-identical doubles (the Supertrend argument)."""
    L = len(c)
    sp_o, sn_o, al_o = np.full(L, np.nan), np.full(L, np.nan), np.full(L, np.nan)
    r = np.zeros(L)
    if L > 1:
        with np.errstate(invalid="ignore", divide="ignore"):
            valid = (c[1:] > 0) & (c[:-1] > 0)
            raw = np.where(valid, 100.0 * np.log(np.where(valid, c[1:] / c[:-1], 1.0)), 0.0)
        r[1:] = round_half_up(raw, 4)
    sp = sn = 0.0
    for i in range(L):
        sp = max(0.0, sp + (r[i] - k))
        sn = min(0.0, sn + (r[i] + k))
        sp_o[i], sn_o[i] = sp, sn
        al_o[i] = 1.0 if (sp > h or sn < -h) else 0.0
    return sp_o, sn_o, al_o


def with_cusum(df: DataFrame, k: float = 0.05, h: float = 0.5) -> DataFrame:
    """CUSUM(k, h) drift detector over close per key."""

    def fn(pdf: pd.DataFrame):
        sp, sn, al = cusum_rec(pdf["close"].to_numpy(np.float64), k, h)
        return {"cusum_pos": sp, "cusum_neg": sn, "cusum_alarm": al}

    return _indicator_map(
        df, {"cusum_pos": "double", "cusum_neg": "double", "cusum_alarm": "double"}, fn
    )
