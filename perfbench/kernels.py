"""Direct timings of the per-series kernels and the Gorilla codec.

Series come from the workload's own generated rows: the hot key and a
fixed set of cold keys, rolled up to each tier with pandas (the same
count/sum composition the engine uses). The benchmark process runs with
one BLAS thread, as every PySpark worker does under ``get_spark``.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from datafiller_spark.kernels import (
    MultivariateImputer,
    TimeSeriesImputer,
    build_lag_matrix,
    interpolate_small_gaps,
    make_time_features,
)
from datafiller_spark.kernels.codec import decode_points, encode_points

LAGS = [1, 2, 3, -1, -2, -3]
MIN_SAMPLES_TRAIN = 20
INTERP_GAPS = 4  # run_pipeline's default interpolate_gaps_less_than
_FREQ = {"1m": "min", "1h": "h", "1d": "D"}
_CHUNK = {"1m": "D", "1h": "M", "1d": "Y"}  # the encoder's calendar chunks


def tier_series(table, keys: list[str]) -> dict[str, list[pd.Series]]:
    """Per tier, one observed-average series per key on its full grid."""
    pdf = table.select(["source", "event_ts", "n_tok"]).to_pandas()
    pdf = pdf[pdf["source"].isin(keys)]
    out: dict[str, list[pd.Series]] = {t: [] for t in _FREQ}
    for _, g in pdf.groupby("source", sort=True):
        ts = g["event_ts"].dt.floor("min")
        agg = g.groupby(ts)["n_tok"].agg(["count", "sum"])
        for tier, freq in _FREQ.items():
            a = agg.groupby(agg.index.floor(freq)).sum()
            avg = (a["sum"] / a["count"]).asfreq(freq)
            out[tier].append(avg.rename("avg_value"))
    return out


def _median_ms(fn, reps: int) -> float:
    """Median wall of ``reps`` calls, in ms."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append((time.perf_counter() - t0) * 1000)
    return statistics.median(walls)


def _imputer() -> TimeSeriesImputer:
    return TimeSeriesImputer(
        lags=LAGS, min_samples_train=MIN_SAMPLES_TRAIN, interpolate_gaps_less_than=INTERP_GAPS
    )


def measure(series: dict[str, list[pd.Series]], reps: int = 5) -> dict[str, float]:
    """``kernel.*`` and ``codec.*`` metrics over the sample series. Each
    timing is the median over ``reps`` of the time to process the whole
    sample (all keys)."""
    m: dict[str, float] = {}
    filled: dict[str, list[pd.Series]] = {}
    for tier, group in series.items():
        frames = [s.to_frame() for s in group]
        m[f"kernel.impute_ms.{tier}"] = _median_ms(
            lambda: [_imputer()(f) for f in frames], reps
        )
        filled[tier] = [_imputer()(f)["avg_value"] for f in frames]
        if tier == "1m":
            fills = {"interp": 0, "model": 0, "fallback": 0}
            for f in frames:
                imp = _imputer()
                imp(f)
                for k in fills:
                    fills[k] += imp.fill_counts_[k]
            for k, v in fills.items():
                m[f"kernel.fill.{k}"] = v

    s1m = series["1m"]
    m["kernel.interp_ms.1m"] = _median_ms(
        lambda: [interpolate_small_gaps(s, INTERP_GAPS) for s in s1m], reps
    )
    m["kernel.time_features_ms.1m"] = _median_ms(
        lambda: [make_time_features(s.index) for s in s1m], reps
    )
    inputs = []
    for s in s1m:
        vals = interpolate_small_gaps(s, INTERP_GAPS).to_numpy()[:, None]
        inputs.append((vals, make_time_features(s.index).to_numpy(dtype=vals.dtype)))
    lags = np.asarray(LAGS, dtype=np.int64)
    m["kernel.lag_matrix_ms.1m"] = _median_ms(
        lambda: [build_lag_matrix(v, lags, tf) for v, tf in inputs], reps
    )
    matrices = [build_lag_matrix(v, lags, tf) for v, tf in inputs]
    m["kernel.solve_ms.1m"] = _median_ms(
        lambda: [
            MultivariateImputer(min_samples_train=MIN_SAMPLES_TRAIN)(x, cols_to_impute=[0])
            for x in matrices
        ],
        reps,
    )

    for tier, group in filled.items():
        chunks = []
        for s in group:
            ts = s.index.asi8 // 10**9
            period = s.index.to_period(_CHUNK[tier])
            cut = np.flatnonzero(period[1:] != period[:-1]) + 1
            for a, b in zip(np.r_[0, cut], np.r_[cut, len(s)]):
                chunks.append((ts[a:b].astype(np.int64), s.to_numpy()[a:b]))
        payloads = [encode_points(t, v) for t, v in chunks]
        n_points = sum(len(t) for t, _ in chunks)
        m[f"codec.bytes_per_point.{tier}"] = sum(len(p) for p in payloads) / n_points
        if tier == "1m":
            m["codec.encode_ms.1m"] = _median_ms(
                lambda: [encode_points(t, v) for t, v in chunks], reps
            )
            m["codec.decode_ms.1m"] = _median_ms(lambda: [decode_points(p) for p in payloads], reps)
    return m
