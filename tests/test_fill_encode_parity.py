"""Spark-free parity of the fused operators' per-series fill + encode.

``operators.impute._SeriesFill`` fills a tier grid through the array
core ``kernels.timeseries.fill_array`` and encodes all of a series'
calendar chunks with one ``kernels.codec.encode_chunks`` pass, cutting
chunks on ``datetime64`` day/month/year integers. The reference below is
the per-series pandas form it replaced, step by step: a ``date_range``
grid frame, ``interpolate_small_gaps`` on the Series, calendar features
from ``make_time_features`` as a frame, ``build_lag_matrix`` with
all-NaN generated columns dropped, one ``MultivariateImputer`` call,
chunks cut by ``DatetimeIndex.to_period`` and one ``encode_points`` per
chunk. Payloads must be byte-identical and fill counts equal.
"""

import numpy as np
import pandas as pd
import pytest

from datafiller_spark.kernels import (
    MultivariateImputer,
    TimeSeriesImputer,
    all_nan_columns,
    build_lag_matrix,
    interpolate_small_gaps,
    make_time_features,
)
from datafiller_spark.kernels.codec import encode_points
from datafiller_spark.operators.impute import TIER_FREQ, _SeriesFill

_PERIOD = {"1m": "D", "1h": "M", "1d": "Y"}


def _reference(tier, t_sec, values, lags, min_samples_train, interp):
    """Per-series pandas fill + per-chunk encode (the replaced path)."""
    grid = pd.date_range(
        pd.Timestamp(int(t_sec[0]), unit="s"),
        pd.Timestamp(int(t_sec[-1]), unit="s"),
        freq=TIER_FREQ[tier],
    )
    series = pd.Series(values, index=pd.DatetimeIndex(pd.to_datetime(t_sec, unit="s"))).reindex(grid)
    n_interp = 0
    if interp is not None:
        filled = interpolate_small_gaps(series, interp)
        n_interp = int(series.isna().sum() - filled.isna().sum())
        series = filled
    vals = series.to_numpy(dtype=np.float64)[:, None]
    time_values = make_time_features(grid).to_numpy(dtype=np.float64)
    matrix = build_lag_matrix(vals, np.asarray(lags, dtype=np.int64), time_values)
    keep = ~all_nan_columns(matrix)
    keep[0] = True
    imputer = MultivariateImputer(min_samples_train=min_samples_train)
    out = imputer(np.ascontiguousarray(matrix[:, keep]), cols_to_impute=[0])[:, 0]
    counts = {"interp": n_interp, **imputer.fill_counts_}

    ts = grid.asi8 // 10**9
    period = grid.to_period(_PERIOD[tier])
    cut = np.flatnonzero(period[1:] != period[:-1]) + 1
    chunks = []
    for a, b in zip(np.r_[0, cut], np.r_[cut, len(grid)]):
        chunks.append(
            (period[a].start_time.to_datetime64(), b - a, encode_points(ts[a:b], out[a:b]))
        )
    return chunks, counts, grid, out


def _sparse_series(seed, tier, n_grid, observed_share, start):
    rng = np.random.default_rng(seed)
    step = {"1m": 60, "1h": 3600, "1d": 86400}[tier]
    pos = np.flatnonzero(rng.random(n_grid) < observed_share)
    pos = np.unique(np.r_[0, pos, n_grid - 1])
    t0 = int(pd.Timestamp(start).value // 10**9)
    t_sec = t0 + step * pos
    values = rng.integers(64, 192, len(pos)) + rng.random(len(pos))
    return t_sec.astype(np.int64), values.astype(np.float64)


CASES = {
    # a sparse 1m series spanning several days (the bench shape, shorter)
    "1m_sparse_days": ("1m", 3000, 0.12, "2024-01-01 20:00", (1, 2, 3, -1, -2, -3), 4),
    # one observed bucket: a single one-point chunk, nothing to fill
    "1m_single_bucket": ("1m", 1, 1.0, "2024-01-01 00:00", (1, 2, 3, -1, -2, -3), 4),
    # fully observed: the imputer has nothing to fill
    "1m_fully_observed": ("1m", 500, 1.1, "2024-01-01 23:00", (1, 2, 3, -1, -2, -3), 4),
    # no small-gap interpolation, non-default lags
    "1m_no_interp_lags": ("1m", 2000, 0.2, "2024-01-02 00:00", (1, 5, -2), None),
    # 1h over a month boundary (and a leap-year February)
    "1h_month_boundary": ("1h", 24 * 40, 0.3, "2024-02-15 07:00", (1, 2, 3, -1, -2, -3), 4),
    # 1d over a year boundary
    "1d_year_boundary": ("1d", 120, 0.5, "2023-10-20", (1, 2, -1), 4),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_array_fill_and_segmented_encode_match_pandas_path(case):
    tier, n_grid, share, start, lags, interp = CASES[case]
    t_sec, values = _sparse_series(len(case), tier, n_grid, share, start)
    expected, expected_counts, grid, filled = _reference(tier, t_sec, values, lags, 20, interp)

    fill = _SeriesFill(lags, 20, interp, None)
    chunk_start, n_points, payloads = fill(tier, t_sec, values)
    got = list(zip(chunk_start, n_points.tolist(), payloads))
    assert [c[0] for c in got] == [c[0] for c in expected]
    assert [c[1] for c in got] == [c[1] for c in expected]
    assert [c[2] for c in got] == [c[2] for c in expected]

    # the DataFrame entry point runs the same array core
    imputer = TimeSeriesImputer(
        lags=list(lags), min_samples_train=20, interpolate_gaps_less_than=interp
    )
    frame = pd.DataFrame(
        {"avg_value": values}, index=pd.DatetimeIndex(pd.to_datetime(t_sec, unit="s"))
    ).reindex(grid)
    out = imputer(frame)["avg_value"].to_numpy()
    np.testing.assert_array_equal(out.view(np.uint64), filled.view(np.uint64))
    assert imputer.fill_counts_ == expected_counts


def test_cases_cross_calendar_boundaries():
    """The month/year cases really cut more than one chunk."""
    for case in ("1h_month_boundary", "1d_year_boundary", "1m_sparse_days"):
        tier, n_grid, share, start, lags, interp = CASES[case]
        t_sec, values = _sparse_series(len(case), tier, n_grid, share, start)
        chunks, *_ = _reference(tier, t_sec, values, lags, 20, interp)
        assert len(chunks) >= 2, case
