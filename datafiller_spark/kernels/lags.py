"""Lag-feature assembly and small-gap interpolation.

Vectorized NumPy re-expression of the reference kernels:

- ``build_lag_matrix``       ⇔ reference src/datafiller/timeseries/_utils.py:8-48
  (Numba row-parallel loop → NumPy block slicing; identical layout:
  ``[X | X shifted by each lag | calendar]``, out-of-range cells NaN,
  positive lag = shift back in time, negative = lead).
- ``all_nan_columns``        ⇔ reference multivariate/_numba_utils.py:170-189.
- ``interpolate_small_gaps`` ⇔ reference timeseries/_utils.py:51-67
  (linear interpolation applied only to NaN runs of length ≤ n; longer
  runs untouched; leading NaNs stay NaN, trailing short runs take the
  last observed value — pandas ``interpolate`` forward semantics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..exceptions import EngineTypeError


def build_lag_matrix(
    values: np.ndarray, lags: np.ndarray, time_features: np.ndarray
) -> np.ndarray:
    """Assemble ``[X, X.shift(lag) per lag, calendar]`` in one allocation."""
    n_rows, n_series = values.shape
    lags = np.asarray(lags, dtype=np.int64)
    n_lags = len(lags)
    n_time = time_features.shape[1]
    out = np.empty((n_rows, n_series * (1 + n_lags) + n_time), dtype=values.dtype)
    out[:, :n_series] = values
    for t, lag in enumerate(lags):
        block = out[:, n_series * (t + 1) : n_series * (t + 2)]
        lag = int(lag)
        if lag >= 0:
            block[:lag, :] = np.nan
            if lag < n_rows:
                block[lag:, :] = values[: n_rows - lag]
        else:
            lead = -lag
            block[n_rows - lead :, :] = np.nan
            if lead < n_rows:
                block[: n_rows - lead, :] = values[lead:]
            # lead >= n_rows leaves the whole block NaN via the line above
            if lead >= n_rows:
                block[:, :] = np.nan
    out[:, n_series * (1 + n_lags) :] = time_features
    return out


def all_nan_columns(matrix: np.ndarray) -> np.ndarray:
    """Boolean mask of columns with no observed value at all."""
    return np.isnan(matrix).all(axis=0)


def interpolate_gaps(vals: np.ndarray, n: int) -> np.ndarray:
    """Array core of :func:`interpolate_small_gaps`: a float64 copy of
    the 1-D ``vals`` with NaN runs of length ≤ ``n`` linearly
    interpolated.

    The pandas groupby/transform run-length machinery cost ~5 ms per
    5760-bucket series — ~25% of the whole per-series kernel — so runs
    are labeled with a flag-diff cumsum instead.
    """
    if not isinstance(n, int):
        raise EngineTypeError("n must be an int")
    vals = np.array(vals, dtype=np.float64)
    missing = np.isnan(vals)
    if not missing.any():
        return vals
    obs = np.flatnonzero(~missing)
    if not obs.size:
        return vals

    nan_pos = np.flatnonzero(missing)
    vals[nan_pos] = np.interp(nan_pos, obs, vals[obs])
    vals[: obs[0]] = np.nan  # leading NaNs stay (forward-fill direction)

    # NaN runs longer than n keep their NaNs: label maximal equal-nullness
    # stretches by flag-diff cumsum, measure with bincount
    change = np.empty(len(missing), dtype=bool)
    change[0] = True
    np.not_equal(missing[1:], missing[:-1], out=change[1:])
    run_id = np.cumsum(change) - 1
    run_len = np.bincount(run_id)
    vals[missing & (run_len[run_id] > n)] = np.nan
    return vals


def interpolate_small_gaps(series: pd.Series, n: int) -> pd.Series:
    """Linearly interpolate NaN runs of length ≤ ``n``; leave longer runs.

    Semantics (and floats) identical to the reference's pandas form
    ``series.interpolate().where(short_run, series)``: positional linear
    interpolation (pandas method='linear' ignores the index and, like
    this, computes through ``np.interp``), leading NaNs preserved,
    trailing NaNs in short runs take the last observed value. A series
    with no NaN, or nothing observed, comes back as an unchanged copy.
    """
    if not isinstance(n, int):
        raise EngineTypeError("n must be an int")
    vals = series.to_numpy(dtype=np.float64)
    missing = np.isnan(vals)
    if not missing.any() or missing.all():
        return series.copy()
    return pd.Series(interpolate_gaps(vals, n), index=series.index, name=series.name)
