"""Time-series imputation driver.

Pure NumPy re-expression of the reference's numeric path (reference:
src/datafiller/timeseries/imputer.py:435-631):

1. regularize the DatetimeIndex to its full grid (frequency from
   ``index.freq`` → ``pd.infer_freq`` → min positive delta with an
   exact-multiple check; unsorted/duplicate/irregular raise) —
   reference imputer.py:187-223;
2. optional linear interpolation of NaN runs ≤ ``interpolate_gaps_less_than``;
3. lag/lead feature matrix + deterministic calendar features;
4. prune generated features with no observed value (originals kept);
5. multivariate ridge imputation with row/col targeting and
   ``before``/``after`` time predicates;
6. project back to the original column layout.

Steps 2–6 are one array core, :func:`fill_array`: it takes the grid as
epoch-nanosecond int64s plus a ``(rows, columns)`` value matrix and
builds no ``DatetimeIndex``, DataFrame or Series. Everything numeric
calls it — ``TimeSeriesImputer.__call__`` (after step 1 and resolving
its frame-level selectors) and the fused Spark gap-fill operators
(operators/impute.py), which build their grid straight from the tier
step — so there is one fill path. Only mixed numeric/categorical frames
take the pandas path (``_impute_mixed``), because their one-hot codec
works on frames.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import numpy as np
import pandas as pd

from ..exceptions import EngineTypeError, EngineValueError
from .lags import all_nan_columns, build_lag_matrix, interpolate_gaps, interpolate_small_gaps
from .multivariate import MultivariateImputer
from .timefeat import make_time_features, time_feature_names, time_feature_values


def infer_frequency(index: pd.DatetimeIndex):
    """Base grid step of a DatetimeIndex, tolerating regular gaps."""
    if index.freq is not None:
        return index.freq
    if len(index) < 2:
        raise EngineValueError("index needs a frequency or at least two timestamps.")
    if len(index) >= 3:
        inferred = pd.infer_freq(index)
        if inferred is not None:
            return inferred
    if not index.is_monotonic_increasing:
        raise EngineValueError("index must be sorted in increasing order.")
    if index.has_duplicates:
        raise EngineValueError("index must not contain duplicate timestamps.")
    ns = index.to_numpy(dtype="datetime64[ns]").astype(np.int64)
    deltas = np.diff(ns)
    positive = deltas[deltas > 0]
    if not positive.size:
        raise EngineValueError("index frequency could not be inferred.")
    base = positive.min()
    if np.any(positive % base != 0):
        raise EngineValueError("index frequency could not be inferred from irregular gaps.")
    return pd.Timedelta(base, unit="ns")


def regularize_index(df: pd.DataFrame) -> pd.DataFrame:
    """Reindex to the complete regular grid; inserted rows are all-NaN.

    The index is normalized to nanosecond unit first: pandas 2.x allows
    us/ms-unit DatetimeIndexes (DuckDB/Arrow sources produce them), and
    downstream time features derive from raw epoch integers — without
    one fixed unit the SAME timestamps would yield float64 features
    differing in their last bits, which float32 regressors (ELM)
    amplify into visibly different fills. ns is the reference's (and
    pandas' default) unit, so this is parity-preserving."""
    if not isinstance(df.index, pd.DatetimeIndex):
        raise EngineTypeError("DataFrame index must be a DatetimeIndex.")
    if df.index.dtype != "datetime64[ns]":
        df = df.set_axis(df.index.as_unit("ns"), axis=0)
    if df.index.freq is not None:
        # a DatetimeIndex carrying a freq IS the complete regular grid
        # (pandas validates freq against the data on construction) —
        # skip the date_range + equals pass, ~1 ms per per-series call
        return df
    freq = infer_frequency(df.index)
    full = pd.date_range(start=df.index[0], end=df.index[-1], freq=freq, name=df.index.name)
    if len(full) == len(df.index) and full.equals(df.index):
        return df
    return df.reindex(full)


def _interpolate_columns(values: np.ndarray, n: int | None) -> tuple[np.ndarray, int]:
    """Small-gap interpolation of every column that has both NaN and
    observed cells; returns ``(values, cells filled)``. Interpolated
    columns are float64, so the matrix is upcast to float64 when any
    column changes and is returned as is otherwise — the dtype the
    per-column pandas form gave."""
    if n is None:
        return values, 0
    if not isinstance(n, int):
        raise EngineTypeError("n must be an int")
    missing = np.isnan(values)
    todo = np.flatnonzero(missing.any(axis=0) & ~missing.all(axis=0))
    if not todo.size:
        return values, 0
    out = values.astype(np.float64)
    for j in todo:
        out[:, j] = interpolate_gaps(out[:, j], n)
    return out, int(missing.sum() - np.isnan(out).sum())


def feature_matrix(
    values: np.ndarray, ns: np.ndarray, lags: Sequence[int], add_time_features: bool
) -> tuple[np.ndarray, np.ndarray]:
    """``[X | X shifted per lag | calendar]`` over a regular grid, with
    generated features that have no observed value dropped (originals
    always kept). Returns ``(matrix, kept)``: ``kept`` holds the
    positions of the matrix's columns in the full layout."""
    n_original = values.shape[1]
    if add_time_features:
        time_values = time_feature_values(ns)
    else:
        time_values = np.empty((len(values), 0), dtype=values.dtype)
    matrix = build_lag_matrix(values, np.asarray(lags, dtype=np.int64), time_values)
    keep = ~all_nan_columns(matrix)
    keep[:n_original] = True
    if not keep.all():
        matrix = np.ascontiguousarray(matrix[:, keep])
    return matrix, np.flatnonzero(keep)


def fill_array(
    values: np.ndarray,
    ns: np.ndarray,
    imputer: MultivariateImputer,
    lags: Sequence[int],
    interpolate_gaps_less_than: int | None = None,
    add_time_features: bool = True,
    rows_to_impute=None,
    cols_to_impute=None,
    n_nearest_features: None | float | int = None,
) -> tuple[np.ndarray, dict[str, int], np.ndarray]:
    """Gap-fill a numeric matrix on a complete regular grid.

    ``values`` is ``(rows, columns)`` with NaN for missing cells, and
    ``ns`` the grid's epoch-nanosecond timestamps, one per row.
    ``cols_to_impute`` and ``rows_to_impute`` are integer positions.
    Returns ``(filled, fill_counts, kept)``: the filled original
    columns, the cells filled per policy step (``interp``, ``model``,
    ``fallback``), and the full-layout positions of the features the
    imputer saw (for naming ``imputer.imputation_features_``).
    """
    values, n_interp = _interpolate_columns(values, interpolate_gaps_less_than)
    n_original = values.shape[1]
    if (
        rows_to_impute is None
        and cols_to_impute is None
        and n_nearest_features is None
        and np.isfinite(values).all()
    ):
        # nothing left to impute: the imputer would return its input
        imputer.imputation_features_ = None
        imputer.fill_counts_ = {"model": 0, "fallback": 0}
        return values, {"interp": n_interp, "model": 0, "fallback": 0}, np.arange(n_original)
    matrix, kept = feature_matrix(values, ns, lags, add_time_features)
    imputed = imputer(
        matrix,
        rows_to_impute=rows_to_impute,
        cols_to_impute=np.arange(n_original) if cols_to_impute is None else cols_to_impute,
        n_nearest_features=n_nearest_features,
        # `matrix` was built above and is never read again
        _owns_input=True,
    )
    return imputed[:, :n_original], {"interp": n_interp, **imputer.fill_counts_}, kept


def _numeric_values(df: pd.DataFrame) -> np.ndarray:
    """The frame's values as a float matrix (nullable extension dtypes
    reach ``to_numpy`` as object arrays holding pd.NA, which plain
    astype rejects; pandas' own cast maps NA → NaN)."""
    values = df.to_numpy()
    if np.issubdtype(values.dtype, np.floating):
        return values
    try:
        return values.astype(np.float64)
    except (TypeError, ValueError):
        try:
            return df.astype("float64").to_numpy()
        except (TypeError, ValueError) as exc:
            raise EngineValueError("TimeSeriesImputer requires numeric columns.") from exc


class TimeSeriesImputer:
    """Gap-fill a regular-grid numeric time-series frame.

    Args mirror the reference (timeseries/imputer.py:93-126): ``lags``
    (positive = backward shifts, negative = leads; 0 forbidden),
    ``min_samples_train``, ``fallback``, ``interpolate_gaps_less_than``,
    ``add_time_features``.
    """

    def __init__(
        self,
        lags: Iterable[int] = (1,),
        regressor=None,
        min_samples_train: int | None = None,
        fallback: str | None = "simple",
        interpolate_gaps_less_than: int | None = None,
        add_time_features: bool = True,
        use_gram: bool | None = None,
        n_jobs: int | None = None,
        classifier=None,
        rng: int | None = None,
        verbose: int = 0,
        scoring: str = "default",
        device: str | None = None,
        time_column: str | None = None,
    ):
        # the reference's remaining constructor surface (reference
        # timeseries/imputer.py:93-107) so its users switch 1:1;
        # time_column only matters for the Polars path (out of scope —
        # pandas input uses its DatetimeIndex, same as the reference)
        if time_column is not None and not isinstance(time_column, str):
            raise EngineValueError("time_column must be a string or None.")
        self.time_column = time_column
        self.verbose = verbose
        lags = list(lags)
        if not all(isinstance(i, int) for i in lags):
            raise EngineValueError("lags must be an iterable of integers.")
        if 0 in lags:
            raise EngineValueError("lags cannot contain 0.")
        self.lags = lags
        self.regressor = regressor
        self.min_samples_train = min_samples_train
        self.fallback = fallback
        self.use_gram = use_gram
        self.interpolate_gaps_less_than = interpolate_gaps_less_than
        self.add_time_features = add_time_features
        self.multivariate_imputer = MultivariateImputer(
            regressor=regressor,
            classifier=classifier,
            min_samples_train=min_samples_train,
            fallback=fallback,
            use_gram=use_gram,
            n_jobs=n_jobs,
            rng=rng,
            verbose=verbose,
            scoring=scoring,
            device=device,
        )
        self.imputation_features_: dict | None = None
        #: cells filled per policy step on the last call — mirrors the
        #: reference's 3-step training policy (docs/algorithm.rst:22-32)
        self.fill_counts_: dict[str, int] = {"interp": 0, "model": 0, "fallback": 0}

    def _impute_mixed(
        self,
        df: pd.DataFrame,
        rows_to_impute,
        cols_to_impute,
        n_nearest_features,
        before,
        after,
        n_interp: int = 0,
    ) -> pd.DataFrame:
        """Mixed numeric/categorical frame (T7): the same feature layout
        as the numeric fast path — original columns, lag/lead copies,
        calendar features — built as a pandas frame so the multivariate
        one-hot codec applies to lagged categorical features too
        (reference timeseries/imputer.py:351-433)."""
        original_cols = df.columns
        frames = [df]
        for lag in self.lags:
            shifted = df.shift(lag)
            shifted.columns = pd.Index([f"{c}_lag_{lag}" for c in original_cols])
            frames.append(shifted)
        if self.add_time_features:
            reserved = [name for frame in frames for name in frame.columns]
            frames.append(make_time_features(df.index, reserved_names=reserved))
        feature_df = pd.concat(frames, axis=1)
        if not feature_df.columns.is_unique:
            duplicated = feature_df.columns[feature_df.columns.duplicated()].unique().tolist()
            raise EngineValueError(
                f"Column names collide with generated lag feature names: {duplicated}. "
                "Rename the offending columns before imputation."
            )
        # drop generated features with no observed value; originals kept
        keep = feature_df.notna().any(axis=0)
        keep[original_cols] = True
        feature_df = feature_df.loc[:, keep]

        if cols_to_impute is None:
            target_names = list(original_cols)
        else:
            if isinstance(cols_to_impute, (int, str)):
                cols_to_impute = [cols_to_impute]
            target_names = []
            for c in cols_to_impute:
                if isinstance(c, int):
                    target_names.append(original_cols[c])
                elif isinstance(c, str):
                    target_names.append(c)
                else:
                    raise EngineValueError("cols_to_impute entries must be int or str.")

        if rows_to_impute is not None:
            if isinstance(rows_to_impute, (pd.DatetimeIndex, pd.TimedeltaIndex, pd.PeriodIndex)):
                rows_to_impute = df.index.get_indexer(rows_to_impute)
            elif isinstance(rows_to_impute, int):
                rows_to_impute = [rows_to_impute]
        elif before is not None or after is not None:
            mask = pd.Series(True, index=df.index)
            if before is not None:
                mask &= df.index < pd.to_datetime(str(before))
            if after is not None:
                mask &= df.index > pd.to_datetime(str(after))
            rows_to_impute = np.where(mask)[0]

        imputed = self.multivariate_imputer(
            feature_df,
            rows_to_impute=rows_to_impute,
            cols_to_impute=target_names,
            n_nearest_features=n_nearest_features,
        )
        self.imputation_features_ = self.multivariate_imputer.imputation_features_
        mv_counts = self.multivariate_imputer.fill_counts_
        self.fill_counts_ = {"interp": n_interp, **mv_counts}
        return imputed[original_cols]

    # -- sklearn-style surface (reference timeseries/imputer.py:141-170) ----

    def fit(self, X, y=None) -> "TimeSeriesImputer":
        """No-op fit for pipeline compatibility."""
        return self

    def transform(self, X):
        return self(X)

    def fit_transform(self, X, y=None):
        return self(X)

    def get_params(self, deep: bool = True) -> dict:
        return {
            "lags": self.lags,
            "regressor": self.regressor,
            "min_samples_train": self.min_samples_train,
            "fallback": self.fallback,
            "interpolate_gaps_less_than": self.interpolate_gaps_less_than,
            "add_time_features": self.add_time_features,
            "use_gram": self.use_gram,
        }

    def set_params(self, **params) -> "TimeSeriesImputer":
        current = self.get_params()
        unknown = set(params) - set(current)
        if unknown:
            raise EngineValueError(f"unknown parameters: {sorted(unknown)}")
        current.update(params)
        self.__init__(**current)
        return self

    def _feature_layout(self, original_cols) -> tuple[list, np.ndarray]:
        """Names of the full ``[X | lags | calendar]`` layout that
        :func:`feature_matrix` builds, and per feature the ORIGINAL
        column position it derives from (−1 for index-derived time
        features) — the mapping ``select_features`` uses to turn
        selected lag-matrix features back into panel columns."""
        n_original = len(original_cols)
        names = list(original_cols)
        for lag in self.lags:
            names.extend(f"{col}_lag_{lag}" for col in original_cols)
        orig_of = list(range(n_original)) * (1 + len(self.lags))
        if self.add_time_features:
            time_names = time_feature_names(reserved_names=names)
            names.extend(time_names)
            orig_of.extend([-1] * len(time_names))
        return names, np.asarray(orig_of, dtype=np.int64)

    def select_features(
        self,
        df: pd.DataFrame,
        cols_to_impute=None,
        n_nearest_features: None | float | int = None,
    ) -> tuple[dict, int | None]:
        """Driver-side selection pass for the wide cluster path
        (operators/wide.py): which ORIGINAL panel columns each target's
        model reads, under this imputer's exact scoring and stable
        top-k tie-break. Returns ``(needs, resolved_k)``:

        - ``needs[target_name]`` = list of original column names whose
          identity/lag features the target selects (index-derived time
          features excluded — every task can rebuild those);
        - ``resolved_k`` = ``n_nearest_features`` resolved to an int
          against the FULL panel's feature width. Chunk tasks must be
          given THIS value: a float ratio would re-resolve against the
          (narrower) subset width and select fewer features.

        All-numeric frames only (the wide path's contract).
        """
        if not isinstance(df, pd.DataFrame):
            raise EngineTypeError("Input must be a pandas DataFrame.")
        df = regularize_index(df)

        from pandas.api.types import is_bool_dtype, is_numeric_dtype

        numeric_cols = [
            c for c in df.columns if is_numeric_dtype(df[c]) and not is_bool_dtype(df[c])
        ]
        if len(numeric_cols) < len(df.columns):
            raise EngineValueError(
                "select_features supports all-numeric frames only (the "
                "mixed-dtype path one-hot encodes, which changes the "
                "feature layout)."
            )

        # mirrors __call__: interpolation changes the NaN masks the
        # scores are computed from
        values, _ = _interpolate_columns(_numeric_values(df), self.interpolate_gaps_less_than)
        matrix, kept = feature_matrix(values, df.index.asi8, self.lags, self.add_time_features)
        orig_of = self._feature_layout(df.columns)[1][kept]

        if cols_to_impute is None:
            cols_idx = np.arange(len(df.columns))
        else:
            if isinstance(cols_to_impute, (int, str)):
                cols_to_impute = [cols_to_impute]
            cols_idx = np.array(
                [
                    c if isinstance(c, int) else df.columns.get_loc(c)
                    for c in cols_to_impute
                ]
            )
        from .multivariate import _resolve_n_nearest

        resolved_k = _resolve_n_nearest(n_nearest_features, matrix.shape[1])
        sel = self.multivariate_imputer.select_features(
            matrix, cols_idx, n_nearest_features
        )
        needs = {}
        for c in cols_idx:
            origs = np.unique(orig_of[sel[int(c)]])
            needs[df.columns[int(c)]] = [df.columns[int(o)] for o in origs if o >= 0]
        return needs, resolved_k

    def __call__(
        self,
        df: pd.DataFrame,
        rows_to_impute=None,
        cols_to_impute=None,
        n_nearest_features: None | float | int = None,
        before=None,
        after=None,
    ) -> pd.DataFrame:
        if not isinstance(df, pd.DataFrame):
            raise EngineTypeError("Input must be a pandas DataFrame.")
        df = regularize_index(df)

        from pandas.api.types import is_bool_dtype, is_numeric_dtype

        numeric_cols = [
            c for c in df.columns if is_numeric_dtype(df[c]) and not is_bool_dtype(df[c])
        ]
        if len(numeric_cols) < len(df.columns):
            n_interp = 0
            if self.interpolate_gaps_less_than is not None:
                df = df.copy()
                for col in numeric_cols:
                    series = df[col]
                    filled = interpolate_small_gaps(series, self.interpolate_gaps_less_than)
                    n_interp += int(
                        np.isnan(series.to_numpy(dtype=np.float64, copy=False)).sum()
                        - np.isnan(filled.to_numpy()).sum()
                    )
                    df[col] = filled
            return self._impute_mixed(
                df, rows_to_impute, cols_to_impute, n_nearest_features, before, after, n_interp
            )

        original_cols = df.columns
        feature_names, _ = self._feature_layout(original_cols)
        names = pd.Index(feature_names)
        if not names.is_unique:
            duplicated = names[names.duplicated()].unique().tolist()
            raise EngineValueError(
                f"Column names collide with generated lag feature names: {duplicated}. "
                "Rename the offending columns before imputation."
            )

        if cols_to_impute is None:
            cols_idx = None
        else:
            if isinstance(cols_to_impute, (int, str)):
                cols_to_impute = [cols_to_impute]
            positions = []
            for c in cols_to_impute:
                if isinstance(c, int):
                    positions.append(c)
                elif isinstance(c, str):
                    positions.append(original_cols.get_loc(c))
                else:
                    raise EngineValueError("cols_to_impute entries must be int or str.")
            cols_idx = np.array(positions)

        if rows_to_impute is not None:
            if isinstance(rows_to_impute, (pd.DatetimeIndex, pd.TimedeltaIndex, pd.PeriodIndex)):
                rows_to_impute = df.index.get_indexer(rows_to_impute)
            elif isinstance(rows_to_impute, int):
                rows_to_impute = [rows_to_impute]
        elif before is not None or after is not None:
            mask = pd.Series(True, index=df.index)
            if before is not None:
                mask &= df.index < pd.to_datetime(str(before))
            if after is not None:
                mask &= df.index > pd.to_datetime(str(after))
            rows_to_impute = np.where(mask)[0]

        filled, self.fill_counts_, kept = fill_array(
            _numeric_values(df),
            df.index.asi8,
            self.multivariate_imputer,
            self.lags,
            interpolate_gaps_less_than=self.interpolate_gaps_less_than,
            add_time_features=self.add_time_features,
            rows_to_impute=rows_to_impute,
            cols_to_impute=cols_idx,
            n_nearest_features=n_nearest_features,
        )
        self.imputation_features_ = self.multivariate_imputer.imputation_features_
        if self.imputation_features_ is not None:
            kept_names = [feature_names[p] for p in kept]
            self.imputation_features_ = {
                kept_names[col]: [kept_names[f] for f in features]
                for col, features in self.imputation_features_.items()
            }
        return pd.DataFrame(filled.copy(), index=df.index, columns=original_cols)
