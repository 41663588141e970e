"""Model-based multivariate imputation (numeric matrices).

Pure-NumPy re-expression of the reference's CPU pipeline
(reference: src/datafiller/multivariate/imputer.py:772-989 and
:465-670), restricted to numeric targets — rolled-up tier metrics are
always numeric. The three-step training policy per missingness pattern
(reference docs/algorithm.rst:22-32) is preserved exactly:

1. train on the rows fully observed over the pattern's usable columns
   when there are at least ``min_samples_train`` of them;
2. otherwise run optimask to carve the largest NaN-free rectangle,
   requiring ``min_samples_train`` rows;
3. cells no model could fill fall back to the column mean.

Floating-point recipe pinned to the reference: float64 count/sum
accumulation, population-std standardization with zero/NaN scales
replaced by 1 (imputer.py:421-451), standardized fits with
rescale-on-write (``pred * scale + mean``), FastRidge in float32.

Two fitting paths, mirroring the reference:

- **materialized refit** (``use_gram=False``): every pattern refits
  FastRidge on its own gathered row subset — byte-identical to the
  reference's materialized branch (tests/test_reference_parity.py);
- **Gram fast path** (default for the stock FastRidge, like the
  reference's ``type(regressor) is FastRidge`` rule, imputer.py:523):
  per-pattern Grams assembled from one shared complete-rows Gram plus
  cached per-NaN-pattern group Grams (kernels/gram.py). The reference
  pins the two paths equal within ~1e-4 of the column spread
  (reference tests/test_multivariate.py:375-388, :483-501); the
  engine's cross-path tests assert the same bound.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from typing import Any

import numpy as np

from ..exceptions import EngineTypeError, EngineValueError
from .cart import DecisionTreeClassifier
from .gram import GramSolver
from .optimask import group_order, optimask, unique_bool_rows
from .ridge import FastRidge
from .scoring import score_features

_DEFAULT_MIN_SAMPLES_TRAIN = 20


def _as_index_array(to_impute: None | int | Iterable, size: int) -> np.ndarray:
    """Resolve a rows/cols selector into validated, unique int64 positions.

    Mirrors the reference's ``_process_to_impute`` validation
    (reference: src/datafiller/multivariate/_utils.py:10-60): boolean
    inputs are rejected (they would silently mis-index as 0/1), float
    values must be integral, and duplicates are dropped so targeted-NaN
    and fill counters are never skewed by a repeated index.
    """
    if to_impute is None:
        return np.arange(size)
    if isinstance(to_impute, (bool, np.bool_)):
        raise EngineTypeError("rows/cols_to_impute must be integer positions, not booleans.")
    if isinstance(to_impute, (int, np.integer)):
        return np.array([int(to_impute)], dtype=np.int64)
    arr = np.asarray(to_impute if isinstance(to_impute, np.ndarray) else list(to_impute))
    if arr.dtype == bool:
        raise EngineTypeError(
            "boolean masks are not supported for rows/cols_to_impute; pass integer positions."
        )
    if arr.size == 0:
        return arr.astype(np.int64)
    if not np.issubdtype(arr.dtype, np.number):
        raise EngineTypeError(
            f"rows/cols_to_impute must contain integers, got dtype {arr.dtype}."
        )
    if not np.issubdtype(arr.dtype, np.integer):
        with np.errstate(invalid="ignore"):
            integral = np.all(arr == np.floor(arr))
        if not integral:
            raise EngineValueError(
                "rows/cols_to_impute must contain integral values (no NaN/fractions)."
            )
    return np.unique(arr.astype(np.int64))


def _resolve_n_nearest(n_nearest_features: None | int | float, n: int) -> int | None:
    if n_nearest_features is None:
        return None
    if isinstance(n_nearest_features, float):
        if not (0 < n_nearest_features <= 1.0):
            raise EngineValueError("n_nearest_features as a float must be in (0, 1].")
        n_nearest_features = int(n_nearest_features * n)
        if n_nearest_features == 0:
            raise EngineValueError("n_nearest_features resolved to 0 features.")
    if not isinstance(n_nearest_features, (int, np.integer)):
        raise EngineValueError("n_nearest_features must be an int or float.")
    if not (0 < n_nearest_features <= n):
        raise EngineValueError(f"n_nearest_features must be between 1 and {n}.")
    return int(n_nearest_features)


#: per-process state for the n_jobs column workers (set by the pool
#: initializer; fork/spawn both work — the payload is pickled once per
#: worker, not per column)
_COL_WORKER: dict = {}


def _pin_blas_single_thread() -> None:
    """Force the already-loaded OpenBLAS to one thread in this process.

    Pinned on first imputer call (unless the user set
    OPENBLAS_NUM_THREADS explicitly) and in every n_jobs worker, for
    two reasons measured on
    the published-benchmark shapes: (1) determinism — multi-threaded
    GEMM/solve reductions differ from single-threaded at the ULP, which
    breaks the serial≡parallel and Spark≡kernel bit-parity contracts;
    (2) speed — the bundled 2-thread OpenBLAS contends on small ridge
    solves (8064×60 MAR serial: 412.7 s → 341.8 s just from pinning).
    Parallelism belongs to explicit owners: the n_jobs process pool
    here, Spark executors in the engine (session.py pins them the same
    way). Env vars can't do this under fork (the parent's BLAS pool is
    already initialized when the child inherits it), and spawn pays a
    full interpreter+numpy import per worker; dlopen-ing the bundled
    library returns the loaded instance, so its set_num_threads
    applies."""
    import ctypes
    import glob
    import os

    libdir = os.path.join(os.path.dirname(os.path.dirname(np.__file__)), "numpy.libs")
    for pattern in ("libscipy_openblas*.so*", "libopenblas*.so*"):
        for lib in glob.glob(os.path.join(libdir, pattern)):
            try:
                handle = ctypes.CDLL(lib)
            except OSError:  # pragma: no cover - defensive
                continue
            for fn in (
                "scipy_openblas_set_num_threads",
                "openblas_set_num_threads",
                "openblas_set_num_threads64_",  # 64-bit-int suffixed builds
                "openblas_set_num_threads_64_",
            ):
                if hasattr(handle, fn):
                    getattr(handle, fn)(1)
                    return


def _init_col_worker(payload: dict) -> None:
    _ensure_blas_pinned()
    _COL_WORKER.update(payload)
    _COL_WORKER["imputer"] = MultivariateImputer(**payload["config"])
    _COL_WORKER["imputer"].imputation_features_ = {} if payload["track_features"] else None
    # one scratch output matrix per worker: _impute_col writes only its
    # task's column, so resetting is never needed across tasks
    _COL_WORKER["scratch"] = payload["x_base"].copy()


def _impute_col_task(args: tuple[int, int]) -> tuple[int, np.ndarray, np.ndarray | None]:
    i, col = args
    p = _COL_WORKER
    imp = p["imputer"]
    imp._impute_col(
        p["x"],
        p["scratch"],
        col,
        p["mask_nan"],
        p["mask_rows"],
        p["n_nearest"],
        p["scores"],
        i,
        0.0 if p["norm_means"] is None else float(p["norm_means"][col]),
        1.0 if p["norm_scales"] is None else float(p["norm_scales"][col]),
        is_categorical=col in p["cat_cols"],
    )
    feats = None
    if imp.imputation_features_ is not None:
        feats = imp.imputation_features_.get(col)
    return col, p["scratch"][:, col].copy(), feats


_BLAS_PINNED = False


def _ensure_blas_pinned() -> None:
    """Pin on first imputer USE, not at library import (importing the
    package must not silently degrade a host application's own BLAS),
    and never override a user's explicit OPENBLAS_NUM_THREADS."""
    global _BLAS_PINNED
    if _BLAS_PINNED:
        return
    _BLAS_PINNED = True
    import os

    if os.environ.get("OPENBLAS_NUM_THREADS"):
        return
    _pin_blas_single_thread()


class MultivariateImputer:
    """Impute NaNs in a 2-D float matrix, column by column.

    Args:
        regressor: estimator with ``fit(X, y)`` / ``predict(X)``; defaults
            to :class:`FastRidge` (alpha=1e-2, intercept), the reference
            default.
        classifier: estimator used for categorical/string/bool targets in
            the DataFrame path; defaults to the depth-4 CART
            (:class:`~datafiller_spark.kernels.cart.DecisionTreeClassifier`),
            matching the reference's
            ``DecisionTreeClassifier(max_depth=4, random_state=rng)``
            (reference imputer.py:206).
        min_samples_train: minimum training rows per model (default 20,
            reference imputer.py:164).
        fallback: ``"simple"`` fills still-NaN targeted cells with the
            column mean (MODE for categorical columns); ``None`` leaves
            them NaN.
    """

    def __init__(
        self,
        *,
        regressor: Any | None = None,
        classifier: Any | None = None,
        min_samples_train: int | None = None,
        fallback: str | None = "simple",
        use_gram: bool | None = None,
        n_jobs: int | None = None,
        rng: int | None = None,
        verbose: int = 0,
        scoring: str = "default",
        device: str | None = None,
    ):
        """``rng``/``verbose``/``scoring``/``device``: the reference's
        remaining constructor surface (reference imputer.py:176-187),
        accepted so its users switch 1:1. ``rng`` seeds the default
        classifier exactly like the reference
        (``DecisionTreeClassifier(max_depth=4, random_state=rng)``);
        ``verbose`` is accepted and ignored (no tqdm here); only
        ``scoring="default"`` is implemented; ``device`` must be None —
        the GPU path is out of scope (CPU parallelism is ``n_jobs``).

        ``n_jobs``: impute target columns in parallel worker processes
        (column imputations are independent by construction — each reads
        the shared input matrix and writes only its own column — so the
        output is bit-identical to the serial loop, pinned by
        tests/test_kernels_multivariate.py). Default None = serial, the
        reference's execution shape. Meant for wide single-node panels
        (the reference's published benchmark shape); inside Spark
        executors leave it off — the cluster already parallelizes per
        series, and nested pools oversubscribe."""
        if fallback not in (None, "simple"):
            raise EngineValueError(f"fallback must be 'simple' or None, got {fallback!r}")
        if n_jobs is not None and (not isinstance(n_jobs, int) or (n_jobs < 1 and n_jobs != -1)):
            raise EngineValueError("n_jobs must be a positive int, -1 (all cores), or None.")
        if scoring != "default":
            raise EngineValueError("only the default feature scoring is implemented.")
        if device is not None:
            raise EngineValueError(
                "device must be None: the GPU path is out of scope for this engine "
                "(use n_jobs for CPU parallelism)."
            )
        self.n_jobs = n_jobs
        self.rng = rng
        self.verbose = verbose
        self.regressor: Any = regressor if regressor is not None else FastRidge()
        self.classifier: Any = (
            classifier
            if classifier is not None
            else DecisionTreeClassifier(max_depth=4, random_state=rng if rng is not None else 0)
        )
        self.min_samples_train = (
            _DEFAULT_MIN_SAMPLES_TRAIN if min_samples_train is None else int(min_samples_train)
        )
        self.fallback = fallback
        # Gram fast path only expresses the stock normal-equations ridge;
        # auto-enable exactly when the regressor IS that (the reference's
        # `type(self.regressor) is FastRidge` rule, imputer.py:523)
        if use_gram is None:
            use_gram = type(self.regressor) is FastRidge
        elif use_gram and type(self.regressor) is not FastRidge:
            raise EngineValueError("use_gram=True requires the stock FastRidge regressor.")
        self.use_gram = bool(use_gram)
        self.imputation_features_: dict | None = None
        #: cells filled by the model vs the mean fallback on the last call
        self.fill_counts_: dict[str, int] = {"model": 0, "fallback": 0}
        #: set by the DataFrame path: encoded code columns that take the
        #: MODE fallback instead of the mean (reference imputer.py:744-770)
        self._mode_cols: set[int] | None = None

    # -- sklearn-style surface (reference imputer.py:214-250) ---------------

    def fit(self, X, y=None) -> "MultivariateImputer":
        """No-op fit for pipeline compatibility."""
        return self

    def transform(self, X):
        return self(X)

    def fit_transform(self, X, y=None):
        return self(X)

    def get_params(self, deep: bool = True) -> dict:
        return {
            "regressor": self.regressor,
            "classifier": self.classifier,
            "min_samples_train": self.min_samples_train,
            "fallback": self.fallback,
            "use_gram": self.use_gram,
            "n_jobs": self.n_jobs,
            "rng": self.rng,
            "verbose": self.verbose,
        }

    def set_params(self, **params) -> "MultivariateImputer":
        current = self.get_params()
        unknown = set(params) - set(current)
        if unknown:
            raise EngineValueError(f"unknown parameters: {sorted(unknown)}")
        current.update(params)
        if "regressor" in params and "use_gram" not in params:
            current["use_gram"] = None  # re-derive the auto rule
        self.__init__(**current)
        return self

    # -- column statistics ------------------------------------------------

    @staticmethod
    def _nan_stats(x: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, bool]:
        """NaN mask + per-column observed count/sum (float64 accumulation)."""
        mask_nan = np.isnan(x)
        observed = ~mask_nan
        counts = np.count_nonzero(observed, axis=0).astype(np.int64)
        sums = np.where(observed, x, 0).sum(axis=0, dtype=np.float64)
        # an infinite cell makes its column sum inf or NaN, so finite sums
        # rule infinities out without another pass over x
        has_inf = not np.isfinite(sums).all() and bool(np.isinf(x).any())
        return mask_nan, counts, sums, has_inf

    @staticmethod
    def _standardization(
        x: np.ndarray,
        counts: np.ndarray,
        sums: np.ndarray,
        cols: np.ndarray,
        mask_nan: np.ndarray,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Full-width means/scales; population std; degenerate scales → 1.
        ``mask_nan`` is ``np.isnan(x)``."""
        n = x.shape[1]
        means = np.zeros(n, dtype=np.float64)
        scales = np.ones(n, dtype=np.float64)
        with np.errstate(all="ignore"):
            counts_sub = counts[cols]
            means[cols] = np.where(counts_sub == 0, 0.0, sums[cols] / counts_sub)
            deviations = np.where(mask_nan, 0.0, x - means)
            sumsq = np.einsum("ij,ij->j", deviations, deviations)
            scales_sub = np.sqrt(sumsq[cols] / counts_sub)
            scales[cols] = np.where((scales_sub == 0) | np.isnan(scales_sub), 1.0, scales_sub)
        return means, scales

    def _sampled_cols(
        self,
        n_features: int,
        col: int,
        n_nearest: int | None,
        scores: np.ndarray | None,
        scores_index: int,
    ) -> np.ndarray:
        """All features but the target, or the top-k by score (stable order,
        NaN scores last, result sorted ascending). Reference parity:
        imputer.py:252-286."""
        candidates = np.arange(n_features)
        candidates = candidates[candidates != col]
        if n_nearest is None:
            return candidates
        assert scores is not None
        with np.errstate(all="ignore"):
            feat_scores = np.nan_to_num(scores[scores_index][candidates], nan=-np.inf)
        k = min(n_nearest, len(candidates))
        ranking = np.argsort(-feat_scores, kind="stable")
        return np.sort(candidates[ranking[:k]])

    def select_features(
        self,
        x: np.ndarray,
        cols_to_impute,
        n_nearest_features: None | float | int,
        normalize: bool = True,
    ) -> dict[int, np.ndarray]:
        """The SELECTION step of ``__call__`` alone: validation →
        standardization → scoring → per-target top-k. Returns
        ``{target_col: sorted feature index array}`` — exactly what
        ``imputation_features_`` records for the same full call,
        without any imputation work. CONSUMES ``x`` (standardizes it in
        place, the ``_owns_input`` contract).

        This exists for the wide-panel cluster path
        (operators/wide.py): the driver runs selection once on the full
        panel and ships each column-chunk task only the columns its
        targets select, so per-executor input is bounded by
        chunk × n_nearest instead of the whole panel. Bit-parity with
        the full-panel run holds because every quantity here is
        per-column or per-(target, feature)-pair: standardization and
        score moments read only the two columns involved, and the
        stable top-k tie-break is by column order, which an
        order-preserving column subset preserves.
        """
        _ensure_blas_pinned()
        x = np.asarray(x)
        if x.ndim != 2:
            raise EngineValueError(f"x must be a 2D array, got {x.ndim} dimensions.")
        if not np.issubdtype(x.dtype, np.number):
            raise EngineValueError(f"x must have a numeric dtype, got {x.dtype}.")
        if not np.issubdtype(x.dtype, np.floating):
            x = x.astype(np.float64)
        mask_nan, counts, sums, has_inf = self._nan_stats(x)
        if has_inf:
            raise EngineValueError("x cannot contain infinity.")
        m, n = x.shape
        n_nearest = _resolve_n_nearest(n_nearest_features, n)
        cols_idx = _as_index_array(cols_to_impute, n)
        if cols_idx.size and (cols_idx.min() < 0 or cols_idx.max() >= n):
            raise EngineValueError(f"cols_to_impute must be within [0, {n - 1}].")
        if n_nearest is None:
            return {
                int(c): self._sampled_cols(n, int(c), None, None, 0) for c in cols_idx
            }
        norm_cols = np.arange(n, dtype=np.int64)
        if normalize:
            norm_means, norm_scales = self._standardization(x, counts, sums, norm_cols, mask_nan)
            # same fused float64 in-place form as __call__'s _owns_input
            # branch (value-identical to the one-step (x - m) / s there)
            if x.dtype == np.float64:
                np.subtract(x, norm_means, out=x)
                np.divide(x, norm_scales, out=x)
            else:
                np.divide(x - norm_means, norm_scales, out=x)
        else:
            norm_means = None
        score_means = np.where(counts == 0, 0.0, sums / np.maximum(counts, 1))
        if norm_means is not None:
            score_means[norm_cols] = 0.0
        scores = score_features(x, cols_idx, column_means=score_means)
        return {
            int(c): self._sampled_cols(n, int(c), n_nearest, scores, i)
            for i, c in enumerate(cols_idx)
        }

    # -- per-column imputation ---------------------------------------------

    def _impute_col(
        self,
        x: np.ndarray,
        x_imputed: np.ndarray,
        col: int,
        mask_nan: np.ndarray,
        mask_rows: np.ndarray,
        n_nearest: int | None,
        scores: np.ndarray | None,
        scores_index: int,
        norm_mean: float,
        norm_scale: float,
        is_categorical: bool = False,
    ) -> None:
        n = x.shape[1]
        imputable = np.flatnonzero(mask_nan[:, col] & mask_rows)
        if not imputable.size:
            return
        sampled = self._sampled_cols(n, col, n_nearest, scores, scores_index)
        if self.imputation_features_ is not None:
            self.imputation_features_[col] = sampled
        trainable = np.flatnonzero(~mask_nan[:, col])
        if not trainable.size:
            return

        # row gathers, then the column gather: the same values as
        # x[np.ix_(rows, sampled)] at a fraction of its cost
        local_train = x.take(trainable, axis=0).take(sampled, axis=1)
        local_target = x[trainable, col]
        local_predict = x.take(imputable, axis=0).take(sampled, axis=1)
        local_mask = np.isnan(local_train)
        m_local, k_local = local_train.shape

        observed_patterns = ~np.isnan(local_predict)
        patterns, inverse = unique_bool_rows(observed_patterns)

        # the Gram path expresses the normal-equations ridge only; a
        # categorical target trains the classifier on materialized rows
        # (the reference's `(not is_categorical_target) and type(...) is
        # FastRidge` rule, imputer.py:523)
        solver = (
            GramSolver(local_train, local_target)
            if self.use_gram and not is_categorical and len(patterns)
            else None
        )

        local_rows = np.arange(m_local, dtype=np.uint32)
        # prediction rows per pattern, ascending, from one stable sort
        order, bounds = group_order(inverse.ravel(), len(patterns))
        order = order.astype(np.uint32)
        usables = [np.flatnonzero(pattern).astype(np.uint32) for pattern in patterns]
        if solver is not None:
            # Gram fast path: every pattern's Gram assembled from the
            # shared complete-rows Gram + admitted cached groups, all
            # pattern systems solved in batches by width
            solutions = solver.solve_patterns(
                [u.astype(np.int64) for u in usables],
                self.min_samples_train,
                alpha=self.regressor.alpha,
                fit_intercept=self.regressor.fit_intercept,
            )
        training_groups: dict[tuple, dict[str, Any]] = {}
        for p in range(len(patterns)):
            prediction_group = order[bounds[p] : bounds[p + 1]]
            usable = usables[p]
            if not usable.size:
                continue

            if solver is not None:
                solved = solutions[p]
                if solved is not None:
                    coef, intercept, _ = solved
                    pred = (
                        local_predict[np.ix_(prediction_group, usable)].astype(
                            np.float64, copy=False
                        )
                        @ coef
                        + intercept
                    )
                    x_imputed[imputable[prediction_group], col] = (
                        pred * norm_scale + norm_mean
                    )
                    continue
                # fewer than min_samples_train complete rows → same
                # optimask fallback as the materialized path (step 2)
                sub_iy, sub_ix = np.nonzero(local_mask[:, usable])
                rows, cols = optimask(
                    iy=sub_iy.astype(np.uint32),
                    ix=usable[sub_ix].astype(np.uint32),
                    rows=local_rows,
                    cols=usable,
                    global_matrix_size=(m_local, k_local),
                    min_rows=self.min_samples_train,
                )
                if len(rows) < self.min_samples_train or not len(cols):
                    continue
                key = (rows.tobytes(), cols.tobytes())
                group = training_groups.setdefault(
                    key, {"rows": rows, "cols": cols, "preds": []}
                )
                group["preds"].append(prediction_group)
                continue

            # Step 1: rows fully observed over the usable columns.
            rows = np.flatnonzero(~local_mask[:, usable].any(axis=1)).astype(np.uint32)
            if len(rows) < self.min_samples_train:
                # Step 2: optimask rectangle over the usable-column area.
                sub_iy, sub_ix = np.nonzero(local_mask[:, usable])
                rows, cols = optimask(
                    iy=sub_iy.astype(np.uint32),
                    ix=usable[sub_ix].astype(np.uint32),
                    rows=local_rows,
                    cols=usable,
                    global_matrix_size=(m_local, k_local),
                    min_rows=self.min_samples_train,
                )
                if len(rows) < self.min_samples_train or not len(cols):
                    continue
            else:
                cols = usable

            key = (rows.tobytes(), cols.tobytes())
            group = training_groups.setdefault(key, {"rows": rows, "cols": cols, "preds": []})
            group["preds"].append(prediction_group)

        for group in training_groups.values():
            cols = group["cols"]
            rows = group["rows"]
            pred_rows = (
                group["preds"][0]
                if len(group["preds"]) == 1
                else np.concatenate(group["preds"]).astype(np.uint32)
            )
            y_train = local_target[rows]
            if is_categorical:
                # classifier on integer codes, with the reference's
                # single-class shortcut (imputer.py:657-670)
                unique_y = np.unique(y_train)
                if unique_y.size < 2:
                    x_imputed[imputable[pred_rows], col] = (
                        unique_y[0] * norm_scale + norm_mean
                    )
                    continue
                estimator = self.classifier
                y_train = y_train.astype(np.int64)
            else:
                estimator = self.regressor
            estimator.fit(X=local_train[np.ix_(rows, cols)], y=y_train)
            preds = estimator.predict(local_predict[np.ix_(pred_rows, cols)])
            if is_categorical:
                preds = preds.astype(np.float32)
            x_imputed[imputable[pred_rows], col] = preds * norm_scale + norm_mean

    def _apply_fallback(
        self,
        x_imputed: np.ndarray,
        mask_nan: np.ndarray,
        mask_rows: np.ndarray,
        cols_to_impute: np.ndarray,
    ) -> None:
        """Column-mean fill for targeted cells no model reached; columns
        flagged categorical (DataFrame path) get the MODE instead.

        Reference parity: imputer.py:744-770."""
        mode_cols = self._mode_cols or set()
        for col in cols_to_impute:
            remaining = mask_nan[:, col] & mask_rows & np.isnan(x_imputed[:, col])
            if not remaining.any():
                continue
            observed = x_imputed[~mask_nan[:, col], col]
            if not observed.size:
                continue
            if int(col) in mode_cols:
                values, counts = np.unique(observed, return_counts=True)
                x_imputed[remaining, col] = values[np.argmax(counts)]
            else:
                x_imputed[remaining, col] = observed.mean()

    # -- entry point ---------------------------------------------------------

    def _impute_frame(
        self,
        df,
        rows_to_impute,
        cols_to_impute,
        n_nearest_features,
        normalize: bool,
    ):
        """Mixed-dtype pandas path: one-hot encode → impute → decode.

        Reference semantics (imputer.py:836-901): only NUMERIC main
        columns are standardized — code and dummy columns stay raw — and
        categorical targets are predicted by the depth-4 decision tree
        on integer codes (M16), with the MODE fallback as the last step.
        """
        from pandas.api.types import is_float_dtype, is_integer_dtype

        from .frame import decode_dataframe, encode_dataframe

        codec = encode_dataframe(df)
        numeric_norm_cols = np.array(
            [
                int(codec.main_indices[i])
                for i, c in enumerate(df.columns)
                if is_integer_dtype(df.dtypes[c]) or is_float_dtype(df.dtypes[c])
            ],
            dtype=np.int64,
        )
        if cols_to_impute is None:
            target_idx = codec.main_indices
        else:
            if isinstance(cols_to_impute, (int, str)):
                cols_to_impute = [cols_to_impute]
            positions = []
            for c in cols_to_impute:
                if isinstance(c, str):
                    positions.append(df.columns.get_loc(c))
                elif isinstance(c, (int, np.integer)):
                    positions.append(int(c))
                else:
                    raise EngineValueError("cols_to_impute entries must be int or str.")
            target_idx = codec.main_indices[np.asarray(positions, dtype=np.int64)]

        self._mode_cols = set(codec.categories)
        try:
            imputed = self(
                codec.matrix,
                rows_to_impute=rows_to_impute,
                cols_to_impute=target_idx,
                n_nearest_features=n_nearest_features,
                normalize=normalize,
                _owns_input=True,
                _categorical_cols=set(codec.categories),
                _normalize_cols=numeric_norm_cols,
            )
        finally:
            self._mode_cols = None
        out = decode_dataframe(codec, imputed)
        # Observed cells pass through BIT-EXACTLY (the engine's invariant,
        # SURVEY §7): the float32 working matrix would otherwise round
        # float64 observed values. Deliberate improvement over the
        # reference, which returns the float32-rounded values.
        for col in df.columns:
            observed = df[col].notna()
            if observed.any():
                out.loc[observed, col] = df.loc[observed, col]
        return out

    def __call__(
        self,
        x: np.ndarray,
        rows_to_impute: None | int | Iterable[int] = None,
        cols_to_impute: None | int | Iterable[int] = None,
        n_nearest_features: None | float | int = None,
        normalize: bool = True,
        _owns_input: bool = False,
        _categorical_cols: set[int] | None = None,
        _normalize_cols: np.ndarray | None = None,
    ) -> np.ndarray:
        import pandas as pd

        _ensure_blas_pinned()
        if isinstance(x, pd.DataFrame):
            return self._impute_frame(
                x, rows_to_impute, cols_to_impute, n_nearest_features, normalize
            )
        x = np.asarray(x)
        if x.ndim != 2:
            raise EngineValueError(f"x must be a 2D array, got {x.ndim} dimensions.")
        if not np.issubdtype(x.dtype, np.number):
            raise EngineValueError(f"x must have a numeric dtype, got {x.dtype}.")
        if not np.issubdtype(x.dtype, np.floating):
            x = x.astype(np.float64)

        mask_nan, counts, sums, has_inf = self._nan_stats(x)
        if has_inf:
            raise EngineValueError("x cannot contain infinity.")

        m, n = x.shape
        n_nearest = _resolve_n_nearest(n_nearest_features, n)
        rows_idx = _as_index_array(rows_to_impute, m)
        cols_idx = _as_index_array(cols_to_impute, n)
        if rows_idx.size and (rows_idx.min() < 0 or rows_idx.max() >= m):
            raise EngineValueError(f"rows_to_impute must be within [0, {m - 1}].")
        if cols_idx.size and (cols_idx.min() < 0 or cols_idx.max() >= n):
            raise EngineValueError(f"cols_to_impute must be within [0, {n - 1}].")
        mask_rows = np.zeros(m, dtype=bool)
        mask_rows[rows_idx] = True

        norm_cols = (
            _normalize_cols if _normalize_cols is not None else np.arange(n, dtype=np.int64)
        )
        if normalize and norm_cols.size:
            norm_means, norm_scales = self._standardization(x, counts, sums, norm_cols, mask_nan)
            x_imputed = x.copy()
            # (x - mean) / scale is computed in float64 and rounded ONCE
            # into x's dtype, matching the reference's normalize kernels
            # (_numba_utils.py:89-141); a two-step in-place `x -= m; x /= s`
            # would round twice and drift float32 inputs by 1 ulp.
            if _owns_input:
                # caller guarantees it won't read x again (reference's
                # _owns_input contract, imputer.py:808-811): standardize
                # into the existing buffer instead of keeping a third matrix
                if x.dtype == np.float64:
                    # float64 work in float64: the fused two-step is
                    # value-identical to (x - m) / s and allocates nothing
                    # (the hot per-series kernel path)
                    np.subtract(x, norm_means, out=x)
                    np.divide(x, norm_scales, out=x)
                else:
                    np.divide(x - norm_means, norm_scales, out=x)
            else:
                x = ((x - norm_means) / norm_scales).astype(x.dtype, copy=False)
        else:
            norm_means = norm_scales = None
            x_imputed = x.copy()

        targeted_nan = int((mask_nan[:, cols_idx] & mask_rows[:, None]).sum())
        if n_nearest is not None:
            # Standardized columns have zero observed mean; others keep
            # theirs (reference imputer.py:920-923 zeroes normalize_cols).
            score_means = np.where(counts == 0, 0.0, sums / np.maximum(counts, 1))
            if norm_means is not None:
                score_means[norm_cols] = 0.0
            scores = score_features(x, cols_idx, column_means=score_means)
            self.imputation_features_ = {}
        else:
            scores = None
            self.imputation_features_ = None

        cat_cols = _categorical_cols or set()
        n_jobs = (os.cpu_count() or 1) if self.n_jobs == -1 else self.n_jobs
        if n_jobs and n_jobs > 1 and len(cols_idx) > 1:
            # per-column process pool: same math, same per-column code
            # path, columns merely run concurrently (see __init__ doc)
            from concurrent.futures import ProcessPoolExecutor

            payload = {
                "x": x,
                "x_base": x_imputed,
                "mask_nan": mask_nan,
                "mask_rows": mask_rows,
                "n_nearest": n_nearest,
                "scores": scores,
                "norm_means": norm_means,
                "norm_scales": norm_scales,
                "cat_cols": cat_cols,
                "track_features": self.imputation_features_ is not None,
                "config": {
                    "regressor": self.regressor,
                    "classifier": self.classifier,
                    "min_samples_train": self.min_samples_train,
                    "fallback": None,
                    "use_gram": self.use_gram,
                },
            }
            tasks = [(i, int(c)) for i, c in enumerate(cols_idx)]
            # fork workers (payload transfers once, no per-worker
            # interpreter+numpy import) with BLAS pinned to ONE thread in
            # each (initializer): the pool owns the cores, and N workers
            # × M-threaded OpenBLAS otherwise oversubscribes N·M-fold —
            # the many small linalg.solve calls then run SLOWER than
            # serial (measured 33 s vs 7.4 s on the blocks benchmark).
            import multiprocessing as mp

            ctx = mp.get_context("fork" if "fork" in mp.get_all_start_methods() else "spawn")
            with ProcessPoolExecutor(
                max_workers=min(n_jobs, len(cols_idx)),
                mp_context=ctx,
                initializer=_init_col_worker,
                initargs=(payload,),
            ) as pool:
                for col, col_values, feats in pool.map(_impute_col_task, tasks):
                    x_imputed[:, col] = col_values
                    if feats is not None and self.imputation_features_ is not None:
                        self.imputation_features_[col] = feats
        else:
            for i, col in enumerate(cols_idx):
                self._impute_col(
                    x,
                    x_imputed,
                    int(col),
                    mask_nan,
                    mask_rows,
                    n_nearest,
                    scores,
                    i,
                    0.0 if norm_means is None else float(norm_means[col]),
                    1.0 if norm_scales is None else float(norm_scales[col]),
                    is_categorical=int(col) in cat_cols,
                )

        still_nan = int(
            (mask_nan[:, cols_idx] & mask_rows[:, None] & np.isnan(x_imputed[:, cols_idx])).sum()
        )
        self.fill_counts_ = {"model": targeted_nan - still_nan, "fallback": 0}
        if self.fallback == "simple":
            self._apply_fallback(x_imputed, mask_nan, mask_rows, cols_idx)
            left = int(
                (mask_nan[:, cols_idx] & mask_rows[:, None] & np.isnan(x_imputed[:, cols_idx])).sum()
            )
            self.fill_counts_["fallback"] = still_nan - left
        return x_imputed
