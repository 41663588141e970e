"""Normal-equations ridge regressor.

Reproduces the floating-point recipe of the reference's ``FastRidge``
(reference: src/datafiller/estimators/ridge.py:42-111): inputs cast to
float32, Gram products accumulated by BLAS, intercept handled by
mean-centering the normal equations rather than augmenting X, ridge
``alpha`` added to the diagonal *after* centering. Matching the recipe —
not just the math — is what makes imputed tiers reproducible against the
reference (its own tests pin sklearn-equivalence only to rtol 1e-4).
"""

from __future__ import annotations

import numpy as np


def ridge_system(
    gram: np.ndarray, n_samples, alpha: float, fit_intercept: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Normal equations ``(lhs, rhs)`` of ridge from the Gram of the
    augmented matrix ``[X, y, 1]``: mean-centered when fitting an
    intercept, ``alpha`` added to the diagonal after centering.

    ``gram`` may be a stack ``(..., k + 2, k + 2)`` with one
    ``n_samples`` per system; every system is formed with the same
    element-wise operations as a single one.

    Reference parity: src/datafiller/estimators/ridge.py:4-39.
    """
    k = gram.shape[-1] - 2
    n_samples = np.asarray(n_samples)[..., None]
    sxx = gram[..., :k, :k]
    sxy = gram[..., :k, k]
    if fit_intercept:
        sx = gram[..., :k, k + 1]
        sy = gram[..., k, k + 1, None]
        lhs = sxx - sx[..., :, None] * sx[..., None, :] / n_samples[..., None]
        rhs = sxy - sx * (sy / n_samples)
    else:
        lhs = sxx.copy()
        rhs = sxy
    diag = np.arange(k)
    lhs[..., diag, diag] += alpha
    return lhs, rhs


def ridge_intercept(gram: np.ndarray, n_samples: int, coef: np.ndarray, fit_intercept: bool) -> float:
    """Intercept of the ridge solution ``coef`` of :func:`ridge_system`."""
    if not fit_intercept:
        return 0.0
    k = gram.shape[0] - 2
    return float(gram[k, k + 1] / n_samples - (gram[:k, k + 1] / n_samples) @ coef)


def ridge_from_gram(
    gram: np.ndarray, n_samples: int, alpha: float, fit_intercept: bool
) -> tuple[np.ndarray, float]:
    """Solve ridge from the Gram of the augmented matrix ``[X, y, 1]``."""
    coef = np.linalg.solve(*ridge_system(gram, n_samples, alpha, fit_intercept))
    return coef, ridge_intercept(gram, n_samples, coef, fit_intercept)


class FastRidge:
    """Ridge via explicit normal equations (float32 working precision).

    ``alpha`` defaults to 1e-2 and ``fit_intercept`` to True, matching
    the reference defaults (ridge.py:58).
    """

    def __init__(self, alpha: float = 1e-2, fit_intercept: bool = True):
        self.alpha = alpha
        self.fit_intercept = fit_intercept
        self.coef_: np.ndarray | None = None
        self.intercept_ = 0.0

    def fit(self, X: np.ndarray, y: np.ndarray) -> "FastRidge":
        X = np.asarray(X, dtype=np.float32)
        y = np.asarray(y, dtype=np.float32)
        n = X.shape[0]
        if self.fit_intercept:
            mx = X.mean(axis=0)
            my = y.mean()
            lhs = X.T @ X - np.float32(n) * np.outer(mx, mx)
            rhs = X.T @ y - np.float32(n) * mx * my
        else:
            mx = None
            my = np.float32(0.0)
            lhs = X.T @ X
            rhs = X.T @ y
        lhs.flat[:: lhs.shape[0] + 1] += self.alpha
        self.coef_ = np.linalg.solve(lhs, rhs)
        self.intercept_ = float(my - (mx @ self.coef_)) if self.fit_intercept else 0.0
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float32)
        return X @ self.coef_ + self.intercept_
