"""Per-missingness-pattern ridge solves from shared Gram matrices.

The imputer trains one model per observed-feature pattern of the rows it
predicts, each on the training rows complete over that pattern's usable
columns. Those training sets overlap heavily — every fully-observed row
belongs to EVERY pattern's training set — so refitting per pattern
re-accumulates the same outer products over and over (the reference's
module doc quotes 3.1 GFLOP of outer products for 0.11 GFLOP of distinct
information; reference src/datafiller/multivariate/_gram.py:1-22).

This is the engine's re-expression of that idea (M12/M13) in vectorized
NumPy rather than Numba loops:

- one float64 Gram of the augmented matrix ``[X, y, 1]`` over the
  complete training rows, accumulated in 8192-row chunks (same chunking
  and float64 policy as the reference, _gram.py:107-118 — the intercept
  correction cancels magnitude, so float32 would lose digits);
- training rows holding NaNs are grouped by their exact NaN pattern;
  groups of ≥2 rows get ONE cached Gram each (NaN→0, exact because a
  group only serves patterns that exclude all its NaN columns), capped
  by the same 64 MB budget (_gram.py:29);
- each prediction pattern assembles its Gram as
  ``complete + admitted groups + leftover admitted rows`` where a row or
  group is admitted iff its NaN columns are a subset of the pattern's
  EXCLUDED columns — a boolean-matrix test here instead of the
  reference's bitmask/lowest-NaN-column index (that indexing is a Numba
  cache optimization; the admission semantics are identical);
- each pattern's ridge system is formed on its usable-column sub-Gram
  (:func:`datafiller_spark.kernels.ridge.ridge_system`), and the
  systems of all of a target's patterns are stacked by width and solved
  in one batched ``np.linalg.solve`` call per width. NumPy runs LAPACK
  ``gesv`` on each matrix of a stack exactly as on a single matrix, so
  the coefficients are bit-identical to one solve per pattern; only the
  per-call overhead is shared. The Grams themselves stay per pattern.

Patterns that gather fewer than ``min_samples_train`` rows are NOT
solved here — the caller falls back to its optimask branch, mirroring
the reference's control flow (_gram.py:244-414 returns solved flags).
"""

from __future__ import annotations

import numpy as np

from .optimask import group_order, unique_bool_rows
from .ridge import ridge_intercept, ridge_system

#: cached per-group Gram memory ceiling (reference parity: _gram.py:29)
GRAM_CACHE_BUDGET_BYTES = 64_000_000

_CHUNK = 8192


def _complete_gram(z: np.ndarray, complete_rows: np.ndarray) -> np.ndarray:
    """float64 Gram of the fully observed rows, chunked accumulation."""
    width = z.shape[1]
    gram = np.zeros((width, width), dtype=np.float64)
    for start in range(0, len(complete_rows), _CHUNK):
        block = z[complete_rows[start : start + _CHUNK]].astype(np.float64)
        gram += block.T @ block
    return gram


class GramSolver:
    """Shared-Gram ridge solver for one target column.

    Args:
        local_train: standardized training feature matrix (m, k), NaNs
            where unobserved.
        local_target: training target values (m,), fully observed.
        budget_bytes: cache ceiling for per-group Grams.
    """

    def __init__(
        self,
        local_train: np.ndarray,
        local_target: np.ndarray,
        budget_bytes: int | None = None,
    ):
        if budget_bytes is None:
            budget_bytes = GRAM_CACHE_BUDGET_BYTES
        m, k = local_train.shape
        self.k = k
        width = k + 2
        # augmented [X, y, 1] in float32 working precision (reference
        # gather_augmented, _gram.py:59-77), Grams in float64
        z = np.empty((m, width), dtype=np.float32)
        z[:, :k] = local_train
        z[:, k] = local_target
        z[:, k + 1] = 1.0
        self._z = z
        self._mask = np.isnan(local_train)
        row_has_nan = self._mask.any(axis=1)
        complete = np.flatnonzero(~row_has_nan)
        self.n_complete = len(complete)
        self._gram_complete = _complete_gram(z, complete)

        nan_rows = np.flatnonzero(row_has_nan)
        if nan_rows.size:
            patterns, inverse = unique_bool_rows(self._mask[nan_rows])
            inverse = inverse.ravel()
            counts = np.bincount(inverse, minlength=len(patterns))
            # budget 0 truly disables the cache (all NaN rows accumulate
            # on demand per pattern instead)
            max_groups = budget_bytes // (width * width * 8)
            kept = np.flatnonzero(counts >= 2)
            if len(kept) > max_groups:
                kept = np.sort(kept[np.argsort(-counts[kept], kind="stable")[:max_groups]])
            remap = np.full(len(patterns), -1, dtype=np.int64)
            remap[kept] = np.arange(len(kept))
            group_of_row = remap[inverse]
            cached = group_of_row >= 0

            self._group_masks = patterns[kept]  # (G, k) bool: NaN columns
            self._group_counts = counts[kept]
            self._group_grams = np.zeros((len(kept), width, width), dtype=np.float64)
            # NaN→0 is exact here: a group only serves patterns that
            # exclude all its NaN columns. One stable sort by group keeps
            # each group's rows in ascending order, as a per-group mask
            # would, so every group Gram is the same product.
            z0 = np.nan_to_num(z[nan_rows].astype(np.float64), copy=False)
            order, bounds = group_order(group_of_row, len(kept))
            for g in range(len(kept)):
                zg = z0[order[bounds[g] : bounds[g + 1]]]
                self._group_grams[g] = zg.T @ zg
            self._loose_rows = nan_rows[~cached]
        else:
            self._group_masks = np.zeros((0, k), dtype=bool)
            self._group_counts = np.zeros(0, dtype=np.int64)
            self._group_grams = np.zeros((0, width, width), dtype=np.float64)
            self._loose_rows = np.zeros(0, dtype=np.int64)
        self._loose_masks = self._mask[self._loose_rows]

    def solve_patterns(
        self,
        usables: list[np.ndarray],
        min_samples_train: int,
        alpha: float,
        fit_intercept: bool,
    ) -> list[tuple[np.ndarray, float, int] | None]:
        """Ridge coefficients for each observed-feature pattern.

        Per pattern, ``(coef, intercept, n_samples)`` over its
        ``usable`` feature columns, or None when it has no usable column
        or fewer than ``min_samples_train`` training rows are complete
        on them (caller falls back).

        Each pattern's Gram is ``complete + Σ admitted group Grams (+
        admitted loose rows)``, with the group sum accumulated in group
        order exactly as ``group_grams[admitted].sum(axis=0)`` does, so
        every system is the one a per-pattern assembly would form.
        """
        k = self.k
        n_pat = len(usables)
        usable_mask = np.zeros((n_pat, k), dtype=bool)
        for p, usable in enumerate(usables):
            usable_mask[p, usable] = True
        # admitted ⟺ NaN columns ⊆ excluded ⟺ no NaN in a usable column
        g_admit = ~(self._group_masks[:, None, :] & usable_mask[None]).any(axis=2)  # (G, P)
        r_admit = ~(self._loose_masks[:, None, :] & usable_mask[None]).any(axis=2)  # (L, P)
        n = self.n_complete + self._group_counts @ g_admit + r_admit.sum(axis=0)
        solve = np.flatnonzero(usable_mask.any(axis=1) & (n >= min_samples_train))
        out: list[tuple[np.ndarray, float, int] | None] = [None] * n_pat
        if not solve.size:
            return out

        g_admit = g_admit[:, solve]
        width = k + 2
        group_sum = np.empty((len(solve), width, width))
        started = np.zeros(len(solve), dtype=bool)
        for g in range(len(self._group_grams)):
            first = g_admit[g] & ~started
            group_sum[first] = self._group_grams[g]
            group_sum[g_admit[g] & started] += self._group_grams[g]
            started |= g_admit[g]
        grams = np.where(started[:, None, None], self._gram_complete + group_sum, self._gram_complete)
        for i in np.flatnonzero(r_admit[:, solve].any(axis=0)):
            rows = self._loose_rows[r_admit[:, solve[i]]]
            zl = np.nan_to_num(self._z[rows].astype(np.float64), copy=False)
            grams[i] += zl.T @ zl

        # one batched solve per system width
        n_usable = usable_mask[solve].sum(axis=1)
        for w in np.unique(n_usable):
            batch = np.flatnonzero(n_usable == w)
            pats = solve[batch]
            sub = np.concatenate(
                [np.stack([usables[p] for p in pats]), np.broadcast_to([k, k + 1], (len(pats), 2))],
                axis=1,
            )
            sub_grams = grams[batch[:, None, None], sub[:, :, None], sub[:, None, :]]
            n_b = n[pats]
            lhs, rhs = ridge_system(sub_grams, n_b, alpha, fit_intercept)
            coefs = np.linalg.solve(lhs, rhs)
            for j, p in enumerate(pats):
                coef = coefs[j]
                intercept = ridge_intercept(sub_grams[j], n_b[j], coef, fit_intercept)
                out[p] = (coef, intercept, int(n_b[j]))
        return out
