"""Largest NaN-free training rectangle (optimask).

Pure-NumPy re-expression of the reference's Numba implementation
(reference: src/datafiller/_optimask.py:16-242). Given the NaN
coordinates of a matrix, it pareto-orders the rows/columns that contain
NaNs (alternating argsorts, first pass quicksort then stable — the sort
kinds are kept identical so tie-breaking matches) and picks the largest
rectangle under the resulting histogram, preferring rectangles that keep
at least ``min_rows`` rows. Returns (rows, cols) safe to train on.
"""

from __future__ import annotations

import sys

import numpy as np

from ..exceptions import EngineValueError

# unique_bool_rows packs bool rows with packbits(bitorder='little') and
# reinterprets the bytes as native uint64 words; on a big-endian host
# that view scrambles bit positions within each word SILENTLY (grouping
# changes, no crash). Fail loudly instead — same guard as dedup.py's
# SimHash byte view.
if sys.byteorder != "little":  # pragma: no cover - no big-endian CI host
    raise ImportError(
        "datafiller_spark.kernels.optimask requires a little-endian host: "
        "unique_bool_rows reinterprets packbits(bitorder='little') bytes "
        "as native uint64 words."
    )

_MAX_PARETO_STEPS = 16


def _compress_first_appearance(index: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Relabel ``index`` to dense 0..k-1 ids in first-appearance order.

    Returns (original_values_in_first_appearance_order, relabeled_index).
    """
    if len(index) == 0:
        return index.astype(np.uint32, copy=True), np.zeros(0, dtype=np.int64)
    if np.all(index[1:] >= index[:-1]):
        # sorted input (iy from np.nonzero always is): first-appearance
        # order == ascending order, so unique/inverse reduce to a flag
        # diff + cumsum — no argsort. Identical output to the general path.
        first = np.empty(len(index), dtype=bool)
        first[0] = True
        np.not_equal(index[1:], index[:-1], out=first[1:])
        return index[first].astype(np.uint32, copy=False), np.cumsum(first) - 1
    vmax = int(index.max())
    if vmax < (1 << 22):
        # dense-id fast path (column ids always are): first-occurrence
        # positions via one reversed scatter, no O(n log n) unique
        first_pos = np.full(vmax + 1, -1, dtype=np.int64)
        first_pos[index[::-1]] = np.arange(len(index) - 1, -1, -1)
        vals = np.flatnonzero(first_pos >= 0)
        order = np.argsort(first_pos[vals], kind="stable")  # k-sized sort
        uniq = vals[order]
        rank = np.empty(vmax + 1, dtype=np.int64)
        rank[uniq] = np.arange(len(uniq))
        return uniq.astype(np.uint32, copy=False), rank[index]
    uniq, first_pos, inverse = np.unique(index, return_index=True, return_inverse=True)
    appearance = np.argsort(first_pos, kind="stable")
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[appearance] = np.arange(len(uniq))
    return uniq[appearance].astype(np.uint32, copy=False), rank[inverse]


def _groupby_max_plus1(groups: np.ndarray, values: np.ndarray, n: int) -> np.ndarray:
    """Per group, ``max(value) + 1`` (0 for empty groups)."""
    out = np.zeros(n, dtype=np.int64)
    np.maximum.at(out, groups, values.astype(np.int64) + 1)
    return out


def _is_decreasing(h: np.ndarray) -> bool:
    return bool(np.all(h[:-1] >= h[1:])) if len(h) > 1 else True


def _relabel_by_permutation(perm: np.ndarray, labels: np.ndarray) -> np.ndarray:
    """New label of old id ``perm[i]`` is ``i``."""
    rank = np.empty(len(perm), dtype=np.int64)
    rank[perm] = np.arange(len(perm))
    return rank[labels]


def _largest_rectangle(
    heights: np.ndarray, m: int, n: int, min_rows: int = 1
) -> tuple[int, int, int]:
    """Max-area rectangle under the pareto histogram; prefer ≥ min_rows rows.

    Reference parity: src/datafiller/_optimask.py:128-157.
    """
    if n > len(heights):
        heights = np.concatenate((heights, np.array([0])))
    rows_kept = m - heights
    areas = rows_kept * (n - np.arange(len(heights)))
    if min_rows > 1:
        constrained = np.where(rows_kept >= min_rows, areas, 0)
        if constrained.max() > 0:
            i0 = int(np.argmax(constrained))
            return i0, int(heights[i0]), int(areas[i0])
    i0 = int(np.argmax(areas))
    return i0, int(heights[i0]), int(areas[i0])


def _keep(index: np.ndarray, with_nan: np.ndarray, perm: np.ndarray, split: int) -> np.ndarray:
    """Drop from ``index`` the first ``split`` permuted NaN-carrying ids."""
    if split == 0:
        return index.astype(np.uint32, copy=True)
    excluded = with_nan[perm[:split]]
    # O(n) boolean lookup over the id space instead of np.isin's sort
    lut = np.zeros(int(max(index.max(), excluded.max())) + 1, dtype=bool)
    lut[excluded] = True
    return index[~lut[index]].astype(np.uint32, copy=False)


def optimask(
    iy: np.ndarray,
    ix: np.ndarray,
    rows: np.ndarray,
    cols: np.ndarray,
    global_matrix_size: tuple[int, int],
    min_rows: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Largest NaN-free (rows, cols) training rectangle.

    Args:
        iy/ix: row/column coordinates of every NaN inside the candidate area.
        rows/cols: the candidate row and column ids.
        global_matrix_size: shape of the matrix the coordinates refer to.
        min_rows: prefer rectangles keeping at least this many rows.
    """
    row_ids_nan, iyp = _compress_first_appearance(np.asarray(iy))
    col_ids_nan, ixp = _compress_first_appearance(np.asarray(ix))
    m_nan, n_nan = len(row_ids_nan), len(col_ids_nan)

    hy = _groupby_max_plus1(iyp, ixp, m_nan)  # per NaN-row: max NaN-col id + 1
    hx = _groupby_max_plus1(ixp, iyp, n_nan)  # per NaN-col: max NaN-row id + 1

    p_rows = np.arange(m_nan, dtype=np.int64)
    p_cols = np.arange(n_nan, dtype=np.int64)
    ordered = False

    step = 0
    while not ordered and step < _MAX_PARETO_STEPS:
        kind = "stable" if step else "quicksort"
        axis = step % 2
        step += 1
        if axis == 0:
            perm = (-hy).argsort(kind=kind)
            iyp = _relabel_by_permutation(perm, iyp)
            p_rows, hy = p_rows[perm], hy[perm]
            hx = _groupby_max_plus1(ixp, iyp, n_nan)
            ordered = _is_decreasing(hx)
        else:
            perm = (-hx).argsort(kind=kind)
            ixp = _relabel_by_permutation(perm, ixp)
            hy = _groupby_max_plus1(iyp, ixp, m_nan)
            p_cols, hx = p_cols[perm], hx[perm]
            ordered = _is_decreasing(hy)

    if not ordered:
        raise EngineValueError(f"Pareto ordering did not converge after {step} steps.")

    i0, j0, area = _largest_rectangle(hx, len(rows), len(cols), min_rows=min_rows)
    if area == 0:
        return np.array([], dtype=np.uint32), np.array([], dtype=np.uint32)

    cols_keep = _keep(np.asarray(cols), col_ids_nan, p_cols, i0)
    rows_keep = _keep(np.asarray(rows), row_ids_nan, p_rows, j0)
    return rows_keep, cols_keep


def group_order(labels: np.ndarray, n_groups: int) -> tuple[np.ndarray, np.ndarray]:
    """Row positions sorted by group label, ascending within each group,
    and the ``n_groups + 1`` bounds of each group's run in that order
    (labels below 0 sort first and belong to no group). Labels that fit
    16 bits are sorted by NumPy's stable radix sort."""
    if n_groups < (1 << 15):
        labels = labels.astype(np.int16)
    order = np.argsort(labels, kind="stable")
    return order, np.searchsorted(labels[order], np.arange(n_groups + 1))


def unique_bool_rows(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """np.unique(mat, axis=0, return_inverse=True) for boolean matrices,
    via 64-bit packing (the reference's own single-word shortcut,
    _gram.py:199-206, generalized to any width): uniquing packed
    integers is ~10x faster than the void-view lexicographic row sort.
    Up to 52 columns a row packs into one exact float64 word via a BLAS
    matrix-vector product, and up to 16 the unique pass is a counting
    sort. Wider rows pack into ceil(k/64) words and unique a structured
    view — the sort then compares 8·w-byte keys instead of k-byte bool
    rows (a 425-wide lag-matrix mask sorts 7 words, not 425 bytes; this
    was 44% of the published blocks-benchmark wall). Pattern ORDER
    differs from the axis=0 form (packed-integer vs lexicographic
    order) — callers must not depend on it; per-pattern work is
    order-free (pinned by the byte-exact reference-parity suite, which
    crosses this path at lag-matrix widths).
    """
    m, k = mat.shape
    if k == 0 or m == 0:
        return np.unique(mat, axis=0, return_inverse=True)
    if k <= 52:
        # bit j of row i's word = mat[i, j]; the matrix-vector product
        # of distinct powers of two is exact in float64 below 2^53
        packed = (mat.astype(np.float64) @ np.ldexp(1.0, np.arange(k))).astype(np.int64)
        if k <= 16:
            # counting-sort unique over the 2^k possible words
            present = np.bincount(packed, minlength=1 << k) > 0
            uniq = np.flatnonzero(present)
            inverse = (np.cumsum(present) - 1)[packed]
        else:
            uniq, inverse = np.unique(packed, return_inverse=True)
        patterns = ((uniq[:, None] >> np.arange(k)) & 1).astype(bool)
        return patterns, inverse
    w = (k + 63) // 64
    padded = np.zeros((m, w * 64), dtype=bool)
    padded[:, :k] = mat
    # packbits (C bit loop) + a little-endian uint64 view is ~10x the
    # astype(uint64)·weights GEMM form; lexsort over the w typed columns
    # beats np.unique on a void view ~10x (typed sorts, not byte-wise
    # comparisons)
    words = np.packbits(padded, axis=1, bitorder="little").view(np.uint64)  # (m, w)
    order = np.lexsort(words.T[::-1])
    sw = words[order]
    first = np.empty(m, dtype=bool)
    first[0] = True
    np.any(sw[1:] != sw[:-1], axis=1, out=first[1:])
    group_sorted = np.cumsum(first) - 1
    inverse = np.empty(m, dtype=np.intp)
    inverse[order] = group_sorted
    patterns = np.unpackbits(
        sw[first].view(np.uint8), axis=1, bitorder="little"
    ).astype(bool)[:, :k]
    return patterns, inverse
