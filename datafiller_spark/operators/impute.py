"""Model-based gap-fill: the reference imputation kernel under Spark.

``model_gapfill`` runs the full TimeSeriesImputer recipe (grid
regularization → small-gap linear interpolation → lag/calendar ridge
imputation → mean fallback) per series group via ``applyInPandas`` —
one Arrow batch per key group, NumPy math inside, no per-row Python.

The fused operators (``model_gapfill_encode`` per tier and
``cascade_gapfill_encode_all`` for the whole tier chain) fill and
encode in one Python stage. Per series they run on NumPy arrays from
grid to payload (``_SeriesFill``): the grid is the tier step counted
from the first observed bucket, the fill is the array core
``kernels.timeseries.fill_array`` (the same code
``TimeSeriesImputer.__call__`` runs, so the staged and fused paths
cannot drift apart), calendar chunks are cut on ``datetime64[D/M/Y]``
integers, and one segmented codec pass (``kernels.codec.encode_chunks``)
encodes all of the series' chunks. One ``MultivariateImputer`` serves
every series of a task. No pandas index, frame or series is built per
tier.

Determinism at scale: rows are sorted by bucket *inside* the kernel, so
the result is independent of Spark partitioning and Arrow batch order;
all order-sensitive float math happens on that sorted data. This is
the property that keeps tiers reproducible when the same job runs at N
and 4N executors.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..exceptions import EngineError, EngineValueError
from ..kernels.codec import encode_chunks
from ..kernels.multivariate import MultivariateImputer
from ..kernels.timeseries import TimeSeriesImputer, fill_array

#: grid step (seconds), pandas frequency and calendar-chunk unit
#: (``datetime64`` code) of each tier
TIER_STEP_S = {"1m": 60, "1h": 3600, "1d": 86400}
TIER_FREQ = {"1m": "min", "1h": "h", "1d": "D"}
_CHUNK_CODE = {"1m": "D", "1h": "M", "1d": "Y"}


def model_gapfill(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_cols: Sequence[str],
    lags: Sequence[int] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int = 20,
    interpolate_gaps_less_than: int | None = None,
    n_nearest_features: int | float | None = None,
    add_time_features: bool = True,
    use_gram: bool | None = None,
    regressor_factory=None,
    freq: str | None = None,
) -> DataFrame:
    """Gap-fill ``value_cols`` per key group with the ridge kernel (or a
    custom regressor built per group by ``regressor_factory`` — e.g. the
    ExtremeLearningMachine; the factory must be picklable).

    Input rows may be sparse (missing buckets) — the kernel reinserts
    the full regular grid, so the output generally has MORE rows than
    the input: one per grid bucket. ``freq`` (a pandas frequency such as
    ``TIER_FREQ[tier]``) fixes the grid step; without it each group's
    step is inferred from its own buckets, which fails on irregular
    gaps and widens the step when every gap is a multiple of it. Output
    schema: key cols + bucket + value cols (double).
    """
    keys = list(key_cols)
    values = list(value_cols)

    out_schema = StructType()
    for k in keys:
        out_schema.add(df.schema[k])
    out_schema.add(df.schema[bucket_col])
    for v in values:
        out_schema.add(v, "double")

    lags_list = [int(x) for x in lags]

    def fill_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key_values = {k: pdf[k].iloc[0] for k in keys}
        frame = (
            pdf[[bucket_col] + values]
            .sort_values(bucket_col)
            .set_index(bucket_col)
            .astype("float64")
        )
        if freq is not None:
            frame = frame.asfreq(freq)
        imputer = TimeSeriesImputer(
            lags=lags_list,
            regressor=regressor_factory() if regressor_factory is not None else None,
            min_samples_train=min_samples_train,
            interpolate_gaps_less_than=interpolate_gaps_less_than,
            add_time_features=add_time_features,
            use_gram=use_gram,
        )
        try:
            filled = imputer(frame, n_nearest_features=n_nearest_features)
        except EngineError:
            # A group too short for frequency inference (or a single row)
            # passes through unfilled rather than failing the stage.
            # Only the engine's own validation errors are expected here;
            # anything else is a genuine kernel bug and must propagate.
            filled = frame
        out = filled.reset_index().rename(columns={"index": bucket_col})
        for k, v in key_values.items():
            out[k] = v
        return out[[*keys, bucket_col, *values]]

    return df.select(*keys, bucket_col, *values).groupBy(*keys).applyInPandas(
        fill_group, schema=out_schema
    )


def gapfill_metrics(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int = 20,
    interpolate_gaps_less_than: int | None = 4,
) -> DataFrame:
    """Per-series gap-fill metrics rows, one per key group:
    (keys..., n_observed, n_grid, gaps_by_interp, gaps_by_model,
    gaps_by_fallback, gaps_unfilled) — the lineage/metrics contract's
    3-step-policy attribution (reference policy: docs/algorithm.rst:22-32).
    """
    keys = list(key_cols)
    out_schema = StructType()
    for k in keys:
        out_schema.add(df.schema[k])
    for c in ("n_observed", "n_grid", "gaps_by_interp", "gaps_by_model",
              "gaps_by_fallback", "gaps_unfilled"):
        out_schema.add(c, "long")

    lags_list = [int(x) for x in lags]

    def stats_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key_values = {k: [pdf[k].iloc[0]] for k in keys}
        frame = (
            pdf[[bucket_col, value_col]]
            .sort_values(bucket_col)
            .set_index(bucket_col)
            .astype("float64")
        )
        imputer = TimeSeriesImputer(
            lags=lags_list,
            min_samples_train=min_samples_train,
            interpolate_gaps_less_than=interpolate_gaps_less_than,
        )
        try:
            filled = imputer(frame)
            counts = imputer.fill_counts_
            n_grid = len(filled)
            unfilled = int(filled.isna().sum().sum())
        except EngineError:
            counts = {"interp": 0, "model": 0, "fallback": 0}
            n_grid = len(frame)
            unfilled = int(frame.isna().sum().sum())
        return pd.DataFrame(
            {
                **key_values,
                "n_observed": [len(pdf)],
                "n_grid": [n_grid],
                "gaps_by_interp": [counts["interp"]],
                "gaps_by_model": [counts["model"]],
                "gaps_by_fallback": [counts["fallback"]],
                "gaps_unfilled": [unfilled],
            }
        )

    return df.select(*keys, bucket_col, value_col).groupBy(*keys).applyInPandas(
        stats_group, schema=out_schema
    )


class _SeriesFill:
    """Fill and encode one series' tier grid, on arrays from grid to
    payload — the per-series work both fused operators share. One
    ``MultivariateImputer`` serves every series a task fills."""

    def __init__(self, lags, min_samples_train, interpolate_gaps_less_than, use_gram):
        self.lags = [int(x) for x in lags]
        self.interpolate_gaps_less_than = interpolate_gaps_less_than
        self.imputer = MultivariateImputer(min_samples_train=min_samples_train, use_gram=use_gram)

    def __call__(self, tier: str, t_sec: np.ndarray, values: np.ndarray):
        """``t_sec``: the series' observed bucket starts (epoch seconds,
        sorted, on the tier grid); ``values``: their float64 values.
        Returns ``(chunk_start, n_points, payloads)`` per calendar chunk
        of the filled grid from the first to the last observed bucket."""
        step = TIER_STEP_S[tier]
        pos = (t_sec - t_sec[0]) // step
        grid = np.full((int(pos[-1]) + 1, 1), np.nan)
        grid[pos, 0] = values
        ts = t_sec[0] + step * np.arange(len(grid), dtype=np.int64)
        try:
            filled = fill_array(
                grid,
                ts * 1_000_000_000,
                self.imputer,
                self.lags,
                interpolate_gaps_less_than=self.interpolate_gaps_less_than,
            )[0][:, 0]
        except EngineError:
            # the engine's own validation errors leave the series
            # unfilled rather than failing the stage; anything else is a
            # genuine kernel bug and must propagate
            filled = grid[:, 0]
        # calendar chunks: cut where the datetime64 day/month/year changes
        period = ts.astype("datetime64[s]").astype(f"datetime64[{_CHUNK_CODE[tier]}]")
        starts = np.flatnonzero(np.concatenate(([True], period[1:] != period[:-1])))
        n_points = np.diff(np.append(starts, len(ts)))
        return period[starts].astype("datetime64[ns]"), n_points, encode_chunks(ts, filled, starts)


class _ChunkRows:
    """Column lists of the fused operators' chunk rows."""

    def __init__(self, keys: list[str]):
        self.keys = keys
        self.cols: dict[str, list] = {
            c: [] for c in (*keys, "chunk_start", "tier", "n_points", "payload")
        }

    def add(self, key_values: tuple, tier: str, chunk_start, n_points, payloads) -> None:
        n = len(payloads)
        for k, v in zip(self.keys, key_values):
            self.cols[k].extend([v] * n)
        self.cols["chunk_start"].extend(chunk_start)
        self.cols["tier"].extend([tier] * n)
        self.cols["n_points"].extend(n_points.tolist())
        self.cols["payload"].extend(payloads)

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(self.cols)


def _chunk_schema(df: DataFrame, keys: list[str]) -> StructType:
    out_schema = StructType()
    for k in keys:
        out_schema.add(df.schema[k])
    out_schema.add("chunk_start", "timestamp")
    out_schema.add("tier", "string")
    out_schema.add("n_points", "integer")
    out_schema.add("payload", "binary")
    return out_schema


def model_gapfill_encode(
    df: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    value_col: str,
    tier: str,
    lags: Sequence[int] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int = 20,
    interpolate_gaps_less_than: int | None = None,
    use_gram: bool | None = None,
) -> DataFrame:
    """Fused gap-fill + Gorilla encode: ONE shuffle and ONE Python stage
    per tier instead of two. The kernel fills the series on the tier's
    grid, then chunks it by the tier's calendar period and emits one
    binary payload per chunk — identical output to
    ``encode_tier(model_gapfill(..., freq=TIER_FREQ[tier]))``.
    Buckets must lie on the tier grid (as ``rollup``/``cascade`` emit
    them)."""
    keys = list(key_cols)
    step = TIER_STEP_S[tier]
    fill_args = (lags, min_samples_train, interpolate_gaps_less_than, use_gram)

    def fill_encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(bucket_col)
        t_sec = pdf[bucket_col].to_numpy().astype("datetime64[s]").astype(np.int64)
        if np.any(t_sec % step) or np.any(np.diff(t_sec) <= 0):
            raise EngineValueError(
                f"model_gapfill_encode: {bucket_col!r} must hold distinct {tier} bucket starts"
            )
        rows = _ChunkRows(keys)
        rows.add(
            tuple(pdf[k].iloc[0] for k in keys),
            tier,
            *_SeriesFill(*fill_args)(tier, t_sec, pdf[value_col].to_numpy(dtype=np.float64)),
        )
        return rows.frame()

    return df.select(*keys, bucket_col, value_col).groupBy(*keys).applyInPandas(
        fill_encode_group, schema=_chunk_schema(df, keys)
    )


def cascade_gapfill_encode_all(
    df_1m: DataFrame,
    key_cols: Sequence[str],
    lags: Sequence[int] = (1, 2, 3, -1, -2, -3),
    min_samples_train: int = 20,
    interpolate_gaps_less_than: int | None = None,
    use_gram: bool | None = None,
    raw_ts_col: str | None = None,
    raw_value_col: str | None = None,
) -> DataFrame:
    """One shuffle for the whole per-series tier chain.

    Input: observed 1m tier rows (bucket, n_points, sum_value) per key.
    The kernel — one call per series — cascades the observed aggregates
    to 1h and 1d (sum/count compose in time order, deterministically),
    gap-fills each tier's grid with the ridge kernel, and Gorilla-encodes
    each tier's chunks. Output: chunk rows for ALL tiers.

    Versus running the cascade in Spark + one applyInPandas per tier,
    this trades three shuffles and three Python stages for one of each;
    at 10^12 scale it also means the 1m tier is shuffled exactly once.

    **from-raw mode** (``raw_ts_col``/``raw_value_col`` set): the input
    is the RAW event table and the 1m aggregation itself happens inside
    the kernel (minute-truncate + ``reduceat``), removing the separate
    rollup shuffle — the whole chain is scan → ONE exchange → sort →
    kernel. Bit-exact vs the groupBy rollup for integral value columns
    (the north-rule table's ``n_tok:int32``; integer sums are
    order-free — float values would pick up last-ulp differences from
    summation order and should keep the two-exchange path). Choose by
    key volume: from-raw co-locates ALL raw rows of a key in one task,
    so it is the right plan when per-key raw volume is bounded (bench
    shape: ≤6×10^5 rows/key); the two-exchange path's map-side partial
    aggregation is the right plan when single keys carry unbounded raw
    volume (10^12-sequence hot sources) — the same bounded-vs-skewed
    split that picks direct vs salted rollup.

    Execution shape: ``repartition(keys) → sortWithinPartitions(keys,
    bucket) → mapInPandas`` rather than ``groupBy().applyInPandas``.
    Same single hash shuffle, but Arrow moves PARTITION-sized batches
    instead of one tiny frame per series — the per-group fixed cost
    (Arrow batch framing + pandas construction, ~8 ms) otherwise
    dominates wall and serializes scaling when groups are thousands of
    small series (measured: the bare kernel scales 0.98 at 1→4 procs
    while the applyInPandas stage scaled 0.56). Groups are split with
    NumPy key-change scans; a series spanning two Arrow batches is
    carried over, so results are identical to the per-group form
    (pinned by tests/test_impute_spark.py cross-path equality).
    """
    keys = list(key_cols)
    out_schema = _chunk_schema(df_1m, keys)
    fill_args = (lags, min_samples_train, interpolate_gaps_less_than, use_gram)

    def _cascade_sums(ts_sec: np.ndarray, npts: np.ndarray, sv: np.ndarray, step: int):
        """Re-aggregate SORTED observed buckets to a coarser step in one
        ``np.add.reduceat`` pass — the output equals pandas
        ``resample().agg(sum)`` filtered to non-empty buckets (both sum
        sequentially in time order; only observed buckets are emitted)."""
        trunc = ts_sec - ts_sec % step
        starts = np.concatenate(([0], np.flatnonzero(np.diff(trunc)) + 1))
        return (
            trunc[starts],
            np.add.reduceat(npts, starts),
            np.add.reduceat(sv, starts),
        )

    def tier_chain_rows(fill: _SeriesFill, key_values: tuple, ts_sec, npts, sv, rows: _ChunkRows) -> None:
        """Cascade + fill + encode ONE series (sorted arrays)."""
        rows.add(key_values, "1m", *fill("1m", ts_sec, sv.astype("float64") / npts))
        t1h, n1h, s1h = _cascade_sums(ts_sec, npts, sv, 3600)
        rows.add(key_values, "1h", *fill("1h", t1h, s1h.astype("float64") / n1h))
        t1d, n1d, s1d = _cascade_sums(t1h, n1h, s1h, 86400)
        rows.add(key_values, "1d", *fill("1d", t1d, s1d.astype("float64") / n1d))

    from_raw = raw_ts_col is not None

    def emit_chunk(fill: _SeriesFill, pdf: pd.DataFrame) -> pd.DataFrame:
        """Run every complete series in ``pdf`` (sorted by keys, time)."""
        rows = _ChunkRows(keys)
        # group boundaries via key-change scan — no pandas groupby machinery
        key_arrays = [pdf[k].to_numpy() for k in keys]
        change = np.zeros(len(pdf), dtype=bool)
        change[0] = True
        for kv in key_arrays:
            change[1:] |= kv[1:] != kv[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(pdf))
        if from_raw:
            # 1m aggregation inside the kernel: minute-truncate + reduceat
            # over the (key, ts)-sorted rows — the rollup without its
            # shuffle. Counts/sums equal the groupBy form exactly for
            # integral values (order-free sums).
            ts_raw = pdf[raw_ts_col].to_numpy().astype("datetime64[s]").astype(np.int64)
            trunc = ts_raw - ts_raw % 60
            vraw = pdf[raw_value_col].to_numpy()
            if np.issubdtype(vraw.dtype, np.integer):
                # Spark's sum() promotes to int64; reduceat would keep
                # int32 and silently WRAP on >2^31 per-bucket sums
                vraw = vraw.astype(np.int64)
            for s, e in zip(starts, ends):
                t = trunc[s:e]
                bstarts = np.concatenate(([0], np.flatnonzero(np.diff(t)) + 1))
                npts = np.diff(np.append(bstarts, e - s))
                sv = np.add.reduceat(vraw[s:e], bstarts)
                tier_chain_rows(fill, tuple(kv[s] for kv in key_arrays), t[bstarts], npts, sv, rows)
            return rows.frame()
        ts_sec = pdf["bucket"].to_numpy().astype("datetime64[s]").astype(np.int64)
        npts = pdf["n_points"].to_numpy()
        sv = pdf["sum_value"].to_numpy()
        for s, e in zip(starts, ends):
            key_values = tuple(kv[s] for kv in key_arrays)
            tier_chain_rows(fill, key_values, ts_sec[s:e], npts[s:e], sv[s:e], rows)
        return rows.frame()

    def process_partition(batches):
        fill = _SeriesFill(*fill_args)
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # hold back the trailing series — it may continue in the
            # next Arrow batch of this partition
            tail = np.ones(len(pdf), dtype=bool)
            for k in keys:
                kv = pdf[k].to_numpy()
                tail &= kv == kv[-1]
            # rows are key-sorted, so the last group is a contiguous tail
            first_of_last = len(pdf) - int(tail[::-1].argmin()) if not tail.all() else 0
            carry = pdf.iloc[first_of_last:]
            head = pdf.iloc[:first_of_last]
            if len(head):
                yield emit_chunk(fill, head)
        if carry is not None and len(carry):
            yield emit_chunk(fill, carry)

    if from_raw:
        # count(value)/sum(value) ignore nulls in the groupBy rollup;
        # match by dropping null-value rows before the kernel (the one
        # divergence: an all-null bucket yields a null-avg tier row
        # there, no row here — both gap-fill identically downstream)
        df_1m = df_1m.where(F.col(raw_value_col).isNotNull())
        cols = [*keys, raw_ts_col, raw_value_col]
        sort_cols = [*keys, raw_ts_col]
    else:
        cols = [*keys, "bucket", "n_points", "sum_value"]
        sort_cols = [*keys, "bucket"]
    return (
        df_1m.select(*cols)
        .repartition(*keys)
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(process_partition, schema=out_schema)
    )
