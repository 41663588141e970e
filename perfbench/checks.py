"""Output checks against a DuckDB oracle over the same input files.

Observed values must match bit for bit: the engine's averages are
``sum / count`` of integer token counts, which DuckDB computes in the
same IEEE double arithmetic.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd

from datafiller_spark.kernels.codec import decode_points, encode_points

STEP_S = {"1m": 60, "1h": 3600, "1d": 86400}
_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}/*.parquet'" for p in paths) + "]"


def oracle_rollup(paths: list[str], tier: str) -> pd.DataFrame:
    """``(source, bucket_s, n_points, sum_value, avg_value)`` sorted by
    key and bucket; ``bucket_s`` is epoch seconds."""
    return duckdb.sql(
        f"""
        SELECT source,
               epoch(date_trunc('{_TRUNC[tier]}', event_ts))::BIGINT AS bucket_s,
               count(n_tok) AS n_points, sum(n_tok)::BIGINT AS sum_value,
               sum(n_tok)::DOUBLE / count(n_tok) AS avg_value
        FROM read_parquet({_files(paths)})
        GROUP BY ALL ORDER BY source, bucket_s
        """
    ).df()


def same_rollup(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """``got`` has (source, bucket, n_points, sum_value, avg_value) with
    ``bucket`` a timestamp; compares exactly, row for row."""
    got = got.assign(bucket_s=got["bucket"].astype("datetime64[s]").astype("int64"))
    got = got.sort_values(["source", "bucket_s"], ignore_index=True)
    if len(got) != len(want):
        return False
    return bool(
        (got["source"].to_numpy() == want["source"].to_numpy()).all()
        and np.array_equal(got["bucket_s"].to_numpy(), want["bucket_s"].to_numpy())
        and np.array_equal(got["n_points"].to_numpy(np.int64), want["n_points"].to_numpy(np.int64))
        and np.array_equal(got["sum_value"].to_numpy(np.int64), want["sum_value"].to_numpy(np.int64))
        and np.array_equal(
            got["avg_value"].to_numpy().view(np.int64), want["avg_value"].to_numpy().view(np.int64)
        )
    )


def check_chunks(chunks: pd.DataFrame, observed: dict[str, pd.DataFrame]) -> dict[str, bool]:
    """Chunk rows ``(source, tier, chunk_start, n_points, payload)`` of a
    whole warehouse or pipeline output, against the oracle rollups.

    - grid: each (key, tier) holds one point per grid bucket between its
      first and last observed bucket;
    - roundtrip: every payload decodes to its ``n_points`` points and
      re-encodes to the same bytes, and decoded values at observed
      buckets equal the oracle averages bit for bit.
    """
    grid_ok = roundtrip_ok = True
    for tier, want in observed.items():
        step = STEP_S[tier]
        sub = chunks[chunks["tier"] == tier].sort_values(["source", "chunk_start"])
        by_key = dict(tuple(want.groupby("source", sort=False)))
        grid_ok &= set(sub["source"]) == set(by_key)
        for key, g in sub.groupby("source", sort=False):
            obs = by_key.get(key)
            if obs is None:
                continue
            b = obs["bucket_s"].to_numpy()
            decoded = []
            for n, p in zip(g["n_points"].to_numpy(), g["payload"]):
                p = bytes(p)
                ts, vals = decode_points(p)
                roundtrip_ok &= len(ts) == n and encode_points(ts, vals) == p
                decoded.append((ts, vals))
            ts = np.concatenate([t for t, _ in decoded])
            vals = np.concatenate([v for _, v in decoded])
            on_grid = np.array_equal(ts, np.arange(b[0], b[-1] + step, step))
            grid_ok &= on_grid
            if on_grid:
                roundtrip_ok &= np.array_equal(
                    vals[(b - b[0]) // step].view(np.int64),
                    obs["avg_value"].to_numpy().view(np.int64),
                )
    return {"grid_points": bool(grid_ok), "codec_roundtrip": bool(roundtrip_ok)}


def check_read(got: pd.DataFrame, want: pd.DataFrame, tier: str, start_s: int, end_s: int) -> bool:
    """One ``scan_chunks`` result: one row per (key, grid bucket) inside
    [start, end) and the key's observed span, observed values exact."""
    step = STEP_S[tier]
    got = got.assign(bucket_s=got["bucket"].astype("datetime64[s]").astype("int64"))
    for key, obs in want.groupby("source", sort=False):
        b = obs["bucket_s"].to_numpy()
        lo = max(int(b[0]), start_s + (-start_s) % step)
        expect = np.arange(lo, min(int(b[-1]) + step, end_s), step)
        g = got[got["source"] == key].sort_values("bucket_s")
        if not np.array_equal(g["bucket_s"].to_numpy(), expect):
            return False
        hit = obs[(b >= start_s) & (b < end_s)]
        vals = g.set_index("bucket_s").loc[hit["bucket_s"], "avg_value"].to_numpy()
        if not np.array_equal(vals.view(np.int64), hit["avg_value"].to_numpy().view(np.int64)):
            return False
    return set(got["source"]) <= set(want["source"])


def digest(chunks: pd.DataFrame) -> str:
    """Content hash of all payloads in key/tier/chunk order, so a kernel
    change can show byte-identical output."""
    h = hashlib.sha256()
    for row in chunks.sort_values(["source", "tier", "chunk_start"]).itertuples():
        h.update(f"{row.source}|{row.tier}|{row.chunk_start}|".encode())
        h.update(bytes(row.payload))
    return h.hexdigest()[:16]
