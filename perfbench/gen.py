"""Seeded input generator for the benchmark.

Same shape as ``datafiller_spark.sources.synth_sequences`` (30% of rows
on ``web``, 20% on ``books``, the rest spread evenly over cold
``wiki-NN`` keys, minute-uniform timestamps) but drawn from a NumPy
generator seeded by the caller, so each ``--seed`` gives other inputs.
The ``tokens`` column is dropped: the pipeline never reads it.

Rows are written with pyarrow, not Spark, so generation costs no JVM
time and the program under test only ever sees the parquet files.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_TS = np.datetime64("2024-01-01T00:00:00", "s")
MEAN_TOKENS = 128


def keys(n_keys: int) -> list[str]:
    """All key names, hot keys first."""
    return ["web", "books"] + [f"wiki-{i}" for i in range(max(n_keys - 2, 1))]


def docs(
    seed: int,
    n_docs: int,
    n_keys: int,
    span_minutes: int,
    start_minute: int = 0,
    id_offset: int = 0,
    only_keys: list[str] | None = None,
) -> pa.Table:
    """``(doc_id string, n_tok int32, source string, event_ts timestamp)``.

    ``only_keys`` draws every row's key uniformly from that list instead
    of the skewed mix (used for small appends on a few keys);
    ``start_minute`` shifts the time window, ``id_offset`` the doc ids.
    """
    rng = np.random.default_rng(seed)
    names = np.array(keys(n_keys), dtype=object)
    if only_keys is None:
        u = rng.random(n_docs)
        idx = np.where(u < 0.3, 0, np.where(u < 0.5, 1, 2 + rng.integers(0, len(names) - 2, n_docs)))
        source = names[idx]
    else:
        source = np.array(only_keys, dtype=object)[rng.integers(0, len(only_keys), n_docs)]
    minute = start_minute + rng.integers(0, span_minutes, n_docs)
    second = rng.integers(0, 60, n_docs)
    ts = BASE_TS + (minute * 60 + second).astype("timedelta64[s]")
    n_tok = (MEAN_TOKENS // 2 + rng.integers(0, MEAN_TOKENS, n_docs)).astype(np.int32)
    ids = pa.array(np.arange(id_offset, id_offset + n_docs, dtype=np.int64)).cast(pa.string())
    doc_id = pc.binary_join_element_wise("doc-", pc.utf8_lpad(ids, 12, "0"), "")
    return pa.table(
        {
            "doc_id": doc_id,
            "n_tok": pa.array(n_tok),
            "source": pa.array(source, type=pa.string()),
            "event_ts": pa.array(ts.astype("datetime64[us]")),
        }
    )


def write(table: pa.Table, path: str, n_files: int = 8) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``."""
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))
