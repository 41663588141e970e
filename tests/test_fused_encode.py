"""Fused gap-fill+encode must equal the two-stage path byte-for-byte."""

import numpy as np

from datafiller_spark.kernels.codec import decode_points
from datafiller_spark.operators import cascade, encode_tier, model_gapfill, rollup
from datafiller_spark.operators.impute import cascade_gapfill_encode_all, model_gapfill_encode
from datafiller_spark.sources import synth_sequences


def test_fused_equals_two_stage(spark):
    seqs = synth_sequences(spark, 20000, mean_tokens=16, span_minutes=720)
    t1m = rollup(seqs, ["source"], "event_ts", "n_tok", "1m").cache()
    two = encode_tier(
        model_gapfill(t1m, ["source"], "bucket", ["avg_value"], min_samples_train=20),
        ["source"],
        "bucket",
        "avg_value",
        "1m",
    )
    one = model_gapfill_encode(t1m, ["source"], "bucket", "avg_value", "1m", min_samples_train=20)
    a = sorted((r.source, r.chunk_start, r.n_points, bytes(r.payload)) for r in two.collect())
    b = sorted((r.source, r.chunk_start, r.n_points, bytes(r.payload)) for r in one.collect())
    assert a == b
    assert len(a) > 0


def test_all_tier_kernel_matches_staged_cascade(spark):
    """One-shuffle tier chain == Spark cascade + per-tier fused kernel.

    Timestamps and point counts must match exactly; values match to
    float tolerance (the in-kernel cascade sums observed aggregates in
    time order, Spark's partial aggregation in partition order)."""
    seqs = synth_sequences(spark, 15000, mean_tokens=16, span_minutes=720, n_sources=16)
    t1m = rollup(seqs, ["source"], "event_ts", "n_tok", "1m").cache()

    all_enc = cascade_gapfill_encode_all(t1m, ["source"], min_samples_train=20)
    got = {(r.source, r.tier, r.chunk_start): r for r in all_enc.collect()}

    staged = {}
    for tier, tdf in (
        ("1m", t1m),
        ("1h", cascade(t1m, ["source"], "1h")),
        ("1d", cascade(cascade(t1m, ["source"], "1h"), ["source"], "1d")),
    ):
        enc = model_gapfill_encode(tdf, ["source"], "bucket", "avg_value", tier, min_samples_train=20)
        for r in enc.collect():
            staged[(r.source, tier, r.chunk_start)] = r

    assert set(got) == set(staged)
    for key, r in got.items():
        s = staged[key]
        assert r.n_points == s.n_points
        ts_a, va = decode_points(bytes(r.payload))
        ts_b, vb = decode_points(bytes(s.payload))
        np.testing.assert_array_equal(ts_a, ts_b)
        np.testing.assert_allclose(va, vb, rtol=1e-9, atol=1e-9, equal_nan=True)


def test_from_raw_equals_tier_mode(spark):
    """from-raw mode (1m aggregation inside the kernel, rollup shuffle
    removed) must equal tier-mode byte-for-byte on an integral value
    column: integer bucket sums are order-free, so the in-kernel
    reduceat equals the groupBy rollup exactly and everything downstream
    (avg division, fill, encode) is the same code."""
    seqs = synth_sequences(spark, 15000, mean_tokens=16, span_minutes=720, n_sources=16)
    t1m = rollup(seqs, ["source"], "event_ts", "n_tok", "1m")

    tier_mode = cascade_gapfill_encode_all(t1m, ["source"], min_samples_train=20)
    raw_mode = cascade_gapfill_encode_all(
        seqs, ["source"], min_samples_train=20,
        raw_ts_col="event_ts", raw_value_col="n_tok",
    )
    a = sorted(
        (r.source, r.tier, r.chunk_start, r.n_points, bytes(r.payload))
        for r in tier_mode.collect()
    )
    b = sorted(
        (r.source, r.tier, r.chunk_start, r.n_points, bytes(r.payload))
        for r in raw_mode.collect()
    )
    assert a == b
    assert len(a) > 0


def test_pipeline_from_raw_matches_default(spark):
    """run_pipeline(fused_from_raw=True) == run_pipeline(fused=True)."""
    from pyspark.sql import functions as F

    from datafiller_spark.plans import run_pipeline

    seqs = synth_sequences(spark, 8000, mean_tokens=16, span_minutes=360, n_sources=8)
    kw = dict(min_samples_train=20, collect_metrics=False, fused=True, gapfill=True, encode=True)
    base = run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", **kw)
    fr = run_pipeline(spark, seqs, ["source"], "event_ts", "n_tok", fused_from_raw=True, **kw)
    assert base.points == fr.points > 0

    def chunks(res):
        allc = None
        for t, df in res.encoded.items():
            allc = df if allc is None else allc.unionByName(df)
        return sorted(
            (r.source, r.tier, r.chunk_start, r.n_points, bytes(r.payload))
            for r in allc.collect()
        )

    assert chunks(base) == chunks(fr)


def test_from_raw_int32_sums_do_not_wrap(spark):
    """int32 value columns must promote to int64 inside the kernel —
    a bucket whose sum exceeds 2^31 would otherwise wrap negative."""
    import datetime

    from pyspark.sql import functions as F

    big = 1 << 30
    rows = [("s1", datetime.datetime(2024, 1, 1, 0, 0, i * 10), big) for i in range(3)]
    raw = spark.createDataFrame(rows, "source string, event_ts timestamp, n_tok int")
    t1m = rollup(raw, ["source"], "event_ts", "n_tok", "1m")
    tier_mode = cascade_gapfill_encode_all(t1m, ["source"], min_samples_train=20)
    raw_mode = cascade_gapfill_encode_all(
        raw, ["source"], min_samples_train=20, raw_ts_col="event_ts", raw_value_col="n_tok"
    )
    a = sorted((r.tier, r.chunk_start, bytes(r.payload)) for r in tier_mode.collect())
    b = sorted((r.tier, r.chunk_start, bytes(r.payload)) for r in raw_mode.collect())
    assert a == b and len(a) > 0
    # the byte-equality above is the wrap detector: an int32 reduceat
    # would make raw-mode's sum 3·2^30 − 2^32 = −2^30 and its avg
    # diverge from tier-mode's int64 sum. Also pin the decoded avg:
    ts, vals = decode_points(bytes(raw_mode.where("tier='1m'").first().payload))
    assert vals[0] == float(big)  # avg of three 2^30 values, not wrapped


def test_pipeline_fused_from_raw_misuse_raises(spark):
    import pytest

    from datafiller_spark.exceptions import EngineValueError
    from datafiller_spark.plans import run_pipeline

    seqs = synth_sequences(spark, 500, mean_tokens=8, span_minutes=60, n_sources=2)
    with pytest.raises(EngineValueError, match="fused_from_raw"):
        run_pipeline(
            spark, seqs, ["source"], "event_ts", "n_tok",
            fused_from_raw=True,  # without fused=True: must fail loudly
        )


def test_staged_grid_is_the_tier_step(spark):
    """The staged writer fills on the tier step, as the fused kernel
    does: a 1m series observed at minutes {0, 2, 5} (irregular gaps —
    inferring its step used to fail and leave it unfilled) and one at
    {0, 2, 4, 6, 8} (inferring gave a 2-minute grid) both get a 1-minute
    grid, and the staged chunks equal the fused ones byte for byte."""
    import datetime

    from datafiller_spark.plans import run_pipeline

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [("a", t0 + datetime.timedelta(minutes=m), 10 + m) for m in (0, 2, 5)]
    rows += [("b", t0 + datetime.timedelta(minutes=m), 20 + 3 * m) for m in (0, 2, 4, 6, 8)]
    raw = spark.createDataFrame(rows, "source string, event_ts timestamp, n_tok int")

    def chunks(res):
        return sorted(
            (r.source, r.tier, r.chunk_start, r.n_points, bytes(r.payload))
            for df in res.encoded.values()
            for r in df.collect()
        )

    staged = chunks(run_pipeline(spark, raw, ["source"], "event_ts", "n_tok"))
    fused = chunks(
        run_pipeline(spark, raw, ["source"], "event_ts", "n_tok", fused=True, collect_metrics=False)
    )
    assert staged == fused
    points_1m = {src: n for src, tier, _, n, _ in staged if tier == "1m"}
    assert points_1m == {"a": 6, "b": 9}
    ts, vals = decode_points(dict(((s, t), p) for s, t, _, _, p in staged)[("a", "1m")])
    np.testing.assert_array_equal(np.diff(ts), 60)
    assert not np.isnan(vals).any()
