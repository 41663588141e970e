"""The two workloads. Each one generates its inputs from the run's
seed, warms the session on a small input of the same shape, runs its
operations in a closed loop (one client, the next call starts when the
previous one returns) for the run's seconds, then checks the outputs.
With tracing on, the same workload also records per-layer spans and
Spark stage metrics.

Every call into the program uses only public functions and keyword
arguments that exist in ``datafiller_spark`` today; ``CALLS`` lists them
and each run prints its workload's entry.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time

import duckdb
import numpy as np
import pandas as pd

from datafiller_spark.operators import cascade_gapfill_encode_all, rollup
from datafiller_spark.plans import (
    apply_chunk_retention,
    apply_retention,
    incremental_filter,
    latest_snapshot_id,
    read_high_water,
    run_pipeline,
    scan_chunks,
    write_high_water,
)
from datafiller_spark.plans.pipeline import salted_rollup

from perfbench import checks, gen, kernels
from perfbench.trace import SparkRest

KEYS = ["source"]
TS, VALUE = "event_ts", "n_tok"
TIERS = ("1m", "1h", "1d")
_PERIOD = {"1m": pd.offsets.Day(1), "1h": pd.offsets.MonthBegin(1), "1d": pd.offsets.YearBegin(1)}
SAMPLE_KEYS = ["web", "wiki-0", "wiki-1", "wiki-2"]  # kernel timings: hot + fixed cold keys

CALLS = {
    "rollup_ingest": "run_pipeline(fused=True, collect_metrics=False)",
    "warehouse_read": "run_pipeline(output_dir); scan_chunks(tier, start, end); "
    "apply_chunk_retention(tier, keep_after); apply_retention(tier, keep_after)",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "rollup.wall_s": "s",
    "rollup.executor_cpu_s": "s",
    "rollup.shuffle_write_bytes": "bytes",
    "rollup.shuffle_read_bytes": "bytes",
    "rollup.spill_bytes": "bytes",
    "rollup.rows_out": "count",
    "impute.wall_s": "s",
    "impute.executor_cpu_s": "s",
    "impute.python_cpu_s": "s",
    "impute.shuffle_write_bytes": "bytes",
    "impute.spill_bytes": "bytes",
    "impute.task_max_over_median": "ratio",
    "impute.series": "count",
    "impute.chunks_out": "count",
    "kernel.impute_ms.1m": "ms",
    "kernel.impute_ms.1h": "ms",
    "kernel.impute_ms.1d": "ms",
    "kernel.interp_ms.1m": "ms",
    "kernel.lag_matrix_ms.1m": "ms",
    "kernel.time_features_ms.1m": "ms",
    "kernel.solve_ms.1m": "ms",
    "kernel.fill.interp": "count",
    "kernel.fill.model": "count",
    "kernel.fill.fallback": "count",
    "codec.encode_ms.1m": "ms",
    "codec.decode_ms.1m": "ms",
    "codec.bytes_per_point.1m": "B/point",
    "codec.bytes_per_point.1h": "B/point",
    "codec.bytes_per_point.1d": "B/point",
    "write.files": "count",
    "write.bytes": "bytes",
    "write.bytes_rewritten_per_delta_byte": "ratio",
    "spark.jobs": "count",
    "checkpoint.read_high_water_s": "s",
    "checkpoint.write_high_water_s": "s",
    "checkpoint.rows_scanned_per_row_kept": "ratio",
    "read.chunk_rows_scanned": "count",
    "read.pruning_ratio": "ratio",
    "read.input_bytes": "bytes",
    "read.decode_s": "s",
    "retention.chunks_reencoded": "count",
    "retention.bytes_rewritten": "bytes",
    "trace.overhead_s": "s",
    "trace.cpu_coverage": "ratio",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _files(path: str) -> dict[str, tuple[int, int]]:
    """``relative path -> (size, mtime_ns)`` of every file under ``path``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.relpath(os.path.join(d, n), path)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    """Data files and bytes that are new or rewritten in ``after``."""
    new = [k for k, v in after.items() if before.get(k) != v and k.endswith(".parquet")]
    return len(new), sum(after[k][0] for k in new)


def _dir_bytes(path: str) -> int:
    return sum(size for size, _ in _files(path).values())


def _chunks(path_glob: str) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT source, tier, chunk_start, n_points, payload "
        f"FROM read_parquet('{path_glob}', hive_partitioning = true, union_by_name = true)"
    ).df()


def _epoch_s(ts: pd.Series) -> np.ndarray:
    return ts.astype("datetime64[s]").astype("int64").to_numpy()


def _room_for_another(t0: float, seconds: float, last_wall: float) -> bool:
    """Whether one more operation as long as the last one still ends
    within the run's measuring time."""
    return time.perf_counter() - t0 + last_wall <= seconds


def _first(b, kind: str) -> dict | None:
    """The first successful operation of one kind, or None."""
    ops = b.ops_of(kind)
    return ops[0] if ops else None


def _reencoded(before: pd.DataFrame, after: pd.DataFrame) -> int:
    """Chunks of ``after`` whose payload is not byte-identical to the
    same (key, chunk_start) in ``before``, new chunks included."""
    old = {(r.source, r.chunk_start): bytes(r.payload) for r in before.itertuples()}
    return sum(old.get((r.source, r.chunk_start)) != bytes(r.payload) for r in after.itertuples())


def _zero_layers(b) -> None:
    for k in LAYER_UNITS:
        b.layer.setdefault(k, 0.0)


def _kernel_layers(b, table) -> None:
    with b.tracer.span("kernels"):
        b.layer.update(kernels.measure(kernels.tier_series(table, SAMPLE_KEYS)))


def _peak_rss(b, ops: list[dict]) -> None:
    """Median over the workload's main calls of each call's sampled peak
    summed RSS: one transient spike does not set the figure."""
    b.metrics["peak_rss_mb"] = _median([o["peak_rss_mb"] for o in ops])


class RollupIngest:
    """No warehouse: scan -> 1m rollup -> fused cascade/gap-fill/encode
    kernel -> stats, as the frozen bench.py calls it. An eighth of the
    bench.py shape (2M docs / 2,048 keys) with the same 5,760-minute
    series and per-key density, so per-series kernel cost is unchanged
    and several calls fit in a run."""

    DOCS, N_KEYS, MINUTES = 250_000, 256, 5760
    SETTLE_CALLS = 2
    MIN_CALLS = 3  # timed calls, however slow the host, for a median of three
    CALL = dict(fused=True, collect_metrics=False)

    def inputs(self, b) -> None:
        self.table = gen.docs(b.seed, self.DOCS, self.N_KEYS, self.MINUTES)
        self.main = b.path("in", "main")
        gen.write(self.table, self.main)
        self.warm_in = b.path("in", "warm")
        gen.write(gen.docs(b.seed + 1, self.DOCS // 16, self.N_KEYS // 16, self.MINUTES), self.warm_in)

    def _pipeline(self, b, path: str):
        return run_pipeline(b.spark, b.spark.read.parquet(path), KEYS, TS, VALUE, **self.CALL)

    def warm(self, b, i: int) -> None:
        self._pipeline(b, self.warm_in)

    def prepare(self, b) -> None:
        """Nothing to build: the input files are the workload's data."""

    def settle(self, b) -> None:
        """Untimed full-size calls in the session the timed calls use. The
        first full-size calls in a new SparkContext cost the JVM up to
        twice the CPU of later ones (about 4.5 s against 2.5 s on a 4-core
        host); a slow run fits fewer timed calls, so without these its
        median would also carry more of that warm-up."""
        for _ in range(self.SETTLE_CALLS):
            self._pipeline(b, self.main)
            b.spark.catalog.clearCache()

    def run(self, b) -> None:
        self.chunks = None
        t0 = time.perf_counter()
        for n in itertools.count(1):
            ok, res, rec = b.op("run_pipeline", lambda: self._pipeline(b, self.main))
            last = b.trace or (
                n >= self.MIN_CALLS
                and not _room_for_another(t0, b.seconds, rec["wall_s"])
            )
            if ok:
                rec["points"] = res.points
                rec["bytes"] = sum(res.counters[f"tier_{t}_bytes"] for t in TIERS)
                if last:
                    self.chunks = pd.concat([res.encoded[t].toPandas() for t in TIERS])
                    self.observed = (
                        res.tiers["1m"]
                        .select(*KEYS, "bucket", "n_points", "sum_value", "avg_value")
                        .toPandas()
                    )
            b.spark.catalog.clearCache()
            if last:
                break
        if b.trace and self.chunks is not None:
            self._layered(b)

    def _layered(self, b) -> None:
        """run_pipeline's fused no-warehouse path, one layer at a time,
        each materialized inside its own span and job group."""
        from pyspark.sql import functions as F

        raw = b.spark.read.parquet(self.main)

        def rollup_layer():
            t1m = rollup(raw, KEYS, TS, VALUE, "1m").cache()
            return t1m, t1m.count()

        def impute_layer():
            enc = cascade_gapfill_encode_all(
                t1m, KEYS, min_samples_train=20, interpolate_gaps_less_than=4
            ).cache()
            return enc, enc.count()

        def stats_layer():
            agg = enc.groupBy("tier").agg(F.sum("n_points").alias("pts"))
            return sum(r["pts"] for r in agg.collect())

        self.layered_points = None
        with b.tracer.span("pipeline.layered") as outer:
            ok, res, _ = b.op("rollup", rollup_layer)
            if ok:
                t1m, self.rows_1m = res
                ok, res, _ = b.op("impute", impute_layer)
            if ok:
                enc, self.chunks_out = res
                _, self.layered_points, _ = b.op("stats", stats_layer)
        self.outer = outer
        b.spark.catalog.clearCache()

    def check(self, b) -> None:
        if self.chunks is None:  # the last run_pipeline call failed: nothing to check
            b.checks["rollup_1m_equals_oracle"] = False
            return
        want = {t: checks.oracle_rollup([self.main], t) for t in TIERS}
        b.checks["rollup_1m_equals_oracle"] = checks.same_rollup(self.observed, want["1m"])
        b.checks.update(checks.check_chunks(self.chunks, want))
        b.report["payload_digest"] = checks.digest(self.chunks)
        b.report["observed_1m_share"] = round(
            len(want["1m"]) / int(self.chunks[self.chunks["tier"] == "1m"]["n_points"].sum()), 4
        )
        self.n_series = int(want["1m"]["source"].nunique())
        if b.trace:
            b.checks["layered_points_equal_run_pipeline"] = (
                self.layered_points == b.ops_of("run_pipeline")[0]["points"]
            )
            return
        ops = b.ops_of("run_pipeline")
        b.metrics["points_per_s"] = _median([o["points"] / o["wall_s"] for o in ops])
        b.metrics["cpu_s_per_mpoint"] = _median(
            [o["cpu_s"]["total"] / (o["points"] / 1e6) for o in ops]
        )
        b.metrics["op_p50_ms"] = _median([o["wall_s"] * 1000 for o in ops])
        _peak_rss(b, ops)
        b.metrics["bytes_per_point"] = sum(o["bytes"] for o in ops) / sum(o["points"] for o in ops)

    def layers(self, b) -> None:
        b.rest.settle()
        pipe = _first(b, "run_pipeline")
        if pipe is not None:
            b.layer["spark.jobs"] = b.rest.totals(pipe["group"])["jobs"]
        for layer, kind in (("rollup", "rollup"), ("impute", "impute")):
            op = _first(b, kind)
            if op is None:
                continue
            tot = b.rest.totals(op["group"])
            b.layer[f"{layer}.wall_s"] = op["wall_s"]
            for k in ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes"):
                b.layer[f"{layer}.{k}"] = tot[k]
            if layer == "rollup":
                b.layer["rollup.shuffle_read_bytes"] = tot["shuffle_read_bytes"]
                b.layer["rollup.rows_out"] = self.rows_1m
            else:
                b.layer["impute.python_cpu_s"] = op["cpu_s"]["python"]
                b.layer["impute.task_max_over_median"] = tot["task_max_over_median"]
                b.layer["impute.series"] = self.n_series
                b.layer["impute.chunks_out"] = self.chunks_out
        named_ops = [_first(b, k) for k in ("rollup", "impute", "stats")]
        if pipe is not None and None not in named_ops:
            # coverage against the OS CPU of the traced run_pipeline call:
            # the named layers, replayed one at a time, must account for
            # what the whole pipeline spends
            pipe_cpu = pipe["cpu_s"]["total"]
            named = sum(o["cpu_s"]["total"] for o in named_ops)
            b.layer["trace.overhead_s"] = self.outer["wall_s"] - pipe["wall_s"]
            b.layer["trace.cpu_coverage"] = named / pipe_cpu
            b.report["run_pipeline_cpu_s"] = round(pipe_cpu, 3)
            b.report["named_layer_cpu_s"] = round(named, 3)
            b.report["cpu_unattributed_s"] = round(pipe_cpu - named, 3)
            # the same layers against the replay's own span: the CPU that
            # ran between the layer spans
            b.report["replay_cpu_coverage"] = round(named / self.outer["cpu_s"]["total"], 4)
        b.checks["trace_cpu_coverage_at_least_0.9"] = b.layer.get("trace.cpu_coverage", 0.0) >= 0.9
        _kernel_layers(b, self.table)
        _zero_layers(b)


class WarehouseRead:
    """A small warehouse built once in set-up by the default
    ``run_pipeline(output_dir=...)`` call (the staged writer, whose
    ``chunks_tier=<t>`` layout the readers accept). Each run copies it,
    makes seeded ``scan_chunks`` range reads across tiers and window
    widths for the run's seconds, then runs chunk retention and tier
    retention on the copy. No kernel or rollup runs in the timed part.

    At this size a read's wall is the Spark query and the ``decode_tier``
    Python-worker round trip, not the Gorilla arithmetic or pruning; the
    traced run reports both beside the read wall. A 16-key, 7-day
    warehouse spread twice as much between runs on a 4-core host."""

    DOCS, N_KEYS, MINUTES = 10_000, 8, 2 * 1440
    CYCLE = [
        ("1m", 3600),
        ("1m", 6 * 3600),
        ("1m", 86400),
        ("1h", 12 * 3600),
        ("1h", 2 * 86400),
        ("1d", 2 * 86400),
    ]
    # at least this many timed cycles (12 reads), however slow the host:
    # on a busy 4-core host one cycle can take half the run's seconds
    MIN_CYCLES = 2
    APPEND_DOCS = 200  # traced run only: a one-hour append on one key for the resume probe

    def inputs(self, b) -> None:
        self.table = gen.docs(b.seed, self.DOCS, self.N_KEYS, self.MINUTES)
        self.main = b.path("in", "main")
        gen.write(self.table, self.main)
        rng = np.random.default_rng(b.seed + 11)
        span = self.MINUTES * 60
        t0 = int(gen.BASE_TS.astype(np.int64))
        # fixed (tier, width) cycles, seeded starts: every run reads the
        # same mix, so rows per read do not depend on the seed
        self.cycles = []
        for _ in range(200):
            starts = [t0 + int(rng.integers(0, span - width + 1)) for _, width in self.CYCLE]
            self.cycles.append(
                [(tier, s, s + width) for (tier, width), s in zip(self.CYCLE, starts)]
            )
        self.keep_after = t0 + int(rng.integers(span // 3, 2 * span // 3))
        key = str(rng.choice(gen.keys(self.N_KEYS)[2:]))
        self.append = b.path("in", "append")
        gen.write(
            gen.docs(b.seed + 3, self.APPEND_DOCS, self.N_KEYS, 60, self.MINUTES, 10**9, [key]),
            self.append,
            n_files=1,
        )

    def prepare(self, b) -> None:
        self.master = b.path("wh_master")
        with b.tracer.span("build") as span:
            raw = b.spark.read.parquet(self.main)
            run_pipeline(b.spark, raw, KEYS, TS, VALUE, output_dir=self.master)
        files = _files(self.master)
        self.build_files, self.build_bytes = _written({}, files)
        self.wh = b.path("wh")  # what the timed part reads and retention cuts
        shutil.copytree(self.master, self.wh)
        b.report["warehouse_files"] = len(files)
        if b.trace:
            # later set-up repetitions replace this SparkContext and its UI
            rest = SparkRest(b.spark)
            rest.settle()
            self.build_jobs = rest.totals(span["group"])["jobs"]

    def settle(self, b) -> None:
        """The set-up repetitions' warm reads already ran in this session,
        on the copy the timed reads use."""

    def _read(self, b, wh: str, tier: str, start: int, end: int) -> pd.DataFrame:
        window = [pd.Timestamp(t, unit="s").to_pydatetime() for t in (start, end)]
        return scan_chunks(b.spark, wh, tier, KEYS, *window).toPandas()

    def warm(self, b, i: int) -> None:
        # every tier shares the read path; the first read of a directory
        # in a session costs more, so warm the copy the timed reads use
        tier, start, end = self.cycles[-1][0]
        self._read(b, self.wh, tier, start, end)

    def run(self, b) -> None:
        wh = self.wh
        self.after = None
        self.want = {t: checks.oracle_rollup([self.main], t) for t in TIERS}
        t0 = time.perf_counter()
        reads_ok = True
        for n, cycle in enumerate(self.cycles, 1):
            c0 = time.perf_counter()
            for tier, start, stop in cycle:
                ok, got, rec = b.op("scan_chunks", lambda: self._read(b, wh, tier, start, stop))
                rec["tier"], rec["window"] = tier, (start, stop)
                if ok:
                    rec["rows"] = len(got)
                reads_ok &= ok and checks.check_read(got, self.want[tier], tier, start, stop)
            if b.trace or (
                n >= self.MIN_CYCLES
                and not _room_for_another(t0, b.seconds, time.perf_counter() - c0)
            ):
                break
        b.checks["reads_match_oracle"] = reads_ok
        if b.trace:
            self._probe(b)
        self.chunks_index = _chunks(f"{wh}/chunks_tier=*/*.parquet")
        self.chunks_before = self.chunks_index[self.chunks_index["tier"] == "1m"]
        keep = pd.Timestamp(self.keep_after, unit="s").to_pydatetime()
        before = _files(wh)
        _, retained, _ = b.op(
            "apply_chunk_retention", lambda: apply_chunk_retention(b.spark, wh, "1m", KEYS, keep)
        )
        b.report["chunks_retained"] = retained
        b.op("apply_retention", lambda: apply_retention(b.spark, wh, "1m", keep))
        self.retention_bytes = _written(before, _files(wh))[1]
        # read back after retention, from one day before the cut-off
        window = (self.keep_after - 86400, self.keep_after + self.MINUTES * 60)
        _, self.after, _ = b.op("read_after_retention", lambda: self._read(b, wh, "1m", *window))

    def _probe(self, b) -> None:
        """Traced run only, on a second copy: one resume with a small
        append through the same default call, then the resume's layers
        replayed through their public functions on the same inputs (the
        high-water read pinned to the resume's anchor, the incremental
        filter, the salted rollup of the delta, and the high-water write
        into a scratch directory)."""
        spark, wh = b.spark, b.path("wh_probe")
        shutil.copytree(self.master, wh)
        anchor = latest_snapshot_id(spark, wh)
        raw = spark.read.parquet(self.main, self.append)
        before = _files(wh)
        ok, _, rec = b.op(
            "resume", lambda: run_pipeline(spark, raw, KEYS, TS, VALUE, output_dir=wh, resume=True)
        )
        rec["files"], rec["bytes"] = _written(before, _files(wh))
        rec["delta_bytes"] = _dir_bytes(self.append)
        spark.catalog.clearCache()
        if not ok:
            return

        def read_hw():
            hw = read_high_water(spark, wh, snapshot_id=anchor)
            return hw, hw.count()

        ok, res, _ = b.op("read_high_water", read_hw)
        if not ok:
            return
        hw = res[0]

        def filter_layer():
            d = incremental_filter(raw, hw, KEYS, TS)
            return d, d.count()

        ok, res, rec = b.op("incremental_filter", filter_layer)
        if not ok:
            return
        delta_raw, rec["kept"] = res

        def rollup_layer():
            d = salted_rollup(
                delta_raw, KEYS, TS, VALUE, "1m", salt_buckets=16, salt_col="doc_id"
            ).cache()
            return d, d.count()

        ok, res, rec = b.op("rollup", rollup_layer)
        if ok:
            delta, rec["rows"] = res
            b.op(
                "write_high_water",
                lambda: write_high_water(delta, KEYS, b.path("hw_probe"), prior=hw),
            )
        spark.catalog.clearCache()

    def check(self, b) -> None:
        wh, keep = self.wh, self.keep_after
        obs = self.want["1m"]
        tier1m = duckdb.sql(
            "SELECT source, bucket, n_points, sum_value, avg_value "
            f"FROM read_parquet('{wh}/tier=1m/*.parquet')"
        ).df()
        b.checks["tier_retention_keeps_only_after"] = checks.same_rollup(
            tier1m, obs[obs["bucket_s"] >= keep].reset_index(drop=True)
        )
        after = self.after
        b.checks["chunk_retention_keeps_only_after"] = (
            after is not None
            and checks.check_read(after, obs, "1m", keep, keep + self.MINUTES * 60)
            and bool((_epoch_s(after["bucket"]) >= keep).all())
        )
        chunks = _chunks(f"{self.master}/chunks_tier=*/*.parquet")
        b.checks.update(checks.check_chunks(chunks, self.want))
        b.report["payload_digest"] = checks.digest(chunks)
        b.report["retention_s"] = round(
            sum(o["wall_s"] for o in b.ops if o["kind"].startswith("apply_")), 4
        )
        stored = int(chunks["n_points"].sum())
        b.report["warehouse_bytes_per_point"] = round(_dir_bytes(self.master) / stored, 4)
        reads = b.ops_of("scan_chunks")
        if not reads:
            return
        walls = sorted(o["wall_s"] * 1000 for o in reads)
        b.report["read_p50_ms"] = round(_median(walls), 3)
        b.report["read_p90_ms"] = round(walls[int(0.9 * (len(walls) - 1))], 3)
        b.report["reads"] = len(reads)
        if b.trace:
            return
        rows = sum(o["rows"] for o in reads)
        b.metrics["points_per_s"] = rows / sum(o["wall_s"] for o in reads)
        b.metrics["cpu_s_per_mpoint"] = sum(o["cpu_s"]["total"] for o in reads) / (rows / 1e6)
        b.metrics["op_p50_ms"] = _median(walls)
        b.metrics["bytes_per_point"] = sum(len(p) for p in chunks["payload"]) / stored
        _peak_rss(b, reads)

    def layers(self, b) -> None:
        b.rest.settle()
        reads = b.ops_of("scan_chunks")
        scanned = intersecting = in_bytes = 0
        for o in reads:
            tot = b.rest.totals(o["group"])
            scanned += tot["input_records"]
            in_bytes += tot["input_bytes"]
            start, stop = o["window"]
            cs = self.chunks_index.loc[self.chunks_index["tier"] == o["tier"], "chunk_start"]
            first = _epoch_s(cs)
            past = _epoch_s(cs + _PERIOD[o["tier"]])
            intersecting += int(((first < stop) & (past > start)).sum())
        if reads:
            b.layer["read.chunk_rows_scanned"] = scanned / len(reads)
            b.layer["read.pruning_ratio"] = scanned / intersecting if intersecting else 0.0
            b.layer["read.input_bytes"] = in_bytes / len(reads)
            b.layer["read.decode_s"] = _median([o["cpu_s"]["python"] for o in reads])
            # how much of a read the layers account for: the Python
            # workers' CPU (decode_tier) and the scan against read wall
            b.report["read_wall_s_p50"] = round(_median([o["wall_s"] for o in reads]), 4)
            b.report["read_python_cpu_share_of_wall"] = round(
                _median([o["cpu_s"]["python"] / o["wall_s"] for o in reads]), 4
            )
            b.report["read_rows_per_read"] = round(_median([o["rows"] for o in reads]), 1)
        after = _chunks(f"{self.wh}/chunks_tier=1m/*.parquet")
        b.layer["retention.chunks_reencoded"] = _reencoded(self.chunks_before, after)
        b.layer["retention.bytes_rewritten"] = self.retention_bytes
        b.layer["write.files"] = self.build_files
        b.layer["write.bytes"] = self.build_bytes
        b.layer["spark.jobs"] = self.build_jobs
        resume = _first(b, "resume")
        if resume is not None:
            b.layer["write.bytes_rewritten_per_delta_byte"] = resume["bytes"] / resume["delta_bytes"]
        for kind in ("read_high_water", "write_high_water"):
            if _first(b, kind) is not None:
                b.layer[f"checkpoint.{kind}_s"] = _first(b, kind)["wall_s"]
        filt = _first(b, "incremental_filter")
        if filt is not None:
            # rows the filter's own jobs read, from Spark, per row it kept
            scanned = b.rest.totals(filt["group"])["input_records"]
            b.layer["checkpoint.rows_scanned_per_row_kept"] = scanned / filt["kept"]
        rollup_op = _first(b, "rollup")
        if rollup_op is not None:
            tot = b.rest.totals(rollup_op["group"])
            b.layer["rollup.wall_s"] = rollup_op["wall_s"]
            b.layer["rollup.rows_out"] = rollup_op["rows"]
            for k in ("executor_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
                b.layer[f"rollup.{k}"] = tot[k]
        _kernel_layers(b, self.table)
        _zero_layers(b)


WORKLOADS = {
    "rollup_ingest": RollupIngest(),
    "warehouse_read": WarehouseRead(),
}
