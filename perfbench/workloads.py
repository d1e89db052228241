"""The benchmark's workloads.

Each workload drives the engine only through its public functions, makes
its inputs from the seed (cached per workload, seed and size), runs one
fixed-size *iteration* at a time (a streaming query drained to completion,
or one batch query), and checks what the iterations committed.

* ``stream_join`` — the stateful path: time-ordered 6 h slices through the
  watermarked position ⋈ sunrise stream-stream join, one file per trigger,
  so per-batch fixed cost, the shuffle and the state store dominate.
* ``sweep_batch`` — the reference's bulk-calculator shape: a 5° grid times
  hourly instants; each instant is shared by every grid point, so the hoist
  makes the time-dependent series nearly free and the SPA location half and
  Arrow IPC dominate. A time-series optimisation should not move it.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solarpos_spark import codec
from solarpos_spark.kernels import spa as spa_kernel
from solarpos_spark.kernels import sunrise as sunrise_kernel
from solarpos_spark.operators.position import position
from solarpos_spark.plans.session import ARROW_MAX_RECORDS_PER_BATCH
from solarpos_spark.sinks.exactly_once import exactly_once_parquet_sink
from solarpos_spark.sources import inputs
from solarpos_spark.sources import tokens as tok
from solarpos_spark.streaming import pipeline as sp

from . import oracle
from .trace import Tracer

RECORDS_PER_DOC = 8
DELTA_T = 69.0  # the token generator's ΔT
_2020 = 1577836800  # 2020-01-01T00:00:00Z
_DAY = 86400


@dataclass
class Iteration:
    """One timed operation and what it produced."""

    label: str  # the iteration's output partition, ``it=<label>``
    tag: str  # job group (batch) or streaming run id, to find its jobs
    start: float  # epoch seconds
    end: float
    rows: int  # records the query committed (streaming) or produced (batch)
    progress: list[dict] = field(default_factory=list)  # streaming only
    ok: bool = True
    error: str = ""

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class CheckResult:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    committed: dict[str, int] = field(default_factory=dict)  # per iteration

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def _progress_dicts(query) -> list[dict]:
    return [json.loads(json.dumps(p, default=str)) for p in query.recentProgress]


def _timed_min(fn, reps: int = 3) -> float:
    """Best-of-``reps`` wall seconds of ``fn()``."""
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def spa_kernel_costs(ts: np.ndarray, lat: np.ndarray, lon: np.ndarray,
                     elev: np.ndarray, dt: np.ndarray, press: np.ndarray,
                     temp: np.ndarray) -> dict[str, float]:
    """Single-thread SPA layer costs on one Arrow batch of rows: the
    time-dependent series per unique instant, the location half per row,
    the whole hoisted call per row, and the hoist itself as the rest."""
    n = ts.shape[0]
    uniq = np.unique(np.stack([ts, dt], axis=1), axis=0)
    td_s = _timed_min(lambda: spa_kernel.time_dependent_parts(uniq[:, 0], uniq[:, 1]))
    td_rows = spa_kernel.time_dependent_parts(ts, dt)
    loc_s = _timed_min(lambda: spa_kernel.position_from_time_dependent(
        td_rows, lat, lon, elev, press, temp))
    full_s = _timed_min(lambda: spa_kernel.solar_position(
        ts, lat, lon, elev, dt, press, temp))
    return {
        "kernels.spa.td_ns_per_instant": td_s * 1e9 / uniq.shape[0],
        "kernels.spa.loc_ns_per_row": loc_s * 1e9 / n,
        "kernels.spa.solar_position_ns_per_row": full_s * 1e9 / n,
        "kernels.spa.hoist_ns_per_row": max(full_s - td_s - loc_s, 0.0) * 1e9 / n,
        "kernels.spa.hoist_ratio": uniq.shape[0] / n,
    }


class Workload:
    """Shared driver for one workload; subclasses define the inputs and
    what one iteration runs."""

    name = ""
    streaming = True
    #: how many times one micro-batch scans the source (a self-join reads
    #: it once per side, and the progress counts both)
    source_scans = 1

    def __init__(self, seed: int, cache_dir: str, run_dir: str, cores: int):
        self.seed = seed
        self.cores = cores
        self.run_dir = run_dir
        self.in_dir = os.path.join(cache_dir, f"{self.name}-seed{seed}-{self.size_key()}")
        self.out_root = os.path.join(run_dir, "out")
        #: prefix of iteration labels, so a traced and an untraced pass in
        #: one run commit to different partitions
        self.pass_name = "u"

    # -- inputs ---------------------------------------------------------
    def size_key(self) -> str:
        raise NotImplementedError

    def prepare(self, spark: SparkSession) -> None:
        """Make the seeded inputs unless a complete cached copy exists."""
        done = os.path.join(self.in_dir, ".complete")
        if os.path.exists(done):
            return
        shutil.rmtree(self.in_dir, ignore_errors=True)
        os.makedirs(self.in_dir)
        self._generate(spark)
        open(done, "w").close()

    def _generate(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def input_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.in_dir, "*.parquet")))

    # -- iterations -----------------------------------------------------
    def warm_workers(self, spark: SparkSession) -> None:
        """One small job through the Python operators this workload runs,
        one task per core, so every Python worker it needs is forked and has
        imported the engine. Part of set-up."""
        _hash(position(tok.decode_tokens(self._local_tokens(spark)),
                       ts_col="unix_sec", time_is_unix=True))

    def _local_tokens(self, spark: SparkSession) -> DataFrame:
        """A small token table held in the plan (no Python worker reads it),
        one partition per core."""
        n = self.cores * 64
        recs = codec.encode_records(lat=np.zeros(n), lon=np.zeros(n),
                                    unix_sec=np.full(n, _2020))
        pdf = pd.DataFrame({"doc_id": [f"w{i}" for i in range(n)],
                            "tokens": list(recs), "n_tok": codec.TOKENS_PER_RECORD,
                            "source": "warm"})
        return spark.createDataFrame(pdf, schema=tok.TOKEN_SCHEMA).repartition(self.cores)

    def warm(self, spark: SparkSession, tracer: Tracer) -> None:
        """Untimed iterations of the same plan before timing, so JIT
        compilation and lazy initialisation are done. None by default."""

    def run_once(self, spark: SparkSession, i: int, tracer: Tracer,
                 timeout_s: float) -> Iteration:
        raise NotImplementedError

    def check(self, spark: SparkSession, its: list[Iteration]) -> CheckResult:
        """Output checks of the timed iterations; each is one operation."""
        raise NotImplementedError

    def kernel_bench(self) -> dict[str, float]:
        raise NotImplementedError

    # -- helpers ----------------------------------------------------------
    def _stream(self, spark: SparkSession, tracer: Tracer, in_dir: str,
                label: str, build, timeout_s: float,
                files_per_trigger: int) -> Iteration:
        """Run one availableNow streaming query over ``in_dir`` to its end,
        committing under ``it=<label>``."""
        out = os.path.join(self.out_root, f"it={label}")
        ckpt = os.path.join(self.run_dir, "ckpt", label)
        t0 = time.time()
        with tracer.span("iteration", None, start=t0):
            with tracer.span("sources.read_token_stream", "sources"):
                stream = tok.read_token_stream(
                    spark, in_dir, max_files_per_trigger=files_per_trigger)
            result = build(stream, tracer)
            with tracer.span("sinks.exactly_once_parquet_sink", "sinks.exactly_once"):
                q = exactly_once_parquet_sink(result, out, ckpt,
                                              trigger_available_now=True)
            it = Iteration(label=label, tag=str(q.runId), start=t0, end=t0, rows=0)
            try:
                if not q.awaitTermination(max(timeout_s, 1.0)):
                    it.ok, it.error = False, "query did not finish in time"
                    q.stop()
            except Exception as e:  # StreamingQueryException: record, go on
                it.ok, it.error = False, f"query failed: {e}"
            it.end = time.time()
        it.progress = _progress_dicts(q)
        it.rows = sum(self.batch_records(p) for p in it.progress)
        tracer.tag_last_root(it.tag)
        return it

    def batch_records(self, progress: dict) -> int:
        """Input records of one micro-batch."""
        return progress["numInputRows"] * RECORDS_PER_DOC // self.source_scans

    def _stream_checks(self, its: list[Iteration], expected_records: int,
                       res: CheckResult) -> None:
        """Exactly-once accounting: per micro-batch, committed rows equal the
        batch's input records; per query, all input records are committed
        once, with no duplicate (doc_id, seq_index)."""
        per_batch, per_query = oracle.committed_counts(self.out_root)
        for it in its:
            res.record(it.ok, f"iteration {it.label}: {it.error}")
            for p in it.progress:
                if p["numInputRows"] == 0:
                    continue
                got = per_batch.get((it.label, p["batchId"]), 0)
                want = self.batch_records(p)
                res.record(got == want, f"iteration {it.label} batch "
                           f"{p['batchId']}: committed {got} of {want}")
            n, n_keys = per_query.get(it.label, (0, 0))
            res.committed[it.label] = n
            res.record(n == expected_records and n_keys == n,
                       f"iteration {it.label}: committed {n} rows, {n_keys} "
                       f"distinct keys, expected {expected_records}")

    def out_dir(self, it: Iteration) -> str:
        return os.path.join(self.out_root, f"it={it.label}")

    def _sample_docs(self, prefixes: list[str], docs_per_prefix: int,
                     n_docs: int, k: int) -> list[str]:
        rng = random.Random(self.seed)
        return [f"{p}{d}" for p in prefixes
                for d in rng.sample(range(docs_per_prefix), k)][:n_docs]

    def _token_slab(self, path: str) -> np.ndarray:
        toks = pq.read_table(path, columns=["tokens"]).column("tokens").combine_chunks()
        flat = toks.values.to_numpy(zero_copy_only=False)
        return flat.reshape(-1, codec.TOKENS_PER_RECORD)


class StreamJoin(Workload):
    name = "stream_join"
    N_SLICES = 5
    SLICE_S = 6 * 3600  # each file holds the next 6 h of event time
    DOCS_PER_SLICE = 375  # 3k records per file
    source_scans = 2  # position and sunrise sides each decode the stream

    def size_key(self) -> str:
        # "s": every slice has its own seed, so no (lat, lon, day) key
        # repeats across slices
        return f"{self.N_SLICES}x{self.DOCS_PER_SLICE}s"

    def _t0(self) -> int:
        """Seeded, day-aligned start in 2020-2029."""
        return _2020 + random.Random(self.seed).randrange(3650) * _DAY

    def _generate(self, spark: SparkSession) -> None:
        t0 = self._t0()
        slices = [
            tok.generate_token_sequences(
                spark, self.DOCS_PER_SLICE, records_per_doc=RECORDS_PER_DOC,
                seed=self.seed * 1000 + i, partitions=1, ts_lo=lo,
                ts_hi=lo + self.SLICE_S - 1, doc_prefix=f"s{i:02d}-")
            for i, lo in enumerate(range(t0, t0 + self.N_SLICES * self.SLICE_S,
                                         self.SLICE_S))]
        union = slices[0]
        for df in slices[1:]:
            union = union.union(df)
        tmp = os.path.join(self.in_dir, "_tmp")
        # one job; one directory (and file) per slice, named by the doc prefix
        union.withColumn("slice", F.substring("doc_id", 2, 2)) \
            .write.partitionBy("slice").parquet(tmp)
        for i in range(self.N_SLICES):
            (part,) = glob.glob(os.path.join(tmp, f"slice={i:02d}", "part-*.parquet"))
            dst = os.path.join(self.in_dir, f"slice-{i:02d}.parquet")
            os.rename(part, dst)
            # the file source takes files oldest first: pin the slice order
            os.utime(dst, (t0 + i, t0 + i))
        shutil.rmtree(tmp)

    @staticmethod
    def _build(stream: DataFrame, tracer: Tracer) -> DataFrame:
        with tracer.span("streaming.decoded_stream", "streaming"):
            dec = sp.decoded_stream(stream, watermark="1 hour")
        with tracer.span("streaming.position_sunrise_join", "streaming"):
            return sp.position_sunrise_join(dec)

    def warm(self, spark, tracer):
        # the first micro-batch of the first query compiles the join and sets
        # up the state store: run it on the first slice, then stop
        warm_in = os.path.join(self.run_dir, f"warm_in-{self.pass_name}")
        os.makedirs(warm_in)
        shutil.copy2(self.input_files()[0], warm_in)
        label = f"warm-{self.pass_name}"
        q = exactly_once_parquet_sink(
            self._build(tok.read_token_stream(spark, warm_in, 1), tracer),
            os.path.join(self.out_root, f"it={label}"),
            os.path.join(self.run_dir, "ckpt", label), trigger_available_now=True)
        deadline = time.time() + 120
        while q.isActive and time.time() < deadline:
            p = q.lastProgress
            if p is not None and p["numInputRows"] > 0:
                break
            q.awaitTermination(0.05)
        q.stop()

    def run_once(self, spark, i, tracer, timeout_s):
        return self._stream(spark, tracer, self.in_dir, f"{self.pass_name}{i}",
                            self._build, timeout_s, 1)

    def check(self, spark, its):
        res = CheckResult()
        self._stream_checks(its, self.N_SLICES * self.DOCS_PER_SLICE
                            * RECORDS_PER_DOC, res)
        for it in its:
            dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                          for p in it.progress for op in p.get("stateOperators", []))
            res.record(dropped == 0,
                       f"iteration {it.label}: {dropped} rows dropped by watermark")
        prefixes = [f"s{i:02d}-" for i in range(self.N_SLICES)]
        docs = self._sample_docs(prefixes, self.DOCS_PER_SLICE, 48, 8)
        n, bad = oracle.check_join(self.input_files(), self.out_dir(its[-1]), docs)
        res.record(n == len(docs) * RECORDS_PER_DOC and bad == 0,
                   f"position/sunrise value check: {bad} of {n} rows differ")
        return res

    def kernel_bench(self):
        slab = self._token_slab(self.input_files()[0])
        f = codec.decode_records(slab)
        ts = f["unix_sec"].astype(np.float64)
        day0 = np.floor(ts / _DAY) * _DAY
        out = {"codec.decode_ns_per_row": _timed_min(
            lambda: codec.decode_records(slab)) * 1e9 / slab.shape[0]}
        out.update(spa_kernel_costs(ts, f["lat"], f["lon"], f["elevation"],
                                    f["delta_t"], f["pressure"], f["temperature"]))
        out["kernels.sunrise.ns_per_row"] = _timed_min(
            lambda: sunrise_kernel.sunrise_transit_set(
                day0, f["lat"], f["lon"], f["delta_t"])) * 1e9 / ts.shape[0]
        return out


class SweepBatch(Workload):
    name = "sweep_batch"
    streaming = False
    LAT = (-60.0, 60.0, 5.0)  # 25 values
    LON = (-180.0, 175.0, 5.0)  # 72 values: 1,800 grid points
    DAYS = 28  # 672 hourly instants per query: 1,209,600 rows

    def size_key(self) -> str:
        return f"{self.DAYS}d"

    def _params(self) -> tuple[float, float, int, int]:
        rng = random.Random(self.seed)
        dlat = rng.randrange(500) / 100.0  # grid origin offset, degrees
        dlon = rng.randrange(500) / 100.0
        return dlat, dlon, 2020 + rng.randrange(10), rng.randrange(12)

    def prepare(self, spark):
        pass  # the grid and the time axis are built inside each query

    def _grid(self, spark: SparkSession) -> DataFrame:
        dlat, dlon, _, _ = self._params()
        return inputs.grid_df(spark, (self.LAT[0] + dlat, self.LAT[1] + dlat, self.LAT[2]),
                              (self.LON[0] + dlon, self.LON[1] + dlon, self.LON[2]))

    def _query(self, spark: SparkSession, i: int, tracer: Tracer) -> DataFrame:
        """Rows of query ``i``: the grid times the first ``DAYS`` days of the
        (seeded start + i)-th month, hourly."""
        _, _, year, month0 = self._params()
        month = (month0 + i) % 12 + 1
        with tracer.span("sources.grid_df", "sources"):
            grid = self._grid(spark)
        with tracer.span("sources.time_series_df", "sources"):
            times = inputs.time_series_df(spark, year, month, step_sec=3600) \
                .filter(F.col("unix_sec") < _month_start(year, month) + self.DAYS * _DAY)
        with tracer.span("sources.grid_times_df", "sources"):
            gt = inputs.grid_times_df(grid, times, parallelism=self.cores) \
                .withColumn("delta_t", F.lit(DELTA_T))
        with tracer.span("operators.position", "operators"):
            return position(gt, algorithm="spa", ts_col="unix_sec",
                            time_is_unix=True, show_inputs=True)

    def _hash_count(self, spark: SparkSession, df: DataFrame, tag: str) -> int:
        spark.sparkContext.setJobGroup(tag, tag)
        try:
            return _hash(df)
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def warm_workers(self, spark):
        grid = inputs.grid_df(spark, (0.0, 5.0, 5.0), (0.0, 5.0, 5.0))
        times = inputs.time_series_df(spark, 2024, 1, 1, step_sec=3600)
        _hash(position(inputs.grid_times_df(grid, times, parallelism=self.cores),
                       ts_col="unix_sec", time_is_unix=True))

    def warm(self, spark, tracer):
        # query runs keep getting faster for a few runs (JIT): warm with two
        for i in range(2):
            self._hash_count(spark, self._query(spark, i, tracer), f"warm-{i}")

    def run_once(self, spark, i, tracer, timeout_s):
        tag = f"sweep-{self.seed}-{i}-{time.time_ns()}"
        t0 = time.time()
        it = Iteration(label=f"{self.pass_name}{i}", tag=tag, start=t0, end=t0,
                       rows=0)
        with tracer.span("iteration", None, start=t0):
            df = self._query(spark, i, tracer)
            try:
                it.rows = int(self._hash_count(spark, df, tag))
            except Exception as e:  # Py4JJavaError and friends: record, go on
                it.ok, it.error = False, f"query failed: {e}"
            it.end = time.time()
        tracer.tag_last_root(tag)
        return it

    def check(self, spark, its):
        res = CheckResult()
        want = 25 * 72 * self.DAYS * 24
        for it in its:
            res.record(it.ok and it.rows == want,
                       f"{it.tag}: {it.rows} rows, expected {want} {it.error}")
        # sample: every grid point at three seeded instants of query 0
        rng = random.Random(self.seed)
        hours = sorted(rng.sample(range(self.DAYS * 24), 3))
        _, _, year, month0 = self._params()
        t_start = _month_start(year, month0 % 12 + 1)
        picked = [t_start + h * 3600 for h in hours]
        sample = (self._query(spark, 0, Tracer())
                  .filter(F.unix_timestamp("dateTime").isin(picked))
                  .select(F.col("latitude").alias("lat"),
                          F.col("longitude").alias("lon"),
                          F.unix_timestamp("dateTime").alias("usec"),
                          F.col("deltaT").alias("delta_t"), "azimuth", "zenith")
                  .toPandas())
        dlat, dlon, _, _ = self._params()
        grid_ok = (
            len(sample) == 3 * 25 * 72
            and sample["lat"].nunique() == 25 and sample["lon"].nunique() == 72
            and _on_grid(sample["lat"], self.LAT[0] + dlat, self.LAT[2])
            and _on_grid(sample["lon"], self.LON[0] + dlon, self.LON[2])
            and sorted(sample["usec"].unique()) == picked)
        n, bad = oracle.check_sweep(sample)
        res.record(grid_ok and bad == 0,
                   f"sweep sample: grid ok={grid_ok}, {bad} of {n} rows differ")
        return res

    def kernel_bench(self):
        dlat, dlon, year, month0 = self._params()
        lats = np.arange(25) * self.LAT[2] + self.LAT[0] + dlat
        lons = np.arange(72) * self.LON[2] + self.LON[0] + dlon
        # one Arrow batch of the time-major cross join: instants outer, grid inner
        n = ARROW_MAX_RECORDS_PER_BATCH
        n_inst = -(-n // (25 * 72))
        t0 = _month_start(year, month0 % 12 + 1)
        ts = np.repeat(t0 + np.arange(n_inst) * 3600.0, 25 * 72)[:n]
        lat = np.tile(np.repeat(lats, 72), n_inst)[:n]
        lon = np.tile(np.tile(lons, 25), n_inst)[:n]
        z = np.zeros(n)
        return spa_kernel_costs(ts, lat, lon, z, np.full(n, DELTA_T),
                                np.full(n, 1013.0), np.full(n, 15.0))


def _hash(df: DataFrame) -> int:
    """Row count with every column hashed: count() alone lets Catalyst
    prune the UDF projections, a hash of all columns forces evaluation."""
    return df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count(F.lit(1)), F.bit_xor("h")).collect()[0][0]


def _month_start(year: int, month: int) -> int:
    return int(datetime(year, month, 1, tzinfo=timezone.utc).timestamp())


def _on_grid(values, start: float, step: float) -> bool:
    k = (values - start) / step
    return bool(np.all(np.abs(k - np.round(k)) < 1e-9))


WORKLOADS = {w.name: w for w in (StreamJoin, SweepBatch)}
