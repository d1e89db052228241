"""Token-sequence table: deterministic generator + vectorized decoder.

The engine's primary input (BASELINE.json input_hint) is a table
``(doc_id string, tokens array<int32>, n_tok int, source string)`` — the
Spark analogue of solarpos's paired stream mode (``@-`` stdin,
util/DateTimeIterator.java:150-190,235-238), with each record carrying the
full 7-field bulk-job tuple encoded by :mod:`solarpos_spark.codec`.

Generation is fully distributed and deterministic: each doc's RNG is seeded
by (seed, doc_id), so the same (seed, n_docs) yields bit-identical tables at
any parallelism — the property that lets the N-vs-4N scaling bench run on
identical input. Domains follow the reference's own randomized generator
(src/test/resources/generate_test_data.py:13-28): lat U[-90,90],
lon U[-180,180], ts U[2020-01-01, 2030-12-31].
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .. import codec

TOKEN_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

DECODED_SCHEMA = (
    "doc_id string, seq_index int, lat double, lon double, unix_sec long, "
    "offset_sec int, delta_t double, elevation double, pressure double, "
    "temperature double, flags int"
)

_TS_LO = 1577836800  # 2020-01-01T00:00:00Z
_TS_HI = 1924991999  # 2030-12-31T23:59:59Z


def generate_token_sequences(
    spark: SparkSession,
    n_docs: int,
    *,
    records_per_doc: int = 8,
    seed: int = 42,
    source: str = "synthetic:paired",
    partitions: int | None = None,
    ts_lo: int = _TS_LO,
    ts_hi: int = _TS_HI,
    doc_prefix: str = "doc-",
) -> DataFrame:
    """Deterministic seeded token table, built with mapInArrow (no driver data)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            n = ids.shape[0]
            if n == 0:
                continue
            k = records_per_doc
            # counter-based randomness: splitmix64(seed, doc, record, field)
            # is partition-invariant — same doc -> same tokens at any
            # parallelism (the N-vs-4N bench identical-input requirement).
            doc_rep = np.repeat(ids, k)
            rec_idx = np.tile(np.arange(k, dtype=np.int64), n)
            lat = _u01(_splitmix64(seed, doc_rep, rec_idx, 0)) * 180.0 - 90.0
            lon = _u01(_splitmix64(seed, doc_rep, rec_idx, 1)) * 360.0 - 180.0
            usec = ts_lo + (
                _splitmix64(seed, doc_rep, rec_idx, 2) % np.uint64(ts_hi - ts_lo)
            ).astype(np.int64)
            recs = codec.encode_records(
                lat=lat, lon=lon, unix_sec=usec,
                offset_sec=np.zeros(n * k, dtype=np.int64),
                delta_t=np.full(n * k, 69.0),
                elevation=np.zeros(n * k),
                pressure=np.full(n * k, 1013.0),
                temperature=np.full(n * k, 15.0),
                flags=np.zeros(n * k, dtype=np.int64),
            )
            ntok = k * codec.TOKENS_PER_RECORD
            offsets = pa.array(np.arange(n + 1, dtype=np.int32) * ntok)
            tokens_arr = pa.ListArray.from_arrays(
                offsets, pa.array(recs.reshape(-1), type=pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.char.add(doc_prefix, ids.astype(str))),
                    tokens_arr,
                    pa.array(np.full(n, ntok, dtype=np.int32)),
                    pa.array(np.repeat(np.array([source]), n)),
                ],
                names=["doc_id", "tokens", "n_tok", "source"],
            )

    base = spark.range(n_docs, numPartitions=partitions)
    return base.mapInArrow(gen, schema=TOKEN_SCHEMA)


def _splitmix64(seed: int, doc: np.ndarray, rec: np.ndarray, field: int) -> np.ndarray:
    """Vectorized splitmix64 over a (seed, doc, rec, field) counter."""
    with np.errstate(over="ignore"):
        x = (np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
             ^ doc.astype(np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
             ^ rec.astype(np.uint64) * np.uint64(0x94D049BB133111EB)
             ^ np.uint64(field + 1) * np.uint64(0xD6E8FEB86659FD93))
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _u01(x: np.ndarray) -> np.ndarray:
    """uint64 -> uniform double in [0, 1)."""
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _record_slab(batch: pa.RecordBatch
                 ) -> tuple[np.ndarray, pa.Array, np.ndarray] | None:
    """Token batch -> ``(n_records, 10)`` int64 token slab, the doc_id of
    each record and its ``seq_index`` within the doc; ``None`` when the
    batch holds no record. One reshape + np.repeat, zero per-row work."""
    if batch.num_rows == 0:
        return None
    names = batch.schema.names
    toks = batch.column(names.index("tokens"))
    if isinstance(toks, pa.ChunkedArray):
        toks = toks.combine_chunks()
    offsets = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    counts = np.diff(offsets) // codec.TOKENS_PER_RECORD
    total = int(counts.sum())
    if total == 0:
        return None
    flat = (toks.values.to_numpy(zero_copy_only=False)[offsets[0]:offsets[-1]]
            .astype(np.int64).reshape(-1, codec.TOKENS_PER_RECORD))
    doc_idx = np.repeat(np.arange(batch.num_rows), counts)
    doc_ids = batch.column(names.index("doc_id")).take(pa.array(doc_idx))
    ends = np.cumsum(counts)
    seq_index = (np.arange(total)
                 - np.repeat(ends - counts, counts)).astype(np.int32)
    return flat, doc_ids, seq_index


def decode_tokens(df: DataFrame,
                  fields: tuple[str, ...] | None = None) -> DataFrame:
    """tokens array<int32> -> one row per encoded record (S5 paired scan).

    Fully vectorized per Arrow batch: one concatenate + reshape + np.repeat;
    no per-row Python beyond list extraction. ``seq_index`` preserves the
    in-sequence order (the reference's encounter-order determinism,
    CsvFormatter.java:55) without any global sort.

    ``fields`` prunes the EMITTED columns (doc_id always included): a
    mapInArrow stage is a black box to Catalyst, so the column pruning the
    optimizer does for free on JVM operators must be requested explicitly
    here. The decode arithmetic is cheap numpy either way — what pruning
    saves is Arrow IPC bytes, the memory-bandwidth component that caps
    scaling at high parallelism (an aggregation consuming 3 of the 11
    columns ships ~1/3 the bytes; measured on the window_agg scaling job).
    """
    names_all = [f.split()[0] for f in DECODED_SCHEMA.split(", ")]
    if fields is None:
        keep = names_all
    else:
        bad = set(fields) - set(names_all)
        if bad:
            raise ValueError(f"unknown decoded fields: {sorted(bad)}")
        keep = [n for n in names_all if n == "doc_id" or n in fields]
    types = dict(f.split() for f in DECODED_SCHEMA.split(", "))
    out_schema = ", ".join(f"{n} {types[n]}" for n in keep)

    def explode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            slab = _record_slab(batch)
            if slab is None:
                continue
            flat, doc_ids, seq_index = slab
            decoded = codec.decode_records(flat)
            cols = {
                "doc_id": lambda: doc_ids,
                "seq_index": lambda: pa.array(seq_index),
                "lat": lambda: pa.array(decoded["lat"]),
                "lon": lambda: pa.array(decoded["lon"]),
                "unix_sec": lambda: pa.array(decoded["unix_sec"]),
                "offset_sec": lambda: pa.array(decoded["offset_sec"],
                                               type=pa.int32()),
                "delta_t": lambda: pa.array(decoded["delta_t"]),
                "elevation": lambda: pa.array(decoded["elevation"]),
                "pressure": lambda: pa.array(decoded["pressure"]),
                "temperature": lambda: pa.array(decoded["temperature"]),
                "flags": lambda: pa.array(decoded["flags"], type=pa.int32()),
            }
            yield pa.RecordBatch.from_arrays(
                [cols[n]() for n in keep], names=list(keep))

    return df.mapInArrow(explode, schema=out_schema)


FUSED_POSITION_SCHEMA = (
    "doc_id string, seq_index int, lat double, lon double, unix_sec long, "
    "azimuth double, zenith double"
)


def decode_position_arrow(df: DataFrame, *, algorithm: str = "spa",
                          refraction: bool = True) -> DataFrame:
    """Fused decode + solar position in ONE Arrow pass.

    ``decode_tokens(df)`` followed by ``position(...)`` evaluates two Python
    stages in the same task pipeline — every decoded column crosses the
    JVM<->Python Arrow boundary twice. At high parallelism that IPC traffic,
    not the SPA arithmetic, saturates memory bandwidth (measured: the bare
    kernel scales 4->16 procs at 0.99 while the two-stage pipeline reads
    ~0.68). Fusing keeps the decoded columns inside numpy and ships only the
    position output back — the operator-fusion plan a 1000-executor job
    wants, and exactly what the reference's loop does in one pass
    (PositionCommand.java:107-135).

    Values are bit-identical to the two-stage path: the same
    ``resolve_delta_t`` (the codec's estimate sentinel decodes to NaN and
    becomes the Espenak-Meeus estimate) and the same ``_compute_position``
    dispatch, with every row flagged by ``algorithm`` and ``refraction`` —
    pinned by test_spark_layer fused-parity.
    """
    from ..operators.position import _compute_position, resolve_delta_t

    flag = ((codec.FLAG_GRENA3 if algorithm == "grena3" else 0)
            | (0 if refraction else codec.FLAG_NO_REFRACTION))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            slab = _record_slab(batch)
            if slab is None:
                continue
            flat, doc_ids, seq_index = slab
            f = codec.decode_records(flat)
            az, zen = _compute_position(
                f["unix_sec"].astype(np.float64), f["lat"], f["lon"],
                f["elevation"], f["pressure"], f["temperature"],
                resolve_delta_t(f["unix_sec"], f["delta_t"]),
                np.full(len(seq_index), flag, dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [doc_ids, pa.array(seq_index), pa.array(f["lat"]),
                 pa.array(f["lon"]), pa.array(f["unix_sec"]),
                 pa.array(az), pa.array(zen)],
                names=["doc_id", "seq_index", "lat", "lon", "unix_sec",
                       "azimuth", "zenith"],
            )

    return df.mapInArrow(run, schema=FUSED_POSITION_SCHEMA)


def read_token_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_token_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    """Streaming source over the token table directory (S6: the unbounded
    stdin analogue). File-source micro-batches, rate-limited per trigger."""
    return (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
