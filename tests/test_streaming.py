"""Streaming CEP tests: exactly-once sink, checkpoint resume, late-data
determinism under a fixed watermark, stateful stream-stream join, lineage.

Strategy (SURVEY.md §7 phase 3): the batch path is the oracle — the UDFs are
shared, so streaming output must equal batch output over the same input
regardless of micro-batch boundaries.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from solarpos_spark.sinks.exactly_once import exactly_once_parquet_sink
from solarpos_spark.sources import tokens
from solarpos_spark.streaming import pipeline
from solarpos_spark.streaming.lineage import attach_lineage, with_observed_metrics
from solarpos_spark.streaming.replay import (
    commit_available_now, ordered_file_stream)


T0 = 1704067200  # 2024-01-01T00:00:00Z


def make_token_files(spark, path: str, n_docs: int = 60, files: int = 6,
                     *, slice_sec: int = 3600, overlap_sec: int = 0):
    """Materialize the token table as several time-sliced parquet files.

    File i carries event times in [T0 + i*slice - overlap, T0 + (i+1)*slice):
    an ordered stream with bounded disorder (<= overlap_sec), the regime a
    watermark is designed for. Files are written sequentially so the file
    source replays them in order.
    """
    per_file = n_docs // files
    for i in range(files):
        lo = T0 + i * slice_sec - (overlap_sec if i > 0 else 0)
        hi = T0 + (i + 1) * slice_sec
        df = tokens.generate_token_sequences(
            spark, per_file, records_per_doc=4, ts_lo=lo, ts_hi=hi,
            doc_prefix=f"doc{i}-", partitions=1)
        df.write.mode("append").parquet(path)
    return spark.read.parquet(path)


def drain(q, timeout=300):
    """Wait for an availableNow query to finish; stop it and fail if it
    does not."""
    if not q.awaitTermination(timeout):
        q.stop()
        pytest.fail(f"streaming query did not finish in {timeout} s")


def shuffled_parts(ev, sentinel_id):
    """Shuffled delivery: route rows to 3 parts by event_id % 3; the
    sentinel row rides the LAST part."""
    eid = F.col("event_id")
    return [ev.filter(((eid % 3 == f) & (eid != sentinel_id))
                      | (F.lit(f == 2) & (eid == sentinel_id)))
            for f in range(3)]


STATE_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


def hadoop_path(spark, path):
    return spark._jvm.org.apache.hadoop.fs.Path(str(path))


def checkpoint_manager(spark, path):
    """The CheckpointFileManager this session's streaming queries resolve
    for ``path`` (what the offset and commit logs and the state stores'
    checksum wrapper are built on)."""
    return spark._jvm.org.apache.spark.sql.execution.streaming \
        .checkpointing.CheckpointFileManager.create(
            hadoop_path(spark, path),
            spark._jsparkSession.sessionState().newHadoopConf())


def temp_files(root) -> list[str]:
    """Every file under ``root`` left by an unfinished atomic create."""
    return sorted(os.path.join(d, f) for d, _, files in os.walk(root)
                  for f in files if ".tmp" in f)


def join_drain_and_resume(spark, root, *, n_docs, files, twilight=False):
    """Drain the stream-stream join over ``files`` time-ordered token
    files, then append a far-future sentinel doc and drain again from the
    same checkpoint (exactly-once resume). Join results within the time
    bound are held in state until the watermark passes; the sentinel
    advances it so held state flushes. Returns the token input and the
    committed rows without the sentinel, after checking that the
    checkpoint tree holds no temp-file leftovers."""
    src, out, ckpt = (str(root / d) for d in ("tok", "out", "ckpt"))
    tok = make_token_files(spark, src, n_docs=n_docs, files=files)

    def drain_join():
        stream = tokens.read_token_stream(spark, src, max_files_per_trigger=1)
        joined = pipeline.position_sunrise_join(
            pipeline.decoded_stream(stream, watermark="1 hour"),
            twilight=twilight)
        return commit_available_now(joined, out, ckpt)

    drain_join()
    tokens.generate_token_sequences(
        spark, 1, records_per_doc=1, doc_prefix="sentinel-",
        ts_lo=1930000000, ts_hi=1930000001,
    ).write.mode("append").parquet(src)
    got = drain_join().filter(~F.col("doc_id").startswith("sentinel"))
    assert temp_files(ckpt) == []
    return tok, got


class TestExactlyOnceSink:
    def test_stream_equals_batch(self, spark, tmp_path):
        src = str(tmp_path / "tok")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        batch_input = make_token_files(spark, src)

        stream = tokens.read_token_stream(spark, src, max_files_per_trigger=2)
        dec = pipeline.decoded_stream(stream)
        pos = pipeline.position_stream(dec)
        got = commit_available_now(pos, out, ckpt)
        batch_dec = tokens.decode_tokens(batch_input)
        from solarpos_spark.operators.position import position
        want = position(batch_dec, ts_col="unix_sec", time_is_unix=True,
                        passthrough=["doc_id", "seq_index"])
        assert got.count() == want.count() == 240
        # value equality, order-insensitive
        key = ["doc_id", "seq_index"]
        j = got.select(*key, F.round("azimuth", 9).alias("az_s")).join(
            want.select(*key, F.round("azimuth", 9).alias("az_b")), key)
        assert j.filter(F.col("az_s") != F.col("az_b")).count() == 0

    def test_resume_from_checkpoint_no_duplicates(self, spark, tmp_path):
        src = str(tmp_path / "tok")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        make_token_files(spark, src, n_docs=60, files=6)

        stream = tokens.read_token_stream(spark, src, max_files_per_trigger=1)
        dec = pipeline.decoded_stream(stream)
        pos = pipeline.position_stream(dec)

        # phase 1: process a couple of micro-batches, then kill the query
        q = exactly_once_parquet_sink(pos, out, ckpt)
        seen, deadline = 0, time.monotonic() + 120
        while seen < 2 and time.monotonic() < deadline:
            time.sleep(1.0)
            seen = len([f for f in os.listdir(os.path.join(ckpt, "commits"))
                        if not f.startswith(".")]) if os.path.isdir(
                os.path.join(ckpt, "commits")) else 0
        assert seen >= 2, "no micro-batch committed before kill"
        q.stop()
        q.awaitTermination(60)

        # phase 2: restart from the same checkpoint, drain everything
        stream2 = tokens.read_token_stream(spark, src, max_files_per_trigger=1)
        pos2 = pipeline.position_stream(pipeline.decoded_stream(stream2))
        got = commit_available_now(pos2, out, ckpt)
        assert got.count() == 240  # 60 docs x 4 records, exactly once
        dupes = (got.groupBy("doc_id", "seq_index").count()
                 .filter(F.col("count") > 1).count())
        assert dupes == 0

    def test_overwrite_same_batch_is_idempotent(self, spark, tmp_path):
        # simulate a batch replay: writing batch_id=7 twice leaves one copy
        out = str(tmp_path / "out")
        df = spark.range(10).select(F.col("id"), F.lit(7).alias("batch_id"))
        for _ in range(2):
            df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
                .partitionBy("batch_id").parquet(out)
        assert spark.read.parquet(out).count() == 10


class TestReplayContract:
    def test_committed_batch_i_holds_exactly_part_i(self, spark, tmp_path):
        """ordered_file_stream replays its parts in list order, one per
        trigger, and a later call's parts follow the earlier ones: the
        committed batch_id = i holds exactly part i. Every ordered-delivery
        test relies on this."""
        parts = [spark.range(10 * i, 10 * i + 3 + i).toDF("v")
                 for i in range(3)]
        in_dir = str(tmp_path / "in")
        ordered_file_stream(parts[:2], in_dir)
        stream = ordered_file_stream(parts[2:], in_dir)
        got = commit_available_now(stream, str(tmp_path / "out"),
                                   str(tmp_path / "ckpt"))
        by_batch: dict[int, set[int]] = {}
        for r in got.collect():
            by_batch.setdefault(r.batch_id, set()).add(r.v)
        assert by_batch == {i: {r.v for r in part.collect()}
                            for i, part in enumerate(parts)}

    def test_two_sinks_at_once_keep_session_conf(self, spark, tmp_path):
        """Two exactly-once sinks running at once in one session each
        commit every row exactly once, and partitionOverwriteMode keeps
        its value throughout, both in the session and in each query's
        own (cloned) session that its batches run on: the sink sets the
        mode per write, never on a session."""
        key = "spark.sql.sources.partitionOverwriteMode"
        before = spark.conf.get(key)
        src = str(tmp_path / "tok")
        make_token_files(spark, src, n_docs=40, files=8)
        queries = [
            exactly_once_parquet_sink(
                tokens.read_token_stream(spark, src, max_files_per_trigger=1),
                str(tmp_path / f"out_{tag}"), str(tmp_path / f"ckpt_{tag}"),
                trigger_available_now=True)
            for tag in ("a", "b")]
        sessions = [spark._jsparkSession] + [
            q._jsq.streamingQuery().sparkSessionForStream() for q in queries]
        seen = set()
        deadline = time.monotonic() + 300
        while (any(q.isActive for q in queries)
               and time.monotonic() < deadline):
            seen.update(js.conf().get(key) for js in sessions)
            time.sleep(0.01)
        for q in queries:
            drain(q, 60)
        assert seen == {before}
        for tag in ("a", "b"):
            got = spark.read.parquet(str(tmp_path / f"out_{tag}"))
            assert got.count() == 40
            assert got.select("doc_id").distinct().count() == 40
            assert got.select("batch_id").distinct().count() == 8


class TestCheckpointFiles:
    """The session writes checkpoint and state-store files through Hadoop's
    FileSystem API (no forked `readlink` per rename on a host without
    libhadoop), with the same atomic-create contract as the FileContext
    manager it replaces."""

    def test_session_resolves_filesystem_manager(self, spark, tmp_path):
        mgr = checkpoint_manager(spark, tmp_path)
        assert mgr.getClass().getName() == (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager")
        assert spark.conf.get(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled") != "false"

    def test_create_atomic_never_overwrites(self, spark, tmp_path):
        target = tmp_path / "7"
        target.write_bytes(b"committed")
        out = checkpoint_manager(spark, tmp_path).createAtomic(
            hadoop_path(spark, target), False)
        out.write(bytearray(b"replayed"))
        with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
            out.close()
        assert target.read_bytes() == b"committed"

    def test_cancelled_create_atomic_leaves_no_temp_file(self, spark,
                                                          tmp_path):
        out = checkpoint_manager(spark, tmp_path).createAtomic(
            hadoop_path(spark, tmp_path / "8"), False)
        out.write(bytearray(b"partial"))
        out.cancel()
        assert os.listdir(tmp_path) == []


class TestWindowsAndLateData:
    def test_hourly_windows_deterministic_across_batching(self, spark, tmp_path):
        """Same input at different micro-batch granularity -> same committed
        windows (late arrivals bounded by the watermark)."""
        src = str(tmp_path / "tok")
        make_token_files(spark, src, n_docs=80, files=8)

        # watermark "10 years" covers the 2020-2030 synthetic event spread,
        # so no window is ever finalized early -> nothing emits in append
        # mode until end; use update-to-memory instead for full comparison
        def run_mem(trigger_files: int, name: str):
            stream = tokens.read_token_stream(spark, src,
                                              max_files_per_trigger=trigger_files)
            dec = pipeline.decoded_stream(stream, watermark="1 hour")
            agg = pipeline.hourly_window_counts(dec)
            q = (agg.writeStream.outputMode("complete")
                 .format("memory").queryName(name)
                 .trigger(availableNow=True).start())
            drain(q)
            return spark.table(name)

        a = run_mem(1, "win_a").orderBy("window_start").collect()
        b = run_mem(8, "win_b").orderBy("window_start").collect()
        assert a == b
        assert len(a) > 0

    def test_replay_parity_same_watermark_different_arrival(
            self, spark, tmp_path):
        """north_star clause: identical committed rows at identical
        watermark settings. The SAME record multiset is replayed twice —
        in event-time order, and with every record from the last half hour
        of each hour arriving one micro-batch late (bounded disorder 30 min
        < watermark 1 h) — and the append-mode committed windows must be
        byte-identical."""
        span_h = 6
        tok = tokens.generate_token_sequences(
            spark, 240, records_per_doc=1, ts_lo=T0,
            ts_hi=T0 + span_h * 3600, partitions=1)
        dec = tokens.decode_tokens(tok).select("doc_id", "unix_sec")
        keyed = (tok.join(dec, "doc_id")
                 .select("doc_id", "tokens", "n_tok", "source", "unix_sec")
                 .cache())
        keyed.count()

        def run(shift_sec: int, tag: str):
            # file index = floor((ts - T0 + shift)/3600): shift 0 = in
            # order; shift 1800 pushes each hour's last 30 min one file
            # later (arrives after the watermark has advanced past its
            # hour, but within the 1 h bound)
            parts = [keyed.filter(
                F.floor((F.col("unix_sec") - T0 + shift_sec) / 3600)
                == k).drop("unix_sec") for k in range(span_h + 1)]
            stream = ordered_file_stream([p for p in parts if p.count()],
                                         str(tmp_path / f"in_{tag}"))
            agg = pipeline.hourly_window_counts(
                pipeline.decoded_stream(stream, watermark="1 hour"))
            return sorted(
                (r["window_start"], r["n_rows"], r["min_lat"], r["max_lat"])
                for r in commit_available_now(
                    agg, str(tmp_path / f"out_{tag}"),
                    str(tmp_path / f"ckpt_{tag}")).collect())

        a = run(0, "a")
        b = run(1800, "b")
        keyed.unpersist()
        assert a == b
        # windows actually committed, and the tail is withheld by the
        # watermark (append semantics), so the parity is non-vacuous
        assert 0 < len(a) < span_h + 1

    def test_append_session_merges_across_batches_and_cuts(
            self, spark, tmp_path):
        """APPEND-mode session windows (the stream_session_committed gate
        shape): a session whose events arrive in DIFFERENT micro-batch
        files must merge in state and commit as ONE row, and a session
        the final watermark has not passed must NOT commit.

        Data (gap 30 min, watermark 1 h, one file per trigger):
          u1: T0+13800s (file 0) and T0+15000s (file 1) — 20 min apart,
              straddles the file boundary at T0+4h -> one merged session
              [13800, 16800).
          u2: T0+100, T0+200 (file 0) -> one session [100, 2000).
          u3: T0+39600 (file 2) — session end 41400 > final watermark.
          u4: T0+43199 (file 2) — the max event; watermark = 43199-3600
              = 39599, so u3/u4 are withheld. Committed = exactly u1+u2.
        """
        rows_by_file = [
            [("u1", 13800), ("u2", 100), ("u2", 200)],
            [("u1", 15000)],
            [("u3", 39600), ("u4", 43199)],
        ]
        parts = [spark.createDataFrame(
            [(u, T0 + off) for u, off in rows], "user string, sec long"
        ).select("user", F.timestamp_seconds("sec").alias("ts"))
            for rows in rows_by_file]
        stream = ordered_file_stream(parts, str(tmp_path / "in")) \
            .withWatermark("ts", "1 hour")
        sess = (stream.groupBy(
                    F.session_window("ts", "30 minutes").alias("w"), "user")
                .agg(F.count(F.lit(1)).alias("n"))
                .select("user", F.unix_timestamp("w.start").alias("s"),
                        F.unix_timestamp("w.end").alias("e"), "n"))
        got = sorted(tuple(r) for r in commit_available_now(
            sess, str(tmp_path / "out"), str(tmp_path / "ckpt"))
            .select("user", "s", "e", "n").collect())
        assert got == [
            ("u1", T0 + 13800, T0 + 15000 + 1800, 2),  # straddles files 0/1
            ("u2", T0 + 100, T0 + 200 + 1800, 2),
        ]


class TestStreamStreamJoin:
    def test_join_emits_one_row_per_record(self, spark, tmp_path):
        _, got = join_drain_and_resume(spark, tmp_path, n_docs=30, files=3)
        assert got.count() == 120  # one joined row per decoded record
        assert got.filter(F.col("is_daylight").isNull()).count() == 0
        # daylight flag consistent with zenith where the UT-day event window
        # is guaranteed aligned (the A.2 solver reports events within the UT
        # day of the observation's calendar date, as the reference does —
        # near the dateline morning events wrap to the other day edge)
        bad = got.filter(
            (F.col("zenith") < 80.0) & ~F.col("is_daylight")
            & (F.abs(F.col("longitude")) < 30.0) & (F.col("type") == "NORMAL")
        ).count()
        assert bad == 0

    def test_rocksdb_provider_commits_same_rows(self, spark, tmp_path):
        """The same drain-and-resume under RocksDBStateStoreProvider commits
        exactly the rows (and batch ids) of the default HDFS-backed provider.
        RocksDB's state files go through the session's checkpoint manager
        too, and leave no temp files behind."""
        _, hdfs = join_drain_and_resume(spark, tmp_path / "hdfs",
                                        n_docs=30, files=3)
        before = spark.conf.get(STATE_PROVIDER_KEY)
        spark.conf.set(STATE_PROVIDER_KEY, ROCKSDB_PROVIDER)
        try:
            _, rocks = join_drain_and_resume(spark, tmp_path / "rocksdb",
                                             n_docs=30, files=3)
        finally:
            spark.conf.set(STATE_PROVIDER_KEY, before)
        # RocksDB checkpoints each state-store version as <version>.zip
        state = tmp_path / "rocksdb" / "ckpt" / "state"
        assert list(state.rglob("*.zip"))
        assert not list((tmp_path / "hdfs" / "ckpt" / "state").rglob("*.zip"))
        assert rocks.count() == hdfs.count() == 120
        assert rocks.exceptAll(hdfs).count() == 0
        assert hdfs.exceptAll(rocks).count() == 0

    def test_resume_keeps_checkpoint_partition_count(self, spark, tmp_path):
        """A join checkpointed under 8 shuffle partitions resumes under 8
        after the session's count moves to 4 (Spark pins it in the
        checkpoint): every record is committed exactly once and none is
        dropped by the watermark."""
        src, out, ckpt = (str(tmp_path / d) for d in ("tok", "out", "ckpt"))
        key = "spark.sql.shuffle.partitions"

        def drain_slice(i, partitions):
            tokens.generate_token_sequences(
                spark, 10, records_per_doc=4, ts_lo=T0 + i * 3600,
                ts_hi=T0 + (i + 1) * 3600, doc_prefix=f"doc{i}-",
                partitions=1).write.mode("append").parquet(src)
            spark.conf.set(key, str(partitions))
            stream = tokens.read_token_stream(spark, src,
                                              max_files_per_trigger=1)
            q = exactly_once_parquet_sink(
                pipeline.position_sunrise_join(
                    pipeline.decoded_stream(stream, watermark="1 hour")),
                out, ckpt, trigger_available_now=True)
            drain(q)
            return [op for p in q.recentProgress if p.numInputRows > 0
                    for op in p.stateOperators]

        before = spark.conf.get(key)
        try:
            ops = drain_slice(0, 8) + drain_slice(1, 4)
        finally:
            spark.conf.set(key, before)
        assert len(ops) == 2  # one data batch per slice
        assert [op.numShufflePartitions for op in ops] == [8, 8]
        assert sum(op.numRowsDroppedByWatermark for op in ops) == 0
        got = spark.read.parquet(out)
        assert got.count() == 80  # 2 slices x 10 docs x 4 records
        assert got.select("doc_id", "seq_index").distinct().count() == 80

    def test_twilight_join_matches_batch(self, spark, tmp_path):
        """The six twilight horizons ride through the stateful join and are
        value-equal to the batch sunrise operator over the same input."""
        from solarpos_spark.operators.sunrise import sunrise

        tok, committed = join_drain_and_resume(spark, tmp_path, n_docs=24,
                                               files=2, twilight=True)
        tw_cols = ["astronomical_start", "nautical_start", "civil_start",
                   "sunrise", "transit", "sunset",
                   "civil_end", "nautical_end", "astronomical_end"]
        got = committed.select("doc_id", "seq_index", *tw_cols)
        assert got.count() == 96  # one row per decoded record

        batch = sunrise(
            tokens.decode_tokens(tok).filter(~F.col("doc_id").startswith("sentinel")),
            twilight=True, ts_col="unix_sec", time_is_unix=True,
            show_inputs=False, passthrough=["doc_id", "seq_index"],
        ).select("doc_id", "seq_index", *tw_cols)
        assert got.exceptAll(batch).count() == 0
        assert batch.exceptAll(got).count() == 0


class TestLineage:
    def test_lineage_log_written(self, spark, tmp_path):
        """Per-batch lineage of the stateful join: source offsets, phase
        durations and the join's state rows, bytes, drops and commit time,
        all read back from the JSON log."""
        src = str(tmp_path / "tok")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        log = str(tmp_path / "lineage" / "log.jsonl")
        make_token_files(spark, src, n_docs=20, files=4)
        listener = attach_lineage(spark, log)
        try:
            stream = tokens.read_token_stream(spark, src, max_files_per_trigger=2)
            dec = with_observed_metrics(
                pipeline.decoded_stream(stream, watermark="1 hour"))
            commit_available_now(pipeline.position_sunrise_join(dec), out, ckpt)
            # listener delivery is async: poll for both batch records
            deadline = time.monotonic() + 30
            recs = []
            while time.monotonic() < deadline:
                if os.path.exists(log):
                    with open(log) as f:
                        recs = [json.loads(line) for line in f if line.strip()]
                    if len(recs) >= 2:
                        break
                time.sleep(0.5)
        finally:
            spark.streams.removeListener(listener)
        assert len(recs) >= 2  # >= 2 micro-batches
        assert all("sources" in r and r["sources"] for r in recs)
        assert any(r["numInputRows"] > 0 for r in recs)
        # per-partition lineage: file-source offsets recorded per batch
        assert all(r["sources"][0]["endOffset"] is not None for r in recs)
        data = [r for r in recs if r["numInputRows"] > 0]
        for r in data:
            assert {"addBatch", "queryPlanning", "walCommit",
                    "commitOffsets", "triggerExecution"} <= set(r["durationMs"])
            (join,) = r["stateOperators"]
            assert join["operatorName"] == "symmetricHashJoin"
            assert join["commitTimeMs"] >= 0
            assert join["numRowsDroppedByWatermark"] == 0
        # the 4 h of input never pass the join's 1-day bound: every one of
        # the 80 decoded records stays in the state of both join sides
        totals = [r["stateOperators"][0]["numRowsTotal"] for r in data]
        assert totals[-1] == 2 * 80
        assert all(r["stateOperators"][0]["memoryUsedBytes"] > 0 for r in data)
        assert sum(r["stateOperators"][0]["numRowsUpdated"] for r in data) \
            == totals[-1]


class TestCustomStatefulOperator:
    def test_sweep_progress_completion(self, spark, tmp_path):
        """applyInPandasWithState sweep tracker: every doc whose 4 records
        all arrive must emit exactly one COMPLETE row, across micro-batches."""
        from solarpos_spark.streaming.stateful import sweep_progress

        src = str(tmp_path / "tok")
        make_token_files(spark, src, n_docs=24, files=2)
        stream = tokens.read_token_stream(spark, src, max_files_per_trigger=1)
        dec = tokens.decode_tokens(stream)
        out = sweep_progress(dec, expected=4, timeout_ms=5_000)
        q = (out.writeStream.outputMode("append")
             .format("memory").queryName("sweeps")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        # availableNow does NOT self-terminate under processing-time
        # timeouts (the query idles waiting for potential timeout fires);
        # poll the sink for completeness, then stop.
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if spark.table("sweeps").count() >= 24:
                break
            time.sleep(1.0)
        q.stop()
        q.awaitTermination(60)
        got = spark.table("sweeps").collect()
        complete = [r for r in got if r["status"] == "COMPLETE"]
        assert len(complete) == 24
        assert all(r["n_records"] == 4 for r in complete)
        assert all(r["min_seq"] == 0 and r["max_seq"] == 3 for r in complete)
        assert all(r["first_event_usec"] <= r["last_event_usec"] for r in complete)
        # exactly-once per doc
        assert len({r["doc_id"] for r in complete}) == 24


class TestStreamingDedup:
    def test_dedup_stream_drops_redelivered_records(self, spark, tmp_path):
        """deduped_stream == batch dropDuplicates under duplicate delivery
        (at-least-once upstream: every file delivered twice)."""
        src = str(tmp_path / "tok")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        files, per_file = 4, 10
        for i in range(files):
            lo = T0 + i * 3600
            df = tokens.generate_token_sequences(
                spark, per_file, records_per_doc=4, ts_lo=lo, ts_hi=lo + 3600,
                doc_prefix=f"doc{i}-", partitions=1)
            df.write.mode("append").parquet(src)   # original delivery
            df.write.mode("append").parquet(src)   # duplicate delivery
        n_unique = files * per_file * 4

        stream = tokens.read_token_stream(spark, src, max_files_per_trigger=2)
        ded = pipeline.deduped_stream(pipeline.decoded_stream(stream))
        got = commit_available_now(ded, out, ckpt)
        assert got.count() == n_unique  # doubled input, each record once
        assert got.select("doc_id", "seq_index").distinct().count() == n_unique


class TestStreamingCurate:
    def test_batch_order_independent_and_batch_parity(self, spark, tmp_path):
        """curated_doc_stream is stateless: committed rows must be identical
        whether the docs arrive in 1 micro-batch or 8, and must equal the
        same expressions applied in one batch plan."""
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        src = str(tmp_path / "docs")
        docs.repartition(8).write.parquet(src)
        rates = {"en": 5000}
        schema = ("doc_id long, text string, lang string, source string, "
                  "n_chars long")

        outs = []
        for tag, mfpt in [("one", 100), ("eight", 1)]:
            out = str(tmp_path / f"out_{tag}")
            ckpt = str(tmp_path / f"ckpt_{tag}")
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", mfpt).parquet(src))
            kept = commit_available_now(
                pipeline.curated_doc_stream(stream, rates), out, ckpt)
            outs.append({tuple(r) for r in kept.drop("batch_id").collect()})
        assert outs[0] == outs[1] and outs[0]
        batch = {tuple(r) for r in
                 pipeline.curated_doc_stream(docs, rates).collect()}
        assert outs[0] == batch


class TestFunnelStream:
    def test_pairs_and_first_match_parity(self, spark, tmp_path):
        """funnel_stream commits every (A, B) pair; cut to rank-1 it must
        reproduce relational.sequence_pattern's batch first-match."""
        from datetime import datetime, timedelta

        from pyspark.sql import Window

        from solarpos_spark.operators.relational import sequence_pattern
        from solarpos_spark.streaming.pipeline import funnel_stream

        t0 = datetime(2024, 5, 1, 9, 0, 0)
        s = timedelta(seconds=1)
        rows = []
        for u in range(6):
            rows.append((u * 100 + 1, u, "error", t0 + u * 7 * s))
            rows.append((u * 100 + 2, u, "purchase", t0 + (u * 7 + 30) * s))
            rows.append((u * 100 + 3, u, "purchase", t0 + (u * 7 + 90) * s))
            if u % 2 == 0:  # a purchase beyond the window
                rows.append((u * 100 + 4, u, "error", t0 + (u * 7 + 200) * s))
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp")
        for t in ("error", "purchase"):
            ev.filter(F.col("event_type") == t).coalesce(1) \
                .write.mode("overwrite").parquet(str(tmp_path / t))
        a = spark.readStream.schema(ev.schema).parquet(str(tmp_path / "error"))
        b = spark.readStream.schema(ev.schema).parquet(
            str(tmp_path / "purchase"))
        pairs = funnel_stream(a, b, within_seconds=120, watermark="1 hour")
        got = commit_available_now(pairs, str(tmp_path / "out"),
                                   str(tmp_path / "ckpt"))
        # every user has BOTH purchases within 120 s of the first error
        assert got.count() == 6 * 2
        # rank-1 cut == batch first-match operator
        w = Window.partitionBy("user_id", "a_event_id") \
            .orderBy("gap_usec", "b_event_id")
        first = got.withColumn("_rn", F.row_number().over(w)) \
            .filter(F.col("_rn") == 1) \
            .select("user_id", "a_event_id", "b_event_id", "gap_usec")
        batch = sequence_pattern(ev, first_type="error",
                                 then_type="purchase", within_seconds=120)
        assert first.exceptAll(batch).count() == 0
        assert batch.exceptAll(first).count() == 0


class TestFunnelFirstMatch:
    def test_stateful_first_match_equals_batch(self, spark, tmp_path):
        """funnel_first_match (applyInPandasWithState, EventTimeTimeout)
        must commit EXACTLY relational.sequence_pattern's rows for the
        same input, even with multi-batch out-of-order delivery — windows
        close only when the watermark passes, so arrival order cannot
        change the answer. A far-future sentinel event drives the final
        watermark past every deadline."""
        from datetime import datetime, timedelta

        from solarpos_spark.operators.relational import sequence_pattern
        from solarpos_spark.streaming.stateful import funnel_first_match

        t0 = datetime(2024, 7, 1, 8, 0, 0)
        s = timedelta(seconds=1)
        rows, eid = [], 0

        def add(u, typ, dt):
            nonlocal eid
            rows.append((eid, u, typ, t0 + dt))
            eid += 1

        for u in range(4):
            base = u * 600
            add(u, "error", base * s)
            add(u, "purchase", (base + 30 + u) * s)   # first match
            add(u, "purchase", (base + 90) * s)       # later, not reported
            add(u, "error", (base + 200) * s)
            if u % 2 == 0:                            # in-window for evens
                add(u, "purchase", (base + 260) * s)
            add(u, "error", (base + 3000) * s)        # never matched
        # simultaneous-ts tiebreak: purchase id > error id at the same ts
        add(5, "error", 50 * s)
        rows.append((eid, 5, "purchase", t0 + 50 * s)); eid += 1
        # sentinel: a far-future B for an unused user advances the final
        # watermark past every deadline. It must be a FILTER-SURVIVING
        # type — Catalyst pushes the A/B restriction below the
        # EventTimeWatermark node, so other event types never reach it.
        sentinel_id = eid
        add(9, "purchase", timedelta(hours=10))

        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp")
        parts = shuffled_parts(ev, sentinel_id)
        stream = ordered_file_stream(parts, str(tmp_path / "in")) \
            .withWatermark("ts", "2 hours")
        out = funnel_first_match(stream, first_type="error",
                                 then_type="purchase", within_seconds=120)
        committed = commit_available_now(out, str(tmp_path / "out"),
                                         str(tmp_path / "ckpt"))
        got = committed.select("user_id", "a_event_id", "b_event_id",
                               "gap_usec")
        want = sequence_pattern(ev, first_type="error",
                                then_type="purchase", within_seconds=120)
        assert got.count() > 0
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_absence_equals_batch_complement(self, spark, tmp_path):
        """funnel_absence must commit EXACTLY the id columns of
        relational.sequence_pattern_absent (the batch negation fixpoint)
        under multi-batch shuffled delivery, and together with
        funnel_first_match PARTITION the closed A set — same windows,
        flipped emission predicate."""
        from datetime import datetime, timedelta

        from solarpos_spark.operators.relational import (
            sequence_pattern, sequence_pattern_absent)
        from solarpos_spark.streaming.stateful import funnel_absence

        t0 = datetime(2024, 7, 2, 8, 0, 0)
        s = timedelta(seconds=1)
        rows, eid = [], 0

        def add(u, typ, dt):
            nonlocal eid
            rows.append((eid, u, typ, t0 + dt))
            eid += 1

        for u in range(4):
            base = u * 600
            add(u, "error", base * s)                 # matched at +30+u
            add(u, "purchase", (base + 30 + u) * s)
            add(u, "error", (base + 200) * s)
            if u % 2 == 0:                            # in-window for evens;
                add(u, "purchase", (base + 260) * s)  # odds: ABSENT
            add(u, "error", (base + 3000) * s)        # never matched: ABSENT
        sentinel_id = eid
        add(9, "purchase", timedelta(hours=10))

        ev = spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string, ts timestamp")
        parts = shuffled_parts(ev, sentinel_id)
        stream = ordered_file_stream(parts, str(tmp_path / "in")) \
            .withWatermark("ts", "2 hours")
        out = funnel_absence(stream, first_type="error",
                             then_type="purchase", within_seconds=120)
        committed = commit_available_now(out, str(tmp_path / "out"),
                                         str(tmp_path / "ckpt"))
        got = committed.select("user_id", "a_event_id")
        want = sequence_pattern_absent(
            ev, first_type="error", then_type="purchase",
            within_seconds=120).select("user_id", "a_event_id")
        assert got.count() > 0
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # partition property: matched ∪ absent == all A's, disjoint
        matched = {(r.user_id, r.a_event_id) for r in sequence_pattern(
            ev, first_type="error", then_type="purchase",
            within_seconds=120).collect()}
        absent = {(r.user_id, r.a_event_id) for r in got.collect()}
        alla = {(r.user_id, r.event_id)
                for r in ev.filter("event_type = 'error'").collect()}
        assert matched | absent == alla and not (matched & absent)

    def test_watermark_gap_arrival_matches_batch(self, spark, tmp_path):
        """The SPARK-40925 two-watermark gap, adversarially (ADVICE r4):
        batch f late-filters with wm(<=f-2) while state eviction in batch
        f-1 used wm(<=f-2) too — eviction in batch g uses exactly batch
        g+1's late-filter threshold, so a gap-arriving A (event time in
        (wm(<=f-2), wm(<=f-1)]) must still find every B it could match
        retained in state. Construction: B's arrive in batch 1, a
        watermark pusher advances time in batch 2 (evicting a decoy B
        below the gap and PROVING eviction ran), the gap A's arrive in
        batch 3 after their matches, and the sentinel closes windows.
        Committed rows must equal the batch fixpoint exactly."""
        from datetime import datetime, timedelta

        from solarpos_spark.operators.relational import sequence_pattern
        from solarpos_spark.streaming.stateful import funnel_first_match

        t0 = datetime(2024, 7, 3, 8, 0, 0)

        def ts(sec):
            return t0 + timedelta(seconds=sec)

        # delay 60 s, within 120 s. Watermarks: wm(<=batch0) = 520-60 =
        # 460; wm(<=batch1) = 600-60 = 540. Batch 2's two watermarks:
        # late filter 460, eviction 540 — the gap is (460, 540].
        files = [
            # batch 0: user-1 B's — a decoy below the coming eviction
            # line (@90) and first-match candidates just above it
            [(0, 1, "purchase", ts(90)), (1, 1, "purchase", ts(462)),
             (2, 1, "purchase", ts(510)), (3, 9, "purchase", ts(520))],
            # batch 1: pusher + a user-1 row so the key's eviction RUNS
            # with wm=460 (removes the @90 decoy; @462/@510 survive by
            # exactly the eviction==next-late-filter alignment)
            [(4, 9, "purchase", ts(580)), (5, 1, "purchase", ts(600))],
            # batch 2: gap A's (460 < a <= 540) — each arrives AFTER its
            # first-match B, already behind the eviction watermark
            [(6, 1, "error", ts(461)),   # window [461,581]: first B @462
             (7, 1, "error", ts(470))],  # window [470,590]: first B @510
            # batch 3: sentinel closes every window
            [(8, 9, "purchase", ts(36000))],
        ]
        rows = [r for f in files for r in f]
        ev = spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string, ts timestamp")
        parts = [ev.filter(F.col("event_id").isin([r[0] for r in batch]))
                 for batch in files]
        stream = ordered_file_stream(parts, str(tmp_path / "in")) \
            .withWatermark("ts", "60 seconds")
        out = funnel_first_match(stream, first_type="error",
                                 then_type="purchase", within_seconds=120)
        committed = commit_available_now(out, str(tmp_path / "out"),
                                         str(tmp_path / "ckpt"))
        got = committed.select("user_id", "a_event_id", "b_event_id",
                               "gap_usec")
        want = sequence_pattern(ev, first_type="error",
                                then_type="purchase", within_seconds=120)
        assert got.count() == 2  # both gap A's found their true first B
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_resume_from_checkpoint_preserves_state(self, spark, tmp_path):
        """Kill the stateful funnel mid-stream and resume from the same
        checkpoint: pending-window state (array-encoded in the state
        store) must survive the restart — the final committed rows still
        equal the batch first-match, with no duplicates."""
        from datetime import datetime, timedelta

        from solarpos_spark.operators.relational import sequence_pattern
        from solarpos_spark.streaming.stateful import funnel_first_match

        t0 = datetime(2024, 7, 2, 8, 0, 0)
        s = timedelta(seconds=1)
        rows, eid = [], 0
        for u in range(6):
            base = u * 400
            rows.append((eid, u, "error", t0 + base * s)); eid += 1
            # the match arrives in a LATER file than the error
            rows.append((eid, u, "purchase", t0 + (base + 60) * s)); eid += 1
        sentinel_id = eid
        rows.append((eid, 9, "purchase", t0 + timedelta(hours=10))); eid += 1
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp")
        in_dir = str(tmp_path / "in")
        # file 0: all errors; file 1: all purchases — every pending-A
        # state must cross the file-0/1 boundary. The sentinel file is
        # written only AFTER the phase-1 kill: if it were present during
        # phase 1, the kill could land after its offsets are logged but
        # before its commit, and the phase-2 availableNow restart — all
        # source offsets already committed — can terminate without the
        # watermark-advancing no-data batch, emitting nothing (observed
        # 2026-08-17 as an empty-sink flake). Deferring the sentinel
        # guarantees phase 2 has new data, so emission always runs.
        parts = [ev.filter((F.col("event_type") == "error")),
                 ev.filter((F.col("event_type") == "purchase")
                           & (F.col("event_id") != sentinel_id))]

        def funnel(parts):
            stream = ordered_file_stream(parts, in_dir) \
                .withWatermark("ts", "2 hours")
            return funnel_first_match(stream, first_type="error",
                                      then_type="purchase",
                                      within_seconds=120)

        out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        # phase 1: let >= 2 micro-batches commit (errors + purchases in
        # state), then kill before the sentinel closes the windows
        q = exactly_once_parquet_sink(funnel(parts), out_dir, ckpt)
        # generous deadline: only binds when micro-batch scheduling is
        # pathologically slow (shared-host tenant load); quiet wall ~5 s
        deadline = time.monotonic() + 420
        commits = os.path.join(ckpt, "commits")
        seen = 0
        while seen < 2 and time.monotonic() < deadline:
            time.sleep(1.0)
            seen = len([f for f in os.listdir(commits)
                        if not f.startswith(".")]) \
                if os.path.isdir(commits) else 0
        assert seen >= 2, "no micro-batch committed before kill"
        q.stop()
        q.awaitTermination(60)

        # phase 2: deliver the sentinel after the first two files, resume
        # from the checkpoint and drain
        got = commit_available_now(
            funnel([ev.filter(F.col("event_id") == sentinel_id)]),
            out_dir, ckpt).select("user_id", "a_event_id", "b_event_id",
                                  "gap_usec")
        want = sequence_pattern(ev, first_type="error",
                                then_type="purchase", within_seconds=120)
        assert got.count() == 6  # one funnel per user, exactly once
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


class TestFunnelChain:
    def test_stream_chain_equals_batch_under_shuffled_delivery(
            self, spark, tmp_path):
        """funnel_chain_first (n-step committed CEP) must commit EXACTLY
        relational.sequence_pattern_chain's rows for the same input,
        even with multi-batch shuffled delivery — links commit only
        when the watermark passes the head's full horizon. Includes the
        committed-semantics trap: a head whose FIRST successor has no
        onward match must fail (no backtracking to the second)."""
        from datetime import datetime, timedelta

        from solarpos_spark.operators.relational import (
            sequence_pattern_chain)
        from solarpos_spark.streaming.stateful import funnel_chain_first

        t0 = datetime(2024, 7, 4, 8, 0, 0)
        s = timedelta(seconds=1)
        rows, eid = [], 0

        def add(u, typ, sec):
            nonlocal eid
            rows.append((eid, u, typ, t0 + sec * s))
            eid += 1

        # user 0: clean chain A@0 -> B@30 -> C@70 (B@90 ignored)
        add(0, "view", 0); add(0, "click", 30)
        add(0, "click", 90); add(0, "purchase", 70)
        # user 1: committed trap — first click@10 has no purchase within
        # 120 s of it (purchase@200 > 10+120); click@100 would chain,
        # but committed semantics must NOT backtrack: no match
        add(1, "view", 5); add(1, "click", 10)
        add(1, "click", 100); add(1, "purchase", 200)
        # user 2: two heads commit to the SAME click->purchase tail
        add(2, "view", 0); add(2, "view", 50)
        add(2, "click", 60); add(2, "purchase", 150)
        # user 3: same-ts tiebreak (click id > view id at equal ts)
        add(3, "view", 40)
        rows.append((eid, 3, "click", t0 + 40 * s)); eid += 1
        add(3, "purchase", 41)
        # sentinel: far-future tail-type row drives the final watermark
        # past every horizon (tail type can't head a chain; 10 h away
        # can't serve any 120 s link)
        sentinel_id = eid
        add(9, "purchase", 36000)

        ev = spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string, ts timestamp")
        parts = shuffled_parts(ev, sentinel_id)
        stream = ordered_file_stream(parts, str(tmp_path / "in")) \
            .withWatermark("ts", "2 hours")
        out = funnel_chain_first(stream, ["view", "click", "purchase"],
                                 within_seconds=120)
        committed = commit_available_now(out, str(tmp_path / "out"),
                                         str(tmp_path / "ckpt"))
        got = committed.select("user_id", "step1_id", "step2_id",
                               "step3_id", "gap_usec")
        want = sequence_pattern_chain(ev, ["view", "click", "purchase"],
                                      within_seconds=120)
        gd = {r["user_id"]: r for r in got.collect()}
        # user 0 chains 0->1->3; user 1 must NOT match (committed trap);
        # user 2: both heads commit to click@60 -> purchase@150;
        # user 3 resolves the same-ts tiebreak
        assert 1 not in gd and 0 in gd and 3 in gd
        assert got.filter(F.col("user_id") == 2).count() == 2
        assert (gd[0]["step1_id"], gd[0]["step2_id"], gd[0]["step3_id"]) \
            == (0, 1, 3)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


class MockGroupState:
    """The GroupState one applyInPandasWithState call sees: the key's
    stored value, the batch's eviction watermark and a fresh event-time
    timeout (Spark forgets the old one unless the call sets it again)."""

    def __init__(self, value, wm_ms):
        self.value, self.wm_ms, self.timeout = value, wm_ms, None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ts):
        assert ts >= self.wm_ms  # GroupState raises below the watermark
        self.timeout = ts


def replay_follows_by(run, batches, delay_ms):
    """Feed ``batches`` (lists of (user, id, type, us) rows) to a
    follows-by machine the way a watermarked applyInPandasWithState
    does, plus the trailing no-data batch. Batch f drops rows at or
    below the late-event watermark wm(<=f-2) and hands the machine the
    eviction watermark wm(<=f-1) (SPARK-40925); keys without rows run
    only when their timeout is below it; every delivered row, dropped
    or not, advances the watermark. Returns (emitted rows, the rows
    the machine kept, the final watermark)."""
    import pandas as pd

    store, out, kept = {}, [], []
    late_wm = wm = 0
    max_ms = None
    for rows in [*batches, []]:
        evict_wm = wm
        live = [r for r in rows if r[3] > late_wm * 1000]
        kept += live
        for key in sorted({r[0] for r in live} | set(store)):
            mine = [r for r in live if r[0] == key]
            value, timeout = store.get(key, (None, None))
            if not mine and (timeout is None or timeout >= evict_wm):
                continue
            pdfs = [pd.DataFrame({
                "event_id": [r[1] for r in part],
                "event_type": [r[2] for r in part],
                "ts": pd.to_datetime([r[3] * 1000 for r in part])})
                for part in (mine[::2], mine[1::2]) if part]
            st = MockGroupState(value, evict_wm)
            for pdf in run((key,), iter(pdfs), st):
                out += [tuple(int(v) for v in r)
                        for r in pdf.itertuples(index=False)]
            if st.exists:
                store[key] = (st.value, st.timeout)
            else:
                store.pop(key, None)
        if rows:
            top = max(r[3] // 1000 for r in rows)
            max_ms = top if max_ms is None else max(max_ms, top)
        late_wm, wm = evict_wm, max(wm, max_ms - delay_ms)
    return out, kept, wm


def follows_by_fixpoint(rows, types, within_us, absent, wm_ms):
    """The batch answer, by brute force: each ``types[0]`` row whose
    whole horizon ``(k-1)*within`` the watermark passed walks its
    committed chain (first successor in (us, id) order per step)."""
    horizon = (len(types) - 1) * within_us
    out = []
    for user in sorted({r[0] for r in rows}):
        evs = sorted((r[3], r[1], r[2]) for r in rows if r[0] == user)
        for us, eid, typ in evs:
            if typ != types[0] or wm_ms <= (us + horizon) // 1000:
                continue
            cur, chain = (us, eid), [eid]
            for t in types[1:]:
                nxt = min((e[:2] for e in evs if e[2] == t and e[:2] > cur),
                          default=None)
                if nxt is None or nxt[0] > cur[0] + within_us:
                    chain = None
                    break
                cur = nxt
                chain.append(nxt[1])
            if absent:
                if chain is None:
                    out.append((user, eid))
            elif chain is not None:
                out.append((user, *chain, cur[0] - us))
    return out


class TestFollowsByMachine:
    @pytest.mark.parametrize("types,absent", [
        (["error", "purchase"], False),
        (["error", "purchase"], True),
        (["view", "click", "purchase"], False),
        (["view", "click", "view"], False),
    ], ids=["first_match", "absence", "chain3", "chain3_repeated_type"])
    def test_machine_equals_fixpoint_under_disorder(self, types, absent):
        """The follows-by machine behind funnel_first_match,
        funnel_absence and funnel_chain_first, driven without Spark
        through random out-of-order multi-batch deliveries with late
        drops: what it emits equals the brute-force batch answer over
        the rows it kept, cut at the final watermark — no row missing,
        none doubled. Times carry sub-millisecond parts and ties, so
        the millisecond close test is exercised at its edge. A type may
        repeat in the pattern, as in relational.sequence_pattern_chain."""
        import random

        from solarpos_spark.streaming.stateful import _make_chain

        rng = random.Random(11)
        cols = ["user_id", "a_event_id"] if absent else ["user_id"] + [
            f"step{i + 1}_id" for i in range(len(types))] + ["gap_usec"]
        t0 = 1_000_000_000
        emitted = 0
        for trial in range(250):
            # a 3 ms grid makes heads' horizons meet batch watermarks
            within_us = rng.choice([21_000, 51_000, 120_000])
            delay_ms = rng.choice([0, 6, 42, 300])
            n = rng.randrange(4, 40)
            ids = rng.sample(range(1000), n)
            rows = [(rng.randrange(2), ids[i], rng.choice(types),
                     t0 + rng.randrange(100) * 3000
                     + rng.choice([0, 0, rng.randrange(1000)]))
                    for i in range(n)]
            if rng.random() < 0.5:  # a far row closes most heads
                rows.append((9, 1000, types[-1], t0 + 10_000_000))
            rng.shuffle(rows)
            cuts = sorted(rng.sample(range(1, len(rows)),
                                     min(rng.randrange(1, 6), len(rows) - 1)))
            batches = [rows[a:b] for a, b in
                       zip([0, *cuts], [*cuts, len(rows)])]
            run = _make_chain(types, within_us, cols, absent)
            got, kept, wm = replay_follows_by(run, batches, delay_ms)
            want = follows_by_fixpoint(kept, types, within_us, absent, wm)
            assert sorted(got) == sorted(want), (trial, batches)
            emitted += len(got)
        assert emitted > 100


class TestStreamingHll:
    def test_registers_match_batch_and_batching_invariant(
            self, spark, tmp_path):
        """Streaming HLL register maintenance == the batch sketch over the
        same rows, at any micro-batch granularity (max commutes, so the
        committed register relation cannot depend on arrival order)."""
        from solarpos_spark.operators import sketches

        src = str(tmp_path / "tok")
        make_token_files(spark, src, n_docs=80, files=8)

        def run_mem(trigger_files: int, name: str):
            stream = tokens.read_token_stream(
                spark, src, max_files_per_trigger=trigger_files)
            dec = pipeline.decoded_stream(stream, watermark="1 hour")
            regs = pipeline.hourly_distinct_registers(dec, "doc_id", p=8)
            q = (regs.writeStream.outputMode("complete")
                 .format("memory").queryName(name)
                 .trigger(availableNow=True).start())
            drain(q)
            return sorted(
                (r.window_start, r.bucket, r.register)
                for r in spark.table(name).collect())

        a = run_mem(1, "hll_regs_a")
        b = run_mem(8, "hll_regs_b")
        assert a == b and len(a) > 0

        batch = tokens.decode_tokens(spark.read.parquet(src)).select(
            F.date_trunc("hour", F.timestamp_seconds(F.col("unix_sec")))
             .alias("window_start"),
            "doc_id")
        expect = sorted(
            (r.window_start, r.bucket, r.register)
            for r in sketches.hll_registers(
                batch, "doc_id", p=8,
                group_cols=("window_start",)).collect())
        assert a == expect

        # and the estimates over identical registers are identical too
        regs_df = spark.createDataFrame(
            [(str(w), int(bkt), int(reg)) for w, bkt, reg in a],
            "w string, bucket long, register int")
        est = sketches.hll_estimate(regs_df, p=8, group_cols=("w",))
        for r in est.collect():
            assert r.n_set + r.n_zero == 256
            assert r.est_distinct > 0


class TestStreamingCms:
    def test_counters_match_batch_any_batching(self, spark, tmp_path):
        """Streaming CMS counters == the batch sketch grouped by window,
        at any micro-batch granularity (count commutes)."""
        from solarpos_spark.operators import sketches

        src = str(tmp_path / "tok")
        make_token_files(spark, src, n_docs=80, files=8)

        def run_mem(trigger_files: int, name: str):
            stream = tokens.read_token_stream(
                spark, src, max_files_per_trigger=trigger_files)
            dec = pipeline.decoded_stream(stream, watermark="1 hour")
            cms = pipeline.windowed_cms_counts(dec, "doc_id", depth=3,
                                               width=32)
            q = (cms.writeStream.outputMode("complete")
                 .format("memory").queryName(name)
                 .trigger(availableNow=True).start())
            drain(q)
            return sorted((r.window_start, r.row, r.bucket, r.cnt)
                          for r in spark.table(name).collect())

        a = run_mem(1, "cms_a")
        b = run_mem(8, "cms_b")
        assert a == b and len(a) > 0

        batch = tokens.decode_tokens(spark.read.parquet(src)).select(
            F.date_trunc("hour", F.timestamp_seconds(F.col("unix_sec")))
             .alias("w"), "doc_id")
        expect = sorted(
            (r.w, r.row, r.bucket, r.cnt)
            for r in sketches.cms_table(batch, "doc_id", depth=3,
                                        width=32,
                                        group_cols=("w",)).collect())
        assert a == expect


class TestFirstNPerKey:
    def test_admission_equals_batch_rank_under_disorder(self, spark,
                                                        tmp_path):
        """first_n_per_key must admit EXACTLY the n earliest events per
        key in (ts, id) order, under shuffled multi-batch delivery —
        rows buffer until the watermark passes them, so arrival order
        cannot steal a slot from an earlier-timed row."""
        from datetime import datetime, timedelta

        from solarpos_spark.streaming.stateful import first_n_per_key

        t0 = datetime(2024, 7, 1, 8, 0, 0)
        s = timedelta(seconds=1)
        rows, eid = [], 0
        for u in range(4):
            for j in range(6):
                # deliberately non-monotone ids vs times within a user
                rows.append((eid, u, t0 + (u * 100 + (5 - j) * 7) * s))
                eid += 1
        # same-ts tiebreak: two rows at one instant — lower id wins the slot
        rows.append((eid, 7, t0 + 20 * s)); eid += 1
        rows.append((eid, 7, t0 + 20 * s)); eid += 1
        sentinel_id = eid
        rows.append((eid, 9, t0 + timedelta(hours=10))); eid += 1

        ev = spark.createDataFrame(rows,
                                   "event_id long, user_id long, ts timestamp")
        parts = shuffled_parts(ev, sentinel_id)
        stream = ordered_file_stream(parts, str(tmp_path / "in")) \
            .withWatermark("ts", "2 hours")
        out = first_n_per_key(stream, 3)
        committed = commit_available_now(out, str(tmp_path / "out"),
                                         str(tmp_path / "ckpt"))
        got = {(r.user_id, r.event_id, r.rank) for r in committed.collect()}
        # batch expectation: rank over (ts, id) per user, rank <= 3,
        # sentinel unreleased (watermark never passes its own time)
        from pyspark.sql import Window
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        want = {(r.user_id, r.event_id, r.rank)
                for r in ev.filter(F.col("event_id") != sentinel_id)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 3).collect()}
        assert got == want and len(got) == 4 * 3 + 2
        # the same-ts pair: lower id got the better rank
        u7 = sorted((eid_, rk) for (u, eid_, rk) in got if u == 7)
        assert u7[0][1] < u7[1][1]


class TestWindowedPrioritySample:
    def test_committed_sample_equals_batch_under_disorder(self, spark,
                                                          tmp_path):
        """windowed_priority_sample must commit EXACTLY the batch
        per-window k-smallest-priority selection for every window the
        final watermark closed, under shuffled multi-batch delivery —
        rows buffer per window until the watermark passes the window
        END, so arrival order cannot change the selection."""
        from datetime import datetime, timedelta

        from solarpos_spark.operators.curate import priority_expr
        from solarpos_spark.streaming.stateful import windowed_priority_sample

        t0 = datetime(2024, 7, 1, 8, 0, 0)
        s = timedelta(seconds=1)
        # 3 complete 60 s windows of 8 rows each + one straggler row
        # far in the future whose window never closes
        rows = [(i, t0 + (60 * (i % 3) + (i * 13) % 60) * s,
                 1 + i % 4) for i in range(24)]
        rows.append((99, t0 + timedelta(hours=10), 1))
        ev = spark.createDataFrame(rows,
                                   "event_id long, ts timestamp, w long")
        parts = shuffled_parts(ev, 99)
        stream = (ordered_file_stream(parts, str(tmp_path / "in"))
                  .withColumn("_pri", priority_expr(F.col("event_id"),
                                                    F.col("w")))
                  .withWatermark("ts", "10 minutes"))
        out = windowed_priority_sample(stream, k=3, window_s=60)
        committed = commit_available_now(out, str(tmp_path / "out"),
                                         str(tmp_path / "ckpt"))
        got = {(r.ws, r.event_id, r.rank) for r in committed.collect()}
        # batch expectation: per-60s-window rank over (priority, id),
        # rank <= 3, only windows the final watermark closed (the
        # straggler's own window stays open and the straggler itself
        # IS the watermark source, so exactly the 3 early windows emit)
        from pyspark.sql import Window
        w = Window.partitionBy("ws").orderBy("_pri", "event_id")
        batch = (ev.filter(F.col("event_id") != 99)
                 .withColumn("_pri", priority_expr(F.col("event_id"),
                                                   F.col("w")))
                 .withColumn("ws", (F.floor(F.unix_timestamp("ts") / 60)
                                    * 60).cast("long"))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= 3))
        want = {(r.ws, r.event_id, r.rank) for r in batch.collect()}
        assert got == want and len(got) == 9

    def test_combiner_path_equals_batch_under_disorder(self, spark,
                                                       tmp_path):
        """The r6 funnel-killer path (watermark_delay= -> per-partition
        suffix-top-k combiner below the operator-assigned watermark)
        must commit the IDENTICAL selection as the pre-r6 single-stage
        shape under shuffled multi-batch delivery."""
        from datetime import datetime, timedelta

        from solarpos_spark.operators.curate import priority_expr
        from solarpos_spark.streaming.stateful import windowed_priority_sample

        t0 = datetime(2024, 7, 1, 8, 0, 0)
        s = timedelta(seconds=1)
        rows = [(i, t0 + (60 * (i % 3) + (i * 13) % 60) * s,
                 1 + i % 4) for i in range(24)]
        rows.append((99, t0 + timedelta(hours=10), 1))
        ev = spark.createDataFrame(rows,
                                   "event_id long, ts timestamp, w long")
        parts = shuffled_parts(ev, 99)
        stream = (ordered_file_stream(parts, str(tmp_path / "in"))
                  .withColumn("_pri", priority_expr(F.col("event_id"),
                                                    F.col("w"))))
        out = windowed_priority_sample(stream, k=3, window_s=60,
                                       watermark_delay="10 minutes")
        committed = commit_available_now(out, str(tmp_path / "out"),
                                         str(tmp_path / "ckpt"))
        got = {(r.ws, r.event_id, r.rank) for r in committed.collect()}
        from pyspark.sql import Window
        w = Window.partitionBy("ws").orderBy("_pri", "event_id")
        batch = (ev.filter(F.col("event_id") != 99)
                 .withColumn("_pri", priority_expr(F.col("event_id"),
                                                   F.col("w")))
                 .withColumn("ws", (F.floor(F.unix_timestamp("ts") / 60)
                                    * 60).cast("long"))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= 3))
        want = {(r.ws, r.event_id, r.rank) for r in batch.collect()}
        assert got == want and len(got) == 9

    def test_state_truncates_to_k(self):
        """After EVERY batch the sampler state holds at most k slots
        (VERDICT r5 #1: O(k) state, not O(window-rows)) and the final
        emission equals the full-buffer selection."""
        import pandas as pd

        from solarpos_spark.streaming.stateful import _make_wsample

        class FakeState:
            def __init__(self):
                self._v = None
                self.removed = False
                self.wm = 0

            @property
            def exists(self):
                return self._v is not None

            @property
            def get(self):
                return self._v

            def update(self, v):
                self._v = v

            def remove(self):
                self._v = None
                self.removed = True

            def getCurrentWatermarkMs(self):
                return self.wm

            def setTimeoutTimestamp(self, ts):
                self.timeout = ts

        k, window_s = 3, 60
        run = _make_wsample(k, window_s)
        st = FakeState()
        # 4 batches x 10 rows into window ws=0, priorities descending so
        # every batch displaces state; then a closing empty batch
        all_rows = []
        for b in range(4):
            pdf = pd.DataFrame({
                "event_id": [100 * b + i for i in range(10)],
                "_pri": [1000.0 - (b * 10 + i) for i in range(10)]})
            all_rows.append(pdf)
            st.wm = 0
            list(run((0,), iter([pdf]), st))
            ids, pris = st.get
            assert len(ids) <= k and len(pris) <= k
        st.wm = window_s * 1000  # watermark passes window end
        out = list(run((0,), iter([pd.DataFrame(
            {"event_id": [], "_pri": []})]), st))
        got = [(r.event_id, r["rank"]) for _, r in out[0].iterrows()]
        full = pd.concat(all_rows).sort_values(["_pri", "event_id"])
        want = [(int(e), r + 1) for r, e in
                enumerate(full["event_id"].head(k))]
        assert got == want and st.removed

    def test_combiner_rule_is_output_invariant(self):
        """Property check of the suffix-top-k keep rule: for every
        late-filter threshold T, the top-k of the survivors with
        ts >= T computed over the combiner's output equals the one
        computed over the raw rows (the invariant that makes the
        pre-reduction safe under any watermark schedule)."""
        import random

        import pandas as pd

        from solarpos_spark.streaming.stateful import _make_wsample_combiner

        rng = random.Random(7)
        k, window_s = 3, 60
        run = _make_wsample_combiner(k, window_s)
        for trial in range(20):
            n = rng.randrange(5, 60)
            base = 1_700_000_000
            rows = {
                "ts": pd.to_datetime(
                    [(base + rng.randrange(0, 180)) * 1_000_000_000
                     for _ in range(n)]),
                "event_id": list(range(n)),
                "_pri": [rng.random() for _ in range(n)],
            }
            pdf = pd.DataFrame(rows)
            kept = pd.concat(list(run(iter([pdf]))))
            assert len(kept) <= len(pdf)
            us = pdf["ts"].astype("int64") // 1000
            ws = (us // 1_000_000 // window_s) * window_s
            kus = kept["ts"].astype("int64") // 1000
            kws = (kus // 1_000_000 // window_s) * window_s
            for t_us in sorted(set(us)) + [0]:
                for w in set(ws):
                    raw = pdf[(us >= t_us) & (ws == w)]
                    cmb = kept[(kus >= t_us) & (kws == w)]
                    top_raw = raw.sort_values(["_pri", "event_id"]) \
                        .head(k)["event_id"].tolist()
                    top_cmb = cmb.sort_values(["_pri", "event_id"]) \
                        .head(k)["event_id"].tolist()
                    assert top_raw == top_cmb, (trial, t_us, w)

    def test_open_window_emits_nothing(self, spark, tmp_path):
        """A window the watermark never closes must stay wholly
        unemitted (state retained, nothing committed)."""
        from datetime import datetime

        from solarpos_spark.operators.curate import priority_expr
        from solarpos_spark.streaming.stateful import windowed_priority_sample

        ev = spark.createDataFrame(
            [(1, datetime(2024, 7, 1, 8, 0, 0), 5)],
            "event_id long, ts timestamp, w long")
        stream = (ordered_file_stream([ev], str(tmp_path / "in"))
                  .withColumn("_pri", priority_expr(F.col("event_id"),
                                                    F.col("w")))
                  .withWatermark("ts", "10 minutes"))
        out = windowed_priority_sample(stream, k=3, window_s=60)
        committed = commit_available_now(out, str(tmp_path / "out"),
                                         str(tmp_path / "ckpt"))
        assert committed.count() == 0


class TestStreamingZscoreAnomalies:
    def test_equals_batch_rolling_under_disorder(self, spark, tmp_path):
        """streaming_zscore_anomalies must flag EXACTLY the rows the
        batch rolling-frame formula flags among watermark-released
        rows, under shuffled multi-batch delivery."""
        from datetime import datetime, timedelta

        from solarpos_spark.streaming.stateful import (
            streaming_zscore_anomalies)

        t0 = datetime(2024, 7, 1, 8, 0, 0)
        s = timedelta(seconds=30)
        vals = [1000 + (i * 7) % 5 for i in range(30)]
        vals[20] = 5000  # the spike
        rows = [(i, 1, t0 + i * s, v) for i, v in enumerate(vals)]
        rows.append((99, 1, t0 + timedelta(hours=10), 1000))  # wm source
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, _vc long")
        parts = shuffled_parts(ev, 99)
        # delay exceeds the data span so nothing releases until the
        # far-future sentinel's batch — rows from ALL batches must then
        # fold into state and release in (ts, id) order regardless of
        # the shuffled arrival (a tight delay here would instead
        # late-drop out-of-order rows: in-order delivery is the gate
        # entry's documented precondition, not this test's subject)
        stream = ordered_file_stream(parts, str(tmp_path / "in")) \
            .withWatermark("ts", "1 hour")
        out = streaming_zscore_anomalies(stream, window_rows=10,
                                         min_history=5, z_threshold=2.0)
        committed = commit_available_now(out, str(tmp_path / "out"),
                                         str(tmp_path / "ckpt"))
        got = {(r.event_id, r.z) for r in committed.collect()}
        # Python reference: rolling formula over the released rows
        # (everything but the far-future watermark source)
        want = set()
        hist: list[int] = []
        for i, v in enumerate(vals):
            tail = hist[-10:]
            n = len(tail)
            if n >= 5:
                S = float(sum(tail))
                SS = float(sum(x * x for x in tail))
                mean = S / n
                var = (SS - S * S / n) / (n - 1)
                if var > 0:
                    z = (float(v) - mean) / var ** 0.5
                    if abs(z) >= 2.0:
                        want.add((i, round(z, 6)))
            hist.append(v)
        assert got == want
        assert any(eid == 20 for eid, _ in got)  # the spike is flagged
