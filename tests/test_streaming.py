"""Streaming surface: incremental file ingestion must produce exactly the
batch rollup of the union of all arrived files (exactly-once), and the
streamed sessions and HLL registers must match their batch twins."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest


def _await_done(q):
    q.awaitTermination(120)
    assert not q.isActive


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    (root / "src").mkdir()
    return root


def test_stream_rollup_incremental_equals_batch(spark, stream_dirs):
    from tsrollup.datagen import generate_batch
    from tsrollup.rollup import rollup_sequences
    from tsrollup.streaming import stream_rollup_sequences

    src = str(stream_dirs / "src")
    sink = str(stream_dirs / "sink")
    ckpt = str(stream_dirs / "ckpt")

    # Arrival 1: files 0-1; arrival 2 (after a restart): file 2.
    for b in (0, 1):
        pq.write_table(generate_batch(100 + b, 40, max_len=512),
                       f"{src}/part-{b}.parquet")
    q = stream_rollup_sequences(spark, src, sink, ckpt,
                                window=16, tiers={"w": 1, "w4": 4})
    _await_done(q)

    pq.write_table(generate_batch(102, 40, max_len=512), f"{src}/part-2.parquet")
    q = stream_rollup_sequences(spark, src, sink, ckpt,
                                window=16, tiers={"w": 1, "w4": 4})
    _await_done(q)  # restart from checkpoint: only the new file is processed

    got = spark.read.parquet(sink).toPandas()
    want = rollup_sequences(spark.read.parquet(src),
                            window=16, tiers={"w": 1, "w4": 4}).toPandas()

    assert len(got) == len(want)  # no duplicates across the restart
    key = ["doc_id", "tier", "window_start"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    for c in ("count", "sum", "sumsq", "min", "max"):
        assert (got[c].values == want[c].values).all()
    for c in ("mean", "var", "spec_energy", "spec_mass", "spec_centroid"):
        a = got[c].to_numpy(np.float64)
        b = want[c].to_numpy(np.float64)
        assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c


def test_stream_sessionize_matches_batch_sessionize(spark, tmp_path):
    """Native session windows (streaming) must reproduce the batch
    gap-sessionization operator exactly once the watermark closes every
    session — the same 30-min-gap rule the sessionize oracle pins."""
    from tsrollup.segments import sessionize
    from tsrollup.streaming import stream_sessionize

    rng = np.random.default_rng(13)
    n = 400
    ev = pd.DataFrame({
        "user_id": rng.integers(0, 10, n).astype(np.int64),
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.Timestamp("2026-01-01")
        + pd.to_timedelta(np.sort(rng.integers(0, 6 * 86400, n)), unit="s"),
        "value": np.round(rng.uniform(0, 100, n), 2),
    })
    src = tmp_path / "events"
    src.mkdir()
    ev.to_parquet(src / "p0.parquet", coerce_timestamps="us",
                  allow_truncated_timestamps=True)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run_once():
        stream = (spark.readStream
                  .schema("user_id long, event_id long, ts timestamp, "
                          "value double")
                  .parquet(str(src)))
        q = (stream_sessionize(stream, gap_minutes=30, watermark="1 hour")
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        _await_done(q)

    run_once()
    # push the watermark past every session close, then drain again
    flush = pd.DataFrame({
        "user_id": np.array([9999], dtype=np.int64),
        "event_id": np.array([10**9], dtype=np.int64),
        "ts": [pd.Timestamp("2026-02-01")], "value": [0.0]})
    flush.to_parquet(src / "p1.parquet", coerce_timestamps="us",
                     allow_truncated_timestamps=True)
    run_once()

    got = (spark.read.parquet(sink).filter("user_id <> 9999")
           .toPandas().sort_values(["user_id", "start_ts"])
           .reset_index(drop=True))
    from pyspark.sql import functions as F

    s = sessionize(spark.createDataFrame(ev), gap_minutes=30)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    want_raw = (s.groupBy("user_id", "session_id")
                .agg(F.count("*").cast("long").alias("n_events"),
                     F.min("ts").alias("start_ts"),
                     F.max("ts").alias("end_ts"),
                     (F.max(us) - F.min(us)).cast("long")
                     .alias("duration_us"),
                     F.sum(F.col("value").cast("decimal(18,2)"))
                     .cast("double").alias("sum_value"))
                .drop("session_id"))
    want = (want_raw.toPandas().sort_values(["user_id", "start_ts"])
            .reset_index(drop=True))
    assert len(got) == len(want) > 0
    for c in ("user_id", "n_events", "start_ts", "end_ts", "duration_us",
              "sum_value"):
        assert (got[c].values == want[c].values).all(), c


def test_stream_sessionize_gap_boundary(spark):
    """A gap of exactly gap_minutes stays in-session (the batch oracle's
    STRICTLY-greater split rule); one microsecond more splits."""
    import datetime as dt

    from tsrollup.streaming import stream_sessionize

    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        (1, 0, t0, 1.0),
        (1, 1, t0 + dt.timedelta(minutes=30), 2.0),           # == gap: same
        (2, 2, t0, 1.0),
        (2, 3, t0 + dt.timedelta(minutes=30, microseconds=1), 2.0),  # split
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    out = stream_sessionize(df, gap_minutes=30).toPandas()
    per_user = out.groupby("user_id").size()
    assert per_user[1] == 1 and per_user[2] == 2
    merged = out[out.user_id == 1].iloc[0]
    assert merged.n_events == 2 and merged.duration_us == 1_800_000_000


def test_stream_sessionize_rejects_bad_gap(spark):
    from tsrollup.streaming import stream_sessionize

    with pytest.raises(ValueError):
        stream_sessionize(spark.range(1), gap_minutes=0)


def test_stream_sessionize_merges_across_triggers(spark, tmp_path):
    """Native session_window sessions, fed across two triggers with
    maxFilesPerTrigger=1 (sessions that straddle the file boundary must
    MERGE in the state store), must equal the batch aggregation of the
    full input. A far-future sentinel advances the watermark so every
    real session flushes under availableNow."""
    from tsrollup.streaming import stream_sessionize

    rng = np.random.default_rng(41)
    n = 300
    base = pd.Timestamp("2026-01-01")
    steps = rng.integers(1, 20, n).cumsum()  # global minutes timeline
    ev = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": rng.integers(0, 4, n).astype(np.int64),
        "ts": base + pd.to_timedelta(steps, unit="m"),
        "value": np.round(rng.uniform(0, 100, n), 2),
    })
    src = tmp_path / "ev"
    src.mkdir()
    kw = dict(coerce_timestamps="us", allow_truncated_timestamps=True)
    ev.iloc[:150].to_parquet(src / "p0.parquet", **kw)
    sentinel = pd.DataFrame({
        "event_id": np.int64([10**6]), "user_id": np.int64([999]),
        "ts": [base + pd.Timedelta(days=30)], "value": [1.0]})
    pd.concat([ev.iloc[150:], sentinel]).to_parquet(src / "p1.parquet", **kw)

    stream = (spark.readStream
              .schema("event_id long, user_id long, ts timestamp, "
                      "value double")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (stream_sessionize(stream).writeStream
         .format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert not q.isActive

    got = (spark.read.parquet(sink).filter("user_id < 999").toPandas()
           .sort_values(["user_id", "start_ts"])
           .reset_index(drop=True))
    want = (stream_sessionize(
                spark.createDataFrame(ev, "event_id long, user_id long, "
                                          "ts timestamp, value double"))
            .toPandas().sort_values(["user_id", "start_ts"])
            .reset_index(drop=True))
    assert len(got) == len(want) > 10
    for c in ("user_id", "start_ts", "end_ts", "n_events",
              "duration_us", "sum_value"):
        assert (got[c].values == want[c].values).all(), c


def test_stream_hll_registers_match_batch(spark, tmp_path):
    """Bounded-state streaming HLL (stream_hll_actives): streamed
    per-bucket registers must equal batch hll_registers over the same
    bucketing bit-for-bit across multi-file arrival, the streamed table
    must feed hll_estimate identically, and per-bucket state must be
    bounded by m = 2^p rows."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from tsrollup.sketches import hll_estimate, hll_registers
    from tsrollup.streaming import stream_hll_actives

    t0 = dt.datetime(2026, 4, 1)
    rng = np.random.default_rng(23)
    frames = []
    eid = 0
    for f in range(3):
        n = 500
        rows = pd.DataFrame({
            "event_id": np.arange(eid, eid + n, dtype=np.int64),
            "user_id": rng.integers(1, 3000, size=n).astype(np.int64),
            "ts": [t0 + dt.timedelta(seconds=int(s))
                   for s in rng.integers(f * 3600, (f + 2) * 3600, size=n)],
            "value": 1.0})
        eid += n
        frames.append(rows)
    flush = pd.DataFrame({
        "event_id": np.array([99999], dtype=np.int64),
        "user_id": np.int64(777777),
        "ts": [t0 + dt.timedelta(days=3)], "value": 0.0})
    frames.append(flush)
    src = tmp_path / "ev"
    src.mkdir()
    for i, fr in enumerate(frames):
        pth = src / f"f{i}.parquet"
        fr.to_parquet(pth, coerce_timestamps="us",
                      allow_truncated_timestamps=True)
        os.utime(pth, (1_700_000_000 + i * 60,) * 2)

    stream = (spark.readStream
              .schema("event_id long, user_id long, ts timestamp, "
                      "value double")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (stream_hll_actives(stream, p=6, watermark="4 hours")
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    _await_done(q)
    cutoff = dt.datetime(2026, 4, 2)
    got = (spark.read.parquet(sink).filter(F.col("bucket_ts") < cutoff)
           .toPandas().sort_values(["bucket_ts", "idx"])
           .reset_index(drop=True))

    batch = spark.read.parquet(str(src)).filter("user_id != 777777")
    want = (hll_registers(
        batch.withColumn("bucket_ts", F.window("ts", "3600 seconds")
                         .start),
        "user_id", ["bucket_ts"], p=6)
        .toPandas().sort_values(["bucket_ts", "idx"])
        .reset_index(drop=True))
    assert len(got) == len(want) > 0
    assert (got.bucket_ts.values == want.bucket_ts.values).all()
    assert (got.idx.values == want.idx.values).all()
    assert (got.r.values == want.r.values).all()
    # bounded state: never more than m = 64 register rows per bucket
    assert got.groupby("bucket_ts").size().max() <= 64
    # the streamed table feeds the SAME estimate read path bit-for-bit
    est_s = (hll_estimate(spark.createDataFrame(got), ["bucket_ts"], p=6)
             .toPandas().sort_values("bucket_ts").reset_index(drop=True))
    est_b = (hll_estimate(spark.createDataFrame(want), ["bucket_ts"], p=6)
             .toPandas().sort_values("bucket_ts").reset_index(drop=True))
    assert (est_s.hll_est.values == est_b.hll_est.values).all()


def test_stream_hll_batch_degrade_and_guards(spark):
    """On a batch frame stream_hll_actives degrades to the plain
    register groupBy: equal to hll_registers over the same bucket
    column; NULL keys drop; validation rejects bucket_seconds < 1."""
    import datetime as dt

    from pyspark.sql import functions as F

    from tsrollup.sketches import hll_registers
    from tsrollup.streaming import stream_hll_actives

    rows = [(1, dt.datetime(2026, 1, 1, 0, 10)),
            (2, dt.datetime(2026, 1, 1, 0, 20)),
            (None, dt.datetime(2026, 1, 1, 0, 30)),
            (2, dt.datetime(2026, 1, 1, 1, 5))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted((r.bucket_ts, r.idx, r.r)
                 for r in stream_hll_actives(df, p=8).collect())
    want = sorted((r.bucket_ts, r.idx, r.r) for r in hll_registers(
        df.withColumn("bucket_ts", F.window("ts", "3600 seconds").start),
        "user_id", ["bucket_ts"], p=8).collect())
    assert got == want and len(got) == 3  # NULL dropped; 2 dedups per reg
    with pytest.raises(ValueError):
        stream_hll_actives(df, bucket_seconds=0)
