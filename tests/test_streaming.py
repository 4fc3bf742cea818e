"""Structured Streaming tests: stream validation parity with batch
(the strip==full discipline applied to micro-batches)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from sparkval import fixtures as fx
from sparkval.config import ValidationConfig
from sparkval.engine import ValidationEngine
from sparkval.schema import CORPUS_SCHEMA
from sparkval.streaming import stream_validate, windowed_lang_counts

CFG = ValidationConfig(short_circuit_identical=False)


def test_stream_validate_matches_batch(spark, tmp_path):
    base_pdf = fx.make_corpus("random_mid", 600)
    snap_pdf = fx.distort(base_pdf, "quantize_3")

    src = str(tmp_path / "src")
    spark.createDataFrame(snap_pdf).write.parquet(src)

    eng = ValidationEngine(CFG)
    base = eng.build_baseline(spark.createDataFrame(base_pdf))
    base.persist().count()

    want = eng.validate(spark.createDataFrame(snap_pdf), base)["verdicts"].toPandas()

    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_validate(stream, base, CFG, out, ckpt, trigger_once=True)
    q.awaitTermination(300)

    got = spark.read.parquet(out).toPandas()
    a = want.set_index(["repo_bucket", "lang"])["score"].sort_index()
    b = got.set_index(["repo_bucket", "lang"])["score"].sort_index()
    # single micro-batch -> identical inputs -> identical scores
    assert list(a.index) == list(b.index)
    assert np.allclose(a.to_numpy(), b.to_numpy())


def test_windowed_lang_counts_matches_batch_groupby(spark, tmp_path):
    """The windowed aggregation, run over a real micro-batched stream,
    must reproduce the plain batch groupBy counts."""
    pdf = fx.make_corpus("random_mid", 400)[["repo", "lang"]].copy()
    import pandas as pd

    pdf["ts"] = pd.Timestamp("2026-01-01") + pd.to_timedelta(
        (np.arange(len(pdf)) * 7) % 600, unit="s"
    )
    src = str(tmp_path / "events")
    df = spark.createDataFrame(pdf)
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    # complete mode + memory sink: availableNow may split the input
    # into several micro-batches in arbitrary file order, and append
    # mode would drop cross-batch late rows at the watermark; complete
    # mode keeps all state, so the final table equals the batch agg.
    agg = windowed_lang_counts(stream, ts_col="ts", window="1 minute")

    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "winckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = (
        spark.table("win_counts")
        .toPandas()
        .set_index(["window_start", "lang"])["n"]
        .sort_index()
    )
    want = (
        df.groupBy(F.date_trunc("minute", "ts").alias("window_start"), "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
        .set_index(["window_start", "lang"])["n"]
        .sort_index()
    )
    # watermark may hold back nothing with availableNow + append on
    # finite input: all windows flush at end-of-stream
    assert got.equals(want)


def test_stream_cumulative_drift_matches_numpy(spark, tmp_path):
    """The stateful monitor's running score after the last micro-batch
    equals a straight-line numpy drift over everything streamed. One
    file per micro-batch, so each bucket's state folds across
    batches."""
    from sparkval import kernels
    from sparkval.config import LANG_VOCAB
    from sparkval.histograms import repo_bucket_py
    from sparkval.streaming import stream_cumulative_drift

    base_pdf = fx.make_corpus("random_mid", 500)
    snap_pdf = fx.distort(base_pdf, "quantize_3")
    src = str(tmp_path / "cum_src")
    spark.createDataFrame(snap_pdf).repartition(3).write.parquet(src)

    eng = ValidationEngine(CFG)
    base = eng.build_baseline(spark.createDataFrame(base_pdf))
    base.persist().count()

    stream = spark.readStream.schema(CORPUS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream_cumulative_drift(stream, base, CFG)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cum_drift")
        .option("checkpointLocation", str(tmp_path / "cum_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2
    got = (
        spark.table("cum_drift")
        .toPandas()
        .sort_values("files_seen")
        .groupby("repo_bucket")
        .last()  # last emitted row per bucket = full-stream state
    )

    # numpy oracle: per-bucket baseline channels from the collected
    # baseline table, full-snapshot hists per bucket
    base_by_bucket = {}
    for b, grp in base.toPandas().groupby("repo_bucket"):
        lang = np.zeros(len(LANG_VOCAB))
        for lg, n in zip(grp["lang"], grp["n_files"]):
            lang[LANG_VOCAB.index(lg)] += n
        base_by_bucket[b] = {
            "byte": np.sum(np.stack(grp["byte_hist"]), axis=0).astype(np.float64),
            "len": np.sum(np.stack(grp["len_hist"]), axis=0).astype(np.float64),
            "lang": lang,
        }
    snap_pdf = snap_pdf.assign(
        _b=snap_pdf["repo"].map(lambda r: repo_bucket_py(r, CFG.n_repo_buckets))
    )
    for b, grp in snap_pdf.groupby("_b"):
        blob = np.frombuffer(
            "\x00".join(grp["content"].dropna()).encode("utf-8", "replace"), dtype=np.uint8
        )
        bh = np.zeros(256, dtype=np.int64)
        np.add.at(bh, blob, 1)
        bh[0] -= len(grp["content"].dropna()) - 1
        lens = grp["content"].dropna().str.len().to_numpy(dtype=np.int64)
        lh = np.zeros(64, dtype=np.int64)
        np.add.at(lh, np.clip(np.log2(lens + 1).astype(np.int64), 0, 63), 1)
        gh = np.zeros(len(LANG_VOCAB), dtype=np.float64)
        for lg, cnt in grp["lang"].str.lower().value_counts().items():
            gh[LANG_VOCAB.index(lg if lg in LANG_VOCAB else "other")] += cnt
        snap = {"byte": bh.astype(np.float64), "len": lh.astype(np.float64),
                "lang": gh / max(gh.sum(), 1)}
        want, _, _ = kernels.drift_score(base_by_bucket[b], snap)
        assert np.isclose(got.loc[b, "score"], want, rtol=1e-9), (b, got.loc[b, "score"], want)
        assert got.loc[b, "files_seen"] == len(grp)


# ----------------------------------------------------- streaming_sessions

def test_streaming_sessions_match_batch_gaps_and_islands(spark, tmp_path):
    """Append-mode session windows over 3 in-order micro-batches must
    land exactly on the batch gaps-and-islands sessionization for
    every session finalized by the final watermark."""
    import datetime as dt
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from sparkval.streaming import streaming_sessions

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    # user 1: two sessions (events 5 min apart, then a 2h gap)
    for m in (0, 5, 10):
        rows.append((1, t0 + dt.timedelta(minutes=m)))
    for m in (130, 135):
        rows.append((1, t0 + dt.timedelta(minutes=m)))
    # user 2: one long session + one trailing event inside the final
    # watermark horizon (must NOT be emitted)
    for m in (0, 20, 40):
        rows.append((2, t0 + dt.timedelta(minutes=m)))
    rows.append((2, t0 + dt.timedelta(hours=30)))  # stream max ts
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"]).sort_values("ts")

    src = str(tmp_path / "src")
    for i in range(3):
        chunk = pdf.iloc[i * 3:(i + 1) * 3]
        if chunk.empty:
            continue
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_sessions(stream, gap="30 minutes", watermark="2 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sessions")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table("t_sessions").collect()
    }
    # final watermark = t0+30h - 2h; the 30h event's session (ends
    # 30h30m) is still open -> 3 finalized sessions
    want = {
        (1, t0, 3),
        (1, t0 + dt.timedelta(minutes=130), 2),
        (2, t0, 3),
    }
    assert got == want


def test_streaming_sessions_boundary_event_merges(spark, tmp_path):
    """An event exactly gap after the previous one DOES merge
    (inclusive boundary, observed behavior) — pinned so the oracle's
    <=-gap gaps-and-islands stays in lockstep."""
    import datetime as dt

    import pandas as pd

    from sparkval.streaming import streaming_sessions

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": [
                t0,
                t0 + dt.timedelta(minutes=30),   # exactly at prev end
                t0 + dt.timedelta(days=2),       # watermark pusher
            ],
        }
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
    )
    q = (
        streaming_sessions(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sessions_b")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        spark.table("t_sessions_b").collect(), key=lambda r: r["session_start"]
    )
    assert [(r["session_start"], r["n_events"]) for r in rows] == [
        (t0, 2),
    ]


def test_stream_freshness_state_equals_batch_report(spark, tmp_path):
    """stream == batch for the freshness monitor: 3 micro-batches of a
    tiny event table into complete-mode state, finalized by the SHARED
    freshness_verdicts, must equal the batch freshness_report."""
    import pandas as pd

    from pyspark.sql import functions as F

    from sparkval.pipeline.events import freshness_report, freshness_verdicts
    from sparkval.streaming import stream_freshness

    rows = [
        ("a", "2024-01-01 00:00:00"),
        ("a", "2024-01-01 06:00:00"),
        ("b", "2024-01-01 01:00:00"),
        ("c", "2024-01-01 05:30:00"),
    ]
    ev = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_type", "ts"])
    ).select("event_type", F.col("ts").cast("timestamp").alias("ts"))
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for i in range(3):
        ev.filter(F.pmod(F.xxhash64("ts"), F.lit(3)) == i).repartition(
            1
        ).write.mode("append").parquet(src)

    q = (
        stream_freshness(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.format("memory")
        .queryName("t_fresh_state")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = freshness_verdicts(spark.table("t_fresh_state")).collect()
    want = freshness_report(ev).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    # and the verdicts themselves: b is >2h behind a's last event
    by = {r["event_type"]: r for r in got}
    assert by["b"]["is_stale"] and not by["a"]["is_stale"]
    assert not by["c"]["is_stale"]  # 30 min lag
