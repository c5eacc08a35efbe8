"""Structured Streaming tests: streaming results == batch results for
the same operators (parity strategy, SURVEY §2.9)."""

import numpy as np
import pandas as pd
import pytest

from magmapandas_spark.streaming import streams

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    return streams.read_events_batch(spark, SF_DIR)


def normalize(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def test_tumbling_stream_matches_batch(spark, batch_events):
    stream = streams.read_events_stream(spark, SF_DIR)
    got = streams.run_stream_to_memory(
        streams.tumbling_counts(stream), "tumbling_test", "complete"
    ).toPandas()
    exp = streams.tumbling_counts(batch_events).toPandas()
    a, b = normalize(got), normalize(exp)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_session_windows_stream(spark, batch_events):
    stream = streams.read_events_stream(spark, SF_DIR)
    got = streams.run_stream_to_memory(
        streams.user_sessions(stream), "sessions_test", "complete"
    ).toPandas()
    exp = streams.user_sessions(batch_events).toPandas()
    a, b = normalize(got), normalize(exp)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # sessions are non-empty and bounded
    assert (a["n_events"] > 0).all()


def test_sliding_window_stream(spark, batch_events):
    stream = streams.read_events_stream(spark, SF_DIR)
    got = streams.run_stream_to_memory(
        streams.sliding_value_avg(stream), "sliding_test", "complete"
    ).toPandas()
    exp = streams.sliding_value_avg(batch_events).toPandas()
    assert len(got) == len(exp)
    a, b = normalize(got), normalize(exp)
    assert np.allclose(
        a["n_events"].to_numpy(float), b["n_events"].to_numpy(float)
    )


def test_stream_timeout_stops_query_and_raises(spark):
    """A query still running at its timeout is stopped and reported,
    not returned as a partial table."""
    stream = streams.read_events_stream(spark, SF_DIR)
    with pytest.raises(TimeoutError, match="timeout_test"):
        streams.run_stream_to_memory(
            streams.tumbling_counts(stream), "timeout_test", "complete",
            timeout_s=0.001,
        )
    assert all(q.name != "timeout_test" for q in spark.streams.active)


def test_dedup_within_watermark_stream(spark, batch_events):
    stream = streams.read_events_stream(spark, SF_DIR)
    got = streams.run_stream_to_memory(
        streams.dedup_within_watermark(stream), "dedup_test", "append"
    ).toPandas()
    exp_n = batch_events.dropDuplicates(["event_id"]).count()
    assert len(got) == exp_n
    assert got["event_id"].is_unique


def test_stateful_running_totals(spark, batch_events):
    stream = streams.read_events_stream(spark, SF_DIR)
    got = streams.run_stream_to_memory(
        streams.running_user_totals(stream), "state_test", "update"
    ).toPandas()
    # final state per user (last update) == batch per-user totals
    final = got.groupby("user_id").last().reset_index()
    exp = (
        batch_events.groupBy("user_id")
        .agg({"event_id": "count", "value": "sum"})
        .toPandas()
        .rename(
            columns={"count(event_id)": "n_events", "sum(value)": "total_value"}
        )
    )
    merged = final.merge(exp, on="user_id", suffixes=("_got", "_exp"))
    assert len(merged) == len(exp)
    assert (merged["n_events_got"] == merged["n_events_exp"]).all()
    assert np.allclose(
        merged["total_value_got"], merged["total_value_exp"], rtol=1e-9
    )


def test_stateful_recovery_across_crash(spark, batch_events, tmp_path):
    """Kill a stateful running-totals query mid-stream and restart it
    from its checkpoint: the recovered state must make the final
    per-user totals equal the batch twin over ALL input — exactly-once
    across the crash, not just idempotent re-delivery.

    The crash is deterministic: maxFilesPerTrigger=1 splits the input
    into three micro-batches, and run 1's foreachBatch raises on
    batch 1 AFTER batch 0 committed (state + sink output). Run 2
    reuses the checkpoint: it must re-run batch 1 exactly once (its
    failed attempt never committed), must NOT re-run batch 0, and must
    resume from batch 0's recovered state rather than zero."""
    from pyspark.sql import functions as F

    in_dir = tmp_path / "input"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    # three input files = three micro-batches (same schema as events)
    ev = batch_events.withColumn(
        "part", (F.col("event_id") % 3).cast("int")
    ).localCheckpoint(eager=True)
    for p in range(3):
        ev.filter(F.col("part") == p).drop("part").coalesce(1)\
            .write.mode("overwrite").parquet(str(in_dir / f"f{p}.parquet"))
        for f in (in_dir / f"f{p}.parquet").glob("part-*.parquet"):
            f.rename(in_dir / f"events_{p}.parquet")
    import shutil

    for p in range(3):
        shutil.rmtree(in_dir / f"f{p}.parquet")

    schema = ev.drop("part").schema

    def totals_stream():
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        return streams.running_user_totals(raw)

    def sink(crash: bool):
        def process(batch_df, batch_id):
            if crash and batch_id >= 1:
                raise RuntimeError("injected crash on batch 1")
            batch_df.withColumn("batch_id", F.lit(batch_id))\
                .write.mode("append").parquet(out_dir)

        return process

    # run 1: commits batch 0, dies on batch 1
    q = (
        totals_stream().writeStream.foreachBatch(sink(crash=True))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(180)
        raise RuntimeError(q.exception() or "query finished cleanly")

    # run 2: restart from the SAME checkpoint, drain the rest
    q2 = (
        totals_stream().writeStream.foreachBatch(sink(crash=False))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180)

    got = spark.read.parquet(out_dir).toPandas()
    # batch 0 committed exactly once (run 2 must not replay it)
    assert not got.duplicated(subset=["user_id", "batch_id"]).any()
    assert sorted(got["batch_id"].unique()) == [0, 1, 2]

    # final state (greatest batch_id per user) == batch twin totals
    final = (
        got.sort_values("batch_id").groupby("user_id").last().reset_index()
    )
    exp = (
        batch_events.groupBy("user_id")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .toPandas()
    )
    merged = final.merge(exp, on="user_id", suffixes=("_got", "_exp"))
    assert len(merged) == len(exp)
    assert (merged["n_events_got"] == merged["n_events_exp"]).all()
    assert np.allclose(
        merged["total_value_got"], merged["total_value_exp"], rtol=1e-9
    )


def test_windowed_agg_recovery_across_crash(spark, batch_events, tmp_path):
    """Same crash/restart drill for the WINDOWED aggregation tier: the
    watermarked tumbling counts must recover their window state from
    the checkpoint and converge to the batch twin over all input."""
    from pyspark.sql import functions as F

    in_dir = tmp_path / "input"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    # split by TIME (not id): each file strictly newer than the last,
    # so the advancing watermark never discards a later file's rows
    # the batch twin would count
    b1, b2 = (
        batch_events.selectExpr(
            "percentile(cast(ts as double), 0.33) as b1",
            "percentile(cast(ts as double), 0.66) as b2",
        ).collect()[0]
    )
    ev = batch_events.withColumn(
        "part",
        F.when(F.col("ts").cast("double") < b1, 0)
        .when(F.col("ts").cast("double") < b2, 1)
        .otherwise(2),
    ).localCheckpoint(eager=True)
    import shutil

    for p in range(3):
        ev.filter(F.col("part") == p).drop("part").coalesce(1)\
            .write.mode("overwrite").parquet(str(in_dir / f"f{p}.parquet"))
        for f in (in_dir / f"f{p}.parquet").glob("part-*.parquet"):
            f.rename(in_dir / f"events_{p}.parquet")
        shutil.rmtree(in_dir / f"f{p}.parquet")

    schema = ev.drop("part").schema

    def agg_stream():
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        return streams.tumbling_counts(raw)

    def sink(crash: bool):
        def process(batch_df, batch_id):
            if crash and batch_id >= 1:
                raise RuntimeError("injected crash on batch 1")
            batch_df.withColumn("batch_id", F.lit(batch_id))\
                .write.mode("append").parquet(out_dir)

        return process

    q = (
        agg_stream().writeStream.foreachBatch(sink(crash=True))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(180)
        raise RuntimeError(q.exception() or "query finished cleanly")

    q2 = (
        agg_stream().writeStream.foreachBatch(sink(crash=False))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180)

    got = spark.read.parquet(out_dir).toPandas()
    assert not got.duplicated(
        subset=["window_start", "event_type", "batch_id"]
    ).any()
    assert sorted(got["batch_id"].unique()) == [0, 1, 2]

    final = (
        got.sort_values("batch_id")
        .groupby(["window_start", "event_type"])
        .last()
        .reset_index()
    )
    exp = streams.tumbling_counts(batch_events).toPandas()
    merged = final.merge(
        exp, on=["window_start", "event_type"], suffixes=("_got", "_exp")
    )
    assert len(merged) == len(exp)
    assert (merged["n_events_got"] == merged["n_events_exp"]).all()
    assert np.allclose(
        merged["total_value_got"], merged["total_value_exp"], rtol=1e-9
    )
