"""Spark-native stateful streaming: the W2 syncpoint as a watermarked
tumbling-window aggregation, and sessionization as a session_window
aggregation — each checked against its batch equivalent."""

from __future__ import annotations

from pyspark.sql import functions as F

from ticdc_spark.sources.changelog import events_changelog


def test_streaming_syncpoint_window(spark, sf_dir, tmp_path):
    """W2 as a real streaming query: watermark + tumbling window counts
    match the batch syncpoint aggregation."""
    cl = events_changelog(spark, sf_dir)
    src_dir = str(tmp_path / "wsrc")
    cl.select(
        "table_name", F.timestamp_micros(F.col("commit_ts")).alias("commit_time")
    ).write.parquet(src_dir)
    static = spark.read.parquet(src_dir)
    stream = spark.readStream.schema(static.schema).parquet(src_dir)
    agg = (
        stream.withWatermark("commit_time", "1 hour")
        .groupBy(F.window("commit_time", "1 hour"), F.col("table_name"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    q = (
        agg.writeStream.format("memory").queryName("sync_out")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    streamed = spark.sql(
        "SELECT table_name, window.end AS wend, n_rows FROM sync_out"
    )
    batch = (
        static.groupBy(F.window("commit_time", "1 hour"), "table_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select("table_name", F.col("window.end").alias("wend"), "n_rows")
    )
    # append-mode emits only watermark-closed windows; every emitted row
    # must match the batch aggregation exactly
    s = {(r["table_name"], r["wend"], r["n_rows"]) for r in streamed.collect()}
    b = {(r["table_name"], r["wend"], r["n_rows"]) for r in batch.collect()}
    assert s, "no windows closed"
    assert s <= b


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """Beyond-reference sessionization, streaming side: Spark's native
    session_window aggregation over the event stream produces the same
    per-user session structure as the batch lag+cumsum derivation
    (which is the DuckDB-oracled query). Gap semantics note: batch
    starts a new session when t - prev > gap; session_window's window
    is [t, t+gap), so only an event at EXACTLY gap distance would
    differ — asserted absent in the fixture first."""
    from pyspark.sql import functions as F

    from ticdc_spark.llm_queries import _SESSION_GAP_US, q_sessionization
    from ticdc_spark.sources.changelog import epoch_us, read_table

    batch = q_sessionization(spark, sf_dir)
    expected = {
        (r["user_id"]): (r["n_sessions"], r["n_events"])
        for r in batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        ).collect()
    }

    # boundary guard: no two consecutive events exactly gap apart
    ev_b = read_table(spark, sf_dir, "events")
    t = epoch_us(ev_b, "ts")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("t")
    gaps = ev_b.select("user_id", t.alias("t")).withColumn(
        "d", F.col("t") - F.lag("t").over(w))
    assert gaps.filter(F.col("d") == _SESSION_GAP_US).count() == 0

    schema = ev_b.schema
    raw = (
        spark.readStream.format("parquet").schema(schema)
        .option("pathGlobFilter", "events.parquet").load(sf_dir)
    )
    ts_col = F.timestamp_micros(epoch_us(raw, "ts"))
    q = (
        raw.select("user_id", ts_col.alias("ts"))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory").queryName("sess_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(240)
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql(
            "SELECT user_id, count(*) AS n_sessions, sum(n) AS n_events "
            "FROM sess_stream GROUP BY 1").collect()
    }
    assert got == expected
