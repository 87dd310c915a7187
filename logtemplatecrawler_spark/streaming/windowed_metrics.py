"""Event-time windowed crawl metrics with late-data handling.

Per-(host, event-time window) page counts and byte volume over a pages
stream — the streaming twin of the scheduler's per-round metrics (each
batch round IS a processing-time window; a continuous crawl needs
event-time windows instead, keyed by the page's ``warc_ts``).

Late data: in ``update``/``append`` output modes the watermark bounds
state — windows older than ``max(event time) - delay`` are finalized and
their state evicted, and later-arriving rows for them are DROPPED (counted
nowhere).  On an unbounded crawl the state store therefore stays bounded by
(hosts × open windows), not by stream length.  In ``complete`` mode Spark
must retain every window, so the watermark does NOT drop late rows — use
complete only for bounded drains/monitoring.  Both behaviors are pinned by
tests/test_streaming_and_tables.py: stream-equals-batch for a complete-mode
drain, and an update-mode restart emitting nothing for rows arriving behind
the checkpointed watermark.

The same plan works for batch DataFrames (no watermark needed — batch sees
all data at once), which is what the parity test compares against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logtemplatecrawler_spark.functions.columns import url_host

# Partition key for the update sink: the window start's EPOCH HOUR,
# zero-padded to fixed width so lexicographic comparison == time order.
# Epoch arithmetic (not date_format) because a formatted string depends on
# the session timezone — a reader session in a different zone would render
# a shifted cutoff and silently prune valid partitions (r4 review finding).
def _win_date(col):
    return F.lpad(
        F.floor(F.unix_timestamp(col) / 3600).cast("string"), 12, "0"
    )


def windowed_host_metrics(pages: DataFrame, window_len: str = "1 hour",
                          watermark_delay: str = "2 hours") -> DataFrame:
    """pages(url, warc_ts, html, …) → (win_start, win_end, host, pages, bytes).

    Streaming inputs get a watermark on ``warc_ts``; batch inputs run the
    identical aggregation without one.
    """
    p = pages.select(
        url_host(F.col("url")).alias("host"),
        "warc_ts",
        F.octet_length("html").alias("nbytes"),
    )
    if p.isStreaming:
        p = p.withWatermark("warc_ts", watermark_delay)
    return (
        p.groupBy(F.window("warc_ts", window_len).alias("w"), "host")
        .agg(F.count("*").alias("pages"), F.sum("nbytes").alias("bytes"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "host", "pages", "bytes",
        )
    )


def drain_windowed_metrics(spark, pages_dir: str, schema: str,
                           checkpoint_dir: str, query_name: str,
                           window_len: str = "1 hour",
                           watermark_delay: str = "2 hours",
                           output_mode: str = "complete"):
    """Drain all files under ``pages_dir`` through the windowed aggregation
    into an in-memory table named ``query_name``.  ``complete`` = the whole
    result (bounded drains/monitoring; watermark does not evict); ``update``
    = only windows changed this run, with watermark state eviction and
    late-row dropping — the production mode for a keyed sink."""
    src = spark.readStream.schema(schema).parquet(pages_dir)
    q = (
        windowed_host_metrics(src, window_len, watermark_delay)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def drain_windowed_updates(spark, pages_dir: str, schema: str,
                           checkpoint_dir: str, out_dir: str,
                           window_len: str = "1 hour",
                           watermark_delay: str = "2 hours") -> None:
    """Update-mode drain to a parquet sink via foreachBatch — the
    production shape: only windows changed by each micro-batch are emitted,
    watermark state is evicted, too-late rows are dropped, and the
    checkpoint makes restarts resume (the memory sink cannot recover from a
    checkpoint, so the late-data tests use this path).

    Retry safety (VERDICT r02 item 5): foreachBatch is at-least-once — a
    micro-batch retried after a partial append re-appends its rows (the
    recomputation is deterministic from the checkpointed offsets, so the
    replayed rows are identical).  Each row is therefore stamped with its
    ``batch_id`` and :func:`read_windowed_updates` is the idempotent read:
    duplicate (batch_id, key) appends fold away, and older emissions of a
    window are superseded by the latest batch — exactly update-mode
    semantics.  Pinned by tests/test_streaming_and_tables.py::
    test_windowed_updates_sink_retry_idempotent (same fix class as
    streaming/pages_stream.py per ADVICE r01).

    Bounded reads (VERDICT r03 item 4): emissions are PARTITIONED by
    ``win_date`` (hour-granular, lexicographically ordered), so
    :func:`read_windowed_updates` with ``min_win_start`` partition-prunes
    straight past closed windows — without it, a long-running stream's
    every read re-scanned the entire sink history."""
    src = spark.readStream.schema(schema).parquet(pages_dir)
    agg = windowed_host_metrics(src, window_len, watermark_delay)

    def _sink(batch_df, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .withColumn("win_date", _win_date(F.col("win_start")))
            .write.mode("append").partitionBy("win_date").parquet(out_dir)
        )

    q = (
        agg.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _scan_updates(spark, out_dir: str, min_win_start=None) -> DataFrame:
    """The sink scan underlying :func:`read_windowed_updates`, with the
    horizon filters applied at the source (partition-column predicate first
    so it prunes).  Exposed separately so the pruning test can probe
    ``input_file_name()`` before aggregation erases file lineage."""
    df = spark.read.parquet(out_dir)
    if min_win_start is not None:
        cutoff = F.lit(min_win_start).cast("timestamp")
        # string predicate on the partition column → partition pruning
        df = df.where(F.col("win_date") >= _win_date(cutoff))
        df = df.where(F.col("win_start") >= cutoff)
    return df.drop("win_date")


def read_windowed_updates(spark, out_dir: str, min_win_start=None) -> DataFrame:
    """Idempotent view of the update-mode sink: the latest emission per
    (win_start, host), with duplicate rows from retried micro-batch appends
    dropped.  The result equals the batch aggregation over all non-late
    input — the keyed-sink contract.

    ``min_win_start`` (timestamp or ISO string) bounds the read to windows
    starting at/after it: the predicate on the ``win_date`` partition
    column PRUNES closed windows' files from the scan entirely (pinned by
    tests/test_streaming_and_tables.py::test_windowed_updates_pruned_read
    asserts on ``inputFiles()``), so the read cost tracks the open-window
    horizon, not stream lifetime."""
    from pyspark.sql import Window

    df = _scan_updates(spark, out_dir, min_win_start).dropDuplicates()
    w = Window.partitionBy("win_start", "host").orderBy(F.col("batch_id").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )
