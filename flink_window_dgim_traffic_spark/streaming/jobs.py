"""Structured Streaming jobs mirroring the reference's three Flink
pipelines (SURVEY.md §3): JSON source → parse/filter → event-time
tumble/hop window → DGIM or exact aggregate → append or upsert sink.

Differences by design (SURVEY §7.0/§7.4): event-time + watermark is
the CANONICAL mode instead of the reference's unreproducible
processing-time windows; the reference's ``PROCTIME()`` computed
column (S3) is available as the ``parse_traffic(..., proctime=True)``
opt-in, which stamps ``current_timestamp()`` at ingest so the same
window jobs run as processing-time windows.  Upsert-kafka is emulated
with foreachBatch writing keyed JSON records (the reference PK is
"NOT ENFORCED" anyway, ``StreamingJob.java:63``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_window_dgim_traffic_spark.dgim import MODE_JAVA
from flink_window_dgim_traffic_spark.operators.parsing import ISO_US_SPARK
from flink_window_dgim_traffic_spark.operators.windows import dgim_estimate_col

TRAFFIC_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType()),
        T.StructField("timestamp", T.StringType()),
    ]
)


def file_traffic_stream(spark, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source replay of the traffic fixture (one JSON file per
    micro-batch) — the deterministic stand-in for the Kafka source."""
    return (
        spark.readStream.schema(TRAFFIC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


# The reference's Kafka wiring, pinned value-for-value from its DDL so
# the option-contract tests catch any drift (first real-broker use is
# too late to find a typo'd topic):
#   - source topic / group ids: StreamingJob.java:30-33,
#     SlidingWindowStreamingJob.java:33-36, job.py:121,132
#   - sink topics: StreamingJob.java:32 (tumble_window_output),
#     SlidingWindowStreamingJob.java:35 (sliding_window_output),
#     job.py:149 (output-topic)
#   - upsert PKs: StreamingJob.java:63 (window_end),
#     SlidingWindowStreamingJob.java:73 (window_start, window_end)
REFERENCE_KAFKA = {
    "source_topic": "network_traffic",
    "tumble_group_id": "flink-dgim-group-java",
    "sliding_group_id": "flink-dgim-sliding-group-java",
    "pyflink_group_id": "flink-dgim-group-v2",
    "tumble_sink_topic": "tumble_window_output",
    "sliding_sink_topic": "sliding_window_output",
    "pyflink_sink_topic": "output-topic",
    "tumble_upsert_keys": ["window_end"],
    "sliding_upsert_keys": ["window_start", "window_end"],
}


def kafka_source_options(
    bootstrap: str, topic: str, group_id: str | None = None
) -> dict[str, str]:
    """Reader options for the Kafka JSON source, mirroring the
    reference DDL's connector properties (``StreamingJob.java:37-49``:
    topic, bootstrap servers, consumer group, latest offsets — Flink's
    ``scan.startup.mode = latest-offset`` is Spark's
    ``startingOffsets = latest``).  Pure — unit-testable without a
    broker.  ``group_id`` maps to ``kafka.group.id`` (Spark ≥3.0;
    Spark otherwise generates its own per-query group)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": "latest",
    }
    if group_id is not None:
        opts["kafka.group.id"] = group_id
    return opts


def kafka_sink_options(bootstrap: str, topic: str) -> dict[str, str]:
    """Writer options for the append / upsert-emulation Kafka sinks
    (``StreamingJob.java:59-75``, ``job.py:149-165``): the record
    payload (JSON key/value) is built by :func:`to_upsert_records`;
    these are just the transport options."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "topic": topic,
    }


def decode_traffic_kafka(raw: DataFrame) -> DataFrame:
    """Permissive JSON decode of Kafka wire records (S2): binary
    ``value`` → string → ``from_json`` against the traffic schema.
    Works on ANY frame with Kafka's wire columns (static or
    streaming), which is how the broker-less tests exercise the real
    decode path the Kafka source uses."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), TRAFFIC_SCHEMA).alias("j")
    ).select("j.value", "j.timestamp")


def kafka_traffic_stream(spark, bootstrap: str, topic: str) -> DataFrame:
    """Kafka JSON source per the reference DDL (S1/S2): permissive
    decode of the message value.  Requires a broker + the
    spark-sql-kafka connector (neither in this container); the
    options/decode seams are unit-tested broker-free."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(bootstrap, topic).items():
        reader = reader.option(k, v)
    return decode_traffic_kafka(reader.load())


def parse_traffic(raw: DataFrame, proctime: bool = False) -> DataFrame:
    """Permissive parse (P2-P6): try-cast bit, try-parse event-time
    timestamp, drop nulls.  Adds both the TimestampType ``ts`` (for
    windows/watermarks) and epoch-seconds ``ts_sec`` (for DGIM).

    ``proctime=True`` is the S3 opt-in (the reference's computed
    ``proctime AS PROCTIME()`` column, ``StreamingJob.java:41``,
    ``job.py:127``): ``ts`` is stamped ``current_timestamp()`` AT
    INGEST — evaluated during micro-batch execution, i.e. processing
    time — so the unchanged downstream window jobs become
    processing-time windows exactly as in the reference (which
    windows on ``proctime``, never reading the payload timestamp).
    The parsed event time is kept alongside as ``event_ts`` (nullable
    — proctime mode tolerates a malformed payload timestamp, like
    Flink's, where only the bit must parse).  Event-time mode stays
    the canonical default: proctime results are wall-clock-dependent
    and unreproducible BY CONSTRUCTION (SURVEY §7.0), which is why
    tests pin this mode's schema and plumbing, not its values."""
    if proctime:
        parsed = raw.select(
            F.col("value").try_cast("int").alias("bit"),
            F.current_timestamp().alias("ts"),
            F.try_to_timestamp(
                F.col("timestamp"), F.lit(ISO_US_SPARK)
            ).alias("event_ts"),
        )
        return parsed.filter(F.col("bit").isNotNull()).withColumn(
            "ts_sec", F.unix_timestamp("ts")
        )
    parsed = raw.select(
        F.col("value").try_cast("int").alias("bit"),
        F.try_to_timestamp(F.col("timestamp"), F.lit(ISO_US_SPARK)).alias("ts"),
    )
    return parsed.filter(
        F.col("bit").isNotNull() & F.col("ts").isNotNull()
    ).withColumn("ts_sec", F.unix_timestamp("ts"))


def _window_counts(
    parsed: DataFrame, watermark: str | None, *keys, event_time: str = "ts"
) -> DataFrame:
    """Per-key 1-bit and row counts (``ones_exact``, ``n_rows``) as a
    built-in incremental aggregate whose state the engine keeps — the
    one aggregation the exact streams and the DGIM streams
    (``stateful_dgim``) share.  ``keys`` are evaluated against the
    input after ``watermark`` (optional) is set on ``event_time``.
    With a watermark, a window key's state is evicted, and later rows
    for it are dropped, once the watermark reaches the window's end."""
    src = parsed if watermark is None else parsed.withWatermark(event_time, watermark)
    return src.groupBy(*keys).agg(
        F.sum("bit").cast("bigint").alias("ones_exact"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def tumble_exact_stream(
    parsed: DataFrame, size_sec: int = 60, watermark: str | None = "10 seconds"
) -> DataFrame:
    """Streaming W1 twin: event-time tumbling count of 1-bits.
    Watermark closes windows in append mode (the reference needs none
    because proctime windows can't be late)."""
    w = F.window("ts", f"{size_sec} seconds").alias("w")
    return _window_counts(parsed, watermark, w).select(
        F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "ones_exact",
        "n_rows",
    )


def hop_exact_stream(
    parsed: DataFrame,
    size_sec: int = 60,
    slide_sec: int = 10,
    watermark: str | None = "10 seconds",
) -> DataFrame:
    """Streaming W2 twin (HOP window, composite key like S5)."""
    w = F.window("ts", f"{size_sec} seconds", f"{slide_sec} seconds").alias("w")
    return _window_counts(parsed, watermark, w).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "ones_exact",
        "n_rows",
    )


def cumulate_exact_stream(
    parsed: DataFrame,
    max_size_sec: int = 60,
    step_sec: int = 10,
    watermark: str | None = "10 seconds",
) -> DataFrame:
    """Streaming CUMULATE twin (batch: ``windows.cumulate_exact``).

    Spark has no CUMULATE TVF, so each record is exploded to its
    cumulative window ends and the aggregation groups directly on
    the end timestamp.  State eviction: the watermark moves to the
    DERIVED ``we_ts`` column — a record's smallest possible end is
    strictly after its event time and at most ``max_size_sec`` later,
    so an allowed event-time lateness of ``watermark`` maps to
    ``watermark + max_size_sec`` on ``we_ts``; with that delay no
    record admitted by the source-side contract is dropped, and
    closed spans' groups age out of the state store."""
    es = F.unix_timestamp("ts")
    ws = (F.floor(es / max_size_sec) * max_size_sec).cast("bigint")
    first_end = (
        ws + (F.floor((es - ws) / step_sec) + 1) * step_sec
    ).cast("bigint")
    ends = F.sequence(
        first_end,
        (ws + F.lit(max_size_sec)).cast("bigint"),
        F.lit(step_sec).cast("bigint"),
    )
    staged = parsed.select(
        "bit", ws.alias("ws"), F.explode(ends).alias("we")
    ).withColumn("we_ts", F.timestamp_seconds(F.col("we")))
    if watermark is not None:  # Spark sums repeated interval units
        watermark = f"{watermark} {max_size_sec} seconds"
    return _window_counts(
        staged, watermark, "ws", "we_ts", event_time="we_ts"
    ).select(
        F.date_format(
            F.timestamp_seconds(F.col("ws")), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        F.date_format(F.col("we_ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_end"
        ),
        "ones_exact",
        "n_rows",
    )


# ----------------------------------------------------------------------
# upsert sink emulation (S4/S5)
# ----------------------------------------------------------------------
def to_upsert_records(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Changelog layout of the reference's upsert-kafka sink: JSON key
    (PK columns) + JSON value (full row) — ``StreamingJob.java:59-75``."""
    return df.select(
        F.to_json(F.struct(*key_cols)).alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


def upsert_foreach_batch_writer(out_dir: str, key_cols: list[str]):
    """foreachBatch writer for update-mode windowed aggregates: each
    micro-batch appends keyed JSON records to out_dir (stand-in for
    the upsert-kafka topic; compaction = last record per key wins).
    With a real broker the same records go to ``format("kafka")``."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            to_upsert_records(batch_df, key_cols)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .json(out_dir)
        )

    return write


def read_upsert_state(spark, out_dir: str) -> DataFrame:
    """Materialize the upsert log: last value per key (what a
    compacted Kafka topic / Flink changelog consumer would see)."""
    log = spark.read.schema(
        "key string, value string, batch_id long"
    ).json(out_dir)
    return (
        log.groupBy("key")
        .agg(F.max_by("value", F.col("batch_id")).alias("value"))
    )


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Start a memory-sink query (tests) and process all available."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def session_exact_stream(
    parsed: DataFrame,
    gap_sec: int = 300,
    watermark: str = "10 seconds",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming session windows: the dynamic-gap operator the
    reference lacks entirely (SURVEY.md §2.4 — "no session windows").
    ``session_window`` state merges adjacent sessions as rows arrive
    and the watermark both closes sessions (append mode) and evicts
    their state — bounded by active sessions, not stream history.

    Spark rejects *global* session aggregation in streaming, so a
    keyless call groups by a constant — correct for the single-
    interface traffic stream, but it serializes session-merge state
    through one task.  At scale ALWAYS pass ``key_cols`` (user,
    interface, host): state and merging then partition by key."""
    # keyless: a constant key expression inside groupBy is constant-
    # folded away and Spark again sees a (forbidden) global session
    # aggregation; materializing it as a projected column first keeps
    # it a real grouping attribute
    if not key_cols:
        parsed = parsed.withColumn("_global", F.crc32(F.lit("_")) * 0)
    keys = [F.col(c) for c in (key_cols or ["_global"])]
    out_keys = list(key_cols) if key_cols else []
    w = F.session_window("ts", f"{gap_sec} seconds").alias("w")
    return (
        _window_counts(parsed, watermark, *keys, w)
        .select(
            *out_keys,
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end_plus_gap"
            ),
            "ones_exact",
            "n_rows",
        )
    )


def session_dgim_stream(
    parsed: DataFrame,
    gap_sec: int = 300,
    watermark: str = "10 seconds",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming SESSION-window DGIM (r10 — the 4th window kind for
    the sketch family, streamed): :func:`session_exact_stream`'s
    merging session aggregation plus the replay-equivalent closed
    form ``g(ones)`` as a post-aggregation projection (nothing
    expires within a session when horizon ≥ span — the same
    equivalence ``windows.session_dgim`` property-tests).  Closed
    sessions equal the batch operator; state stays bounded by active
    sessions via the watermark."""
    return with_dgim_estimate(
        session_exact_stream(parsed, gap_sec, watermark, key_cols)
    )


def with_dgim_estimate(counts: DataFrame, mode: str = MODE_JAVA) -> DataFrame:
    """Project an exact stream's ``(keys..., ones_exact, n_rows)`` to
    the DGIM stream shape ``(keys..., count_estimate, exact_count,
    n_rows)``, the estimate being the native closed form
    ``g(ones_exact)`` (``windows.dgim_estimate_col``)."""
    return counts.select(
        *counts.columns[:-2],
        dgim_estimate_col("ones_exact", mode).alias("count_estimate"),
        F.col("ones_exact").alias("exact_count"),
        "n_rows",
    )


def stream_to_parquet(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
):
    """Streaming PARQUET file sink (append mode) — the exactly-once
    file sink: each micro-batch commits atomically through the file-
    sink manifest (``_spark_metadata``), so a reader sees only fully
    committed files and a restarted query never duplicates a batch
    (contrast with the at-least-once foreachBatch upsert emulation
    above, which dedups by key instead).

    ``partition_by`` produces Hive-style directory partitioning —
    the layout downstream batch jobs prune on
    (``sources/parquet_sink.py`` is the batch twin).  Returns the
    started query; callers ``awaitTermination`` it."""
    w = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w.trigger(availableNow=True).start()
