"""Streaming extraction: file-source pages stream → stateless
parse+extract (mapInArrow is stateless, so it runs unchanged inside a
micro-batch) → parquet sink with exactly-once checkpointing, plus a
watermarked per-host windowed metrics stream for late-arriving
captures.

Deployment shape at scale: the file source is the landing zone of a
crawler (one dir per warc dump); ``trigger=availableNow`` drains the
backlog with bounded batches (maxFilesPerTrigger) and shuts down —
the resumable-batch analog. A long-lived ``processingTime`` trigger
serves the continuous mode; both share the same checkpoint. Every
stream ends in the one sink, :func:`_parquet_sink`, which makes that
trigger choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.url import host_of
from ..operators.parse import parse_and_extract

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _parquet_sink(
    df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """The one sink of every stream: append-mode parquet, exactly-once
    via the checkpoint. ``available_now`` drains the backlog and stops;
    otherwise a 30 s processing-time trigger runs continuously. Returns
    the started StreamingQuery."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="30 seconds").start()


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    emit_markdown: bool = False,
):
    """Start (and with available_now=True, drain) the extraction stream.
    Returns the StreamingQuery. ``emit_markdown=True`` populates the
    markdown column from the same single parse (batch-job parity)."""
    pages = read_pages_stream(spark, input_dir)
    parsed = parse_and_extract(pages, with_markdown=emit_markdown)
    return _parquet_sink(parsed, output_dir, checkpoint_dir, available_now)


SESSION_OUT_SCHEMA = (
    "host string, first_ts timestamp, last_ts timestamp, "
    "n_captures bigint, n_bytes bigint, closed boolean"
)
SESSION_STATE_SCHEMA = (
    "first_ts timestamp, last_ts timestamp, n_captures bigint, n_bytes bigint"
)


def stream_host_sessions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Custom stateful operator (``applyInPandasWithState``): per-host
    crawl-session tracking. State = (first_ts, last_ts, n_captures,
    n_bytes) per host, merged across micro-batches; every batch emits a
    running snapshot row (``closed=false``), and a host idle past
    ``gap_seconds`` of processing time emits a final ``closed=true`` row
    and frees its state (bounded state — mandatory at crawl scale, where
    hosts churn constantly).

    Timeout caveat: ProcessingTimeTimeout only fires when a LATER
    micro-batch runs, so under ``available_now=True`` (drain and stop)
    sessions close on the NEXT drain that runs > gap_seconds later —
    consumers of ``closed=true`` rows want the long-lived
    ``available_now=False`` deployment (processingTime trigger), where
    idle hosts close and evict continuously.

    This is the category Structured Streaming's built-in windowed aggs
    can't express: cross-batch session state with timeout-driven
    eviction and custom merge logic."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    pages = read_pages_stream(spark, input_dir, max_files_per_trigger)
    with_host = pages.withColumn("host", host_of(F.col("url")))

    def fn(key, pdfs, state):
        import pandas as pd

        host = key[0]
        if state.hasTimedOut:
            first_ts, last_ts, n, b = state.get
            state.remove()
            yield pd.DataFrame(
                [{"host": host, "first_ts": first_ts, "last_ts": last_ts,
                  "n_captures": n, "n_bytes": b, "closed": True}]
            )
            return
        n = 0
        b = 0
        mn = None
        mx = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            # octet length whether html arrived as bytes or str
            b += int(
                pdf["html"].map(
                    lambda h: 0 if h is None
                    else (len(h) if isinstance(h, (bytes, bytearray))
                          else len(str(h).encode("utf-8")))
                ).sum()
            )
            ts = pd.to_datetime(pdf["warc_ts"])
            cmn, cmx = ts.min(), ts.max()
            mn = cmn if mn is None or cmn < mn else mn
            mx = cmx if mx is None or cmx > mx else mx
        if state.exists:
            f0, l0, n0, b0 = state.get
            mn = f0 if mn is None or (f0 is not None and f0 < mn) else mn
            mx = l0 if mx is None or (l0 is not None and l0 > mx) else mx
            n += n0
            b += b0
        state.update((mn, mx, n, b))
        state.setTimeoutDuration(gap_seconds * 1000)
        yield pd.DataFrame(
            [{"host": host, "first_ts": mn, "last_ts": mx,
              "n_captures": n, "n_bytes": b, "closed": False}]
        )

    sessions = with_host.groupBy("host").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
    return _parquet_sink(sessions, output_dir, checkpoint_dir, available_now)


def stream_host_window_metrics(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Watermarked tumbling-window per-host capture counts: late
    captures within the watermark still update their window; older ones
    are dropped (state is bounded — mandatory at crawl scale)."""
    pages = read_pages_stream(spark, input_dir)
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .withColumn("host", host_of(F.col("url")))
        .groupBy(F.window("warc_ts", window).alias("w"), "host")
        .agg(
            F.count("*").alias("n_captures"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host", "n_captures", "bytes_in",
        )
    )
    return _parquet_sink(agg, output_dir, checkpoint_dir)


def stream_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 16,
    available_now: bool = True,
):
    """Exactly-once streaming dedup ingest: fingerprint each page's raw
    payload (md5 of the html bytes) and suppress repeats across
    micro-batches via ``dropDuplicatesWithinWatermark`` — the state
    store holds one entry per fingerprint and EXPIRES it once the
    watermark passes (bounded state at crawl scale; a duplicate
    arriving later than the watermark horizon slips through, and the
    batch dedup layer is the backstop — the standard lambda split).
    State survives restarts via the checkpoint, like the sessionizer.
    Returns the StreamingQuery."""
    pages = read_pages_stream(spark, input_dir, max_files_per_trigger)
    deduped = (
        pages.withColumn("fp", F.md5(F.col("html")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )
    return _parquet_sink(deduped, output_dir, checkpoint_dir, available_now)


def stream_extract_curate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    min_words: int = 10,
    max_files_per_trigger: int = 16,
    available_now: bool = True,
):
    """The composed streaming curation ingest — the continuous-mode
    analog of ``plans/curation.py``: landing pages → UTF-8 gate +
    WHATWG parse + extraction (stateless mapInArrow, unchanged inside
    micro-batches) → the row-local quality gate on the EXTRACTED text
    (``textstats.quality_filter(project=False)`` — one projection, no
    joins, so it fuses into the batch scan exactly like batch mode) →
    fingerprint dedup across batches via ``dropDuplicatesWithinWatermark``
    (bounded state, same eviction contract as
    :func:`stream_dedup_ingest`) → parquet sink, exactly-once via the
    checkpoint. Returns the StreamingQuery."""
    from ..operators.textstats import quality_filter

    pages = read_pages_stream(spark, input_dir, max_files_per_trigger)
    extracted = parse_and_extract(pages, passthrough_cols=("warc_ts",)).where(
        "error IS NULL AND text IS NOT NULL AND length(text) > 0"
    )
    gated = quality_filter(
        extracted.withColumn("doc_id", F.xxhash64("url")),
        min_words=min_words,
        project=False,
    )
    deduped = (
        gated.withColumn("fp", F.md5(F.col("text")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp", "doc_id")
    )
    return _parquet_sink(deduped, output_dir, checkpoint_dir, available_now)


def stream_warc_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    encoding: str = "sniff",
    available_now: bool = True,
):
    """Continuous crawl-container ingest: a landing dir of parquet files
    carrying raw WARC blobs (warc_id bigint, content binary — the shape
    a fetch tier hands off), each micro-batch walking records out of
    the containers (sources/warc.py) and parsing/extracting them.
    ``encoding`` defaults to "sniff" — a live crawl is exactly where
    legacy cp1252 pages appear. Exactly-once per blob via the
    checkpoint; a WARC blob is the atomic unit of progress, matching
    how crawl dumps land. Broken-blob error rows are NOT silently
    dropped: an ``observe`` metric (``warc_ingest``: ``warc_rows`` /
    ``warc_error_rows``) rides each micro-batch's progress events —
    same single-pass pattern as the batch job — before the error filter.
    ``warc_ts`` is carried through the parse stage (``passthrough_cols``
    rides the Arrow batch, no rejoin) so downstream event-time windowing
    has the crawl timestamp. Returns the StreamingQuery."""
    from ..sources.warc import warc_to_pages

    blobs = (
        spark.readStream.schema("warc_id bigint, content binary")
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    # spread=False: micro-batches are already file-per-blob splits and
    # a round-robin repartition is an extra stateless shuffle per batch
    recs = warc_to_pages(blobs, spread=False).observe(
        "warc_ingest",
        F.count(F.lit(1)).alias("warc_rows"),
        F.count(F.when(F.col("error").isNotNull(), 1))
        .alias("warc_error_rows"),
    )
    # same curation filter as the batch job: keep 200s (and records
    # whose status line didn't parse) — redirect stubs / error pages
    # are not training text
    pages = recs.where(
        "error IS NULL AND (http_status IS NULL OR http_status = 200)"
    )
    parsed = parse_and_extract(
        pages, encoding=encoding, passthrough_cols=("warc_ts",)
    )
    return _parquet_sink(parsed, output_dir, checkpoint_dir, available_now)
