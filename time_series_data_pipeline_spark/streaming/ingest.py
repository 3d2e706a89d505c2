"""Streaming ingestion: the reference's Airflow DAG as one Structured
Streaming query.

The reference (rahulkorpe/time-series-data-pipeline ETL.py) polls a
directory, probes Postgres per file for exactly-once, fans out a task
graph per file, and synchronously writes InfluxDB with a delete-after-
load step that double-writes on a crash between write and delete
(SURVEY.md §2.7 ST6). All four concerns collapse into Spark built-ins:

- file discovery + exactly-once-per-file → the file source's own
  processed-file log in the checkpoint (replaces glob + Postgres +
  BranchPythonOperator, ETL.py:13-55, 100-105);
- transform → the same batch functions (sources.gas_csv / sources.
  bucket) applied to the streaming frame — batch/stream share one
  code path, so equivalence is by construction (tested anyway);
- sink atomicity → the Parquet streaming sink's transaction log
  (_spark_metadata): a batch is visible only once committed, retried
  batches overwrite the same epoch — no delete-after-load race.

Scale: ingestion is narrow (map-only) so a micro-batch's cost is
proportional to newly arrived bytes only. The watermarked window agg
keeps state bounded: state size = (#open windows × #fields), evicted
once the watermark passes window end — independent of total history.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.timeseries import _dec
from ..sources import gas_csv


def stream_wide_csv(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming scan of the watched CSV directory (reference: the
    Airflow ``fs_default`` volume, README.md:91-95) with the same
    explicit schema as batch — streaming sources require one anyway."""
    return (
        spark.readStream.schema(gas_csv.GAS_SCHEMA)
        .option("header", True)
        .csv(src_dir)
    )


def start_bucket_ingest(
    spark: SparkSession,
    src_dir: str,
    bucket_path: str,
    checkpoint: str,
    measurement: str = "gas",
    available_now: bool = True,
) -> StreamingQuery:
    """CSV arrivals → derive event time → unpivot → partitioned Parquet
    bucket, exactly once. ``available_now=True`` drains everything
    present then stops (the batch-backfill trigger); ``False`` runs
    continuously like the reference's scheduled DAG."""
    from ..sources import bucket as bkt

    long_df = bkt.to_long(
        gas_csv.with_event_time(stream_wide_csv(spark, src_dir)),
        measurement=measurement,
        value_cols=list(gas_csv.VALUE_COLS),
        field_labels=gas_csv.FIELD_LABELS,
    ).withColumn("_date", F.to_date("_time"))

    writer = (
        long_df.writeStream.format("parquet")
        .option("path", bucket_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("_measurement", "_date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_mean_stream(
    long_stream: DataFrame,
    every: str = "5 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked tumbling mean per field (SURVEY.md §2.7 ST3/ST4; the
    reference has no late-data story — its unit of arrival is a whole
    day file). Append-mode-compatible: windows emit once final."""
    return (
        long_stream.withWatermark("_time", watermark)
        .groupBy(F.window("_time", every).alias("w"), "_field")
        .agg(
            (F.sum(_dec("_value")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("w.start").alias("window_start"), "_field", "avg_value", "n")
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "_time",
    watermark: str = "1 day",
) -> DataFrame:
    """At-source streaming deduplication (ST1/ST6 hardening): drop rows
    whose key was already seen within the watermark horizon —
    idempotent ingestion even when the UPSTREAM redelivers (the file
    source's processed-file log only dedups whole files; this dedups
    per record, e.g. a device retransmitting a reading into a later
    file).

    `dropDuplicatesWithinWatermark` keeps one state row per key with
    eviction once the watermark passes it — state is bounded by keys
    per horizon, not history, and survives restarts via the checkpoint.
    A duplicate arriving AFTER its key's state was evicted is emitted
    again: the horizon is the contract, sized to the upstream's maximum
    redelivery lag (here: one day, the reference's unit of arrival).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def curate_doc_stream(
    stream: DataFrame,
    min_quality: float = 0.55,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Incremental corpus curation at ingest (the streaming face of the
    batch ``curation_pipeline``): gate each arriving document on the
    composite quality score, then drop exact re-deliveries by content
    hash within the watermark horizon — junk and duplicates never land
    in the lake, instead of being swept later.

    The quality gate is the same in-row expression the batch pipeline
    uses (operators/text.quality_score — narrow, streaming-legal); the
    dedup state is one 16-byte md5 per surviving document bounded by
    the watermark horizon, surviving restarts via the checkpoint. The
    batch near-dup/DSIR stages stay batch: they need corpus-global
    state (cluster graphs, gram models) that a per-record stream
    cannot maintain — run them as the periodic sweep over the landed
    lake."""
    from ..operators import text as tx

    gated = (
        tx.quality_score(stream, text_col)
        .filter(F.coalesce(F.col("quality"), F.lit(0.0)) >= min_quality)
        .drop("n_tokens", "n_stopwords", "stopword_ratio", "mean_token_len")
    )
    keyed = gated.withColumn("__h", F.md5(F.col(text_col).cast("binary")))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def _recent_bucket_dates(bucket_path: str, n_days: int) -> list[str]:
    """The newest ``n_days`` distinct ``_date`` partition values in the
    store, anchored at the newest PRESENT date (not wall clock — the
    engine's replayability rule). One directory listing: O(measurements
    × dates) dirs, never O(files)."""
    import datetime
    import os

    dates: set[str] = set()
    try:
        for mdir in os.listdir(bucket_path):
            if not mdir.startswith("_measurement="):
                continue
            mpath = os.path.join(bucket_path, mdir)
            for ddir in os.listdir(mpath):
                if ddir.startswith("_date="):
                    dates.add(ddir.split("=", 1)[1])
    except (FileNotFoundError, NotADirectoryError):
        return []
    if not dates:
        return []
    newest = max(dates)
    cutoff = (
        datetime.date.fromisoformat(newest)
        - datetime.timedelta(days=n_days - 1)
    ).isoformat()
    return sorted(d for d in dates if d >= cutoff)


_DATE_DIR = re.compile(r"/_date=([^/]+)/")


def _touched_dates(batch_df: DataFrame) -> list[str]:
    """The ``_date`` values a micro-batch carries, from its FILE LIST:
    every bucket file lives under a ``_date=<day>`` directory, so the
    day set is pure metadata — a ``select("_date").distinct()`` runs a
    full data pass over the batch's rows (millions on a backfill tick)
    to recover a handful of values the source already knows. Falls
    back to that scan when ANY input file sits outside a ``_date=``
    directory, or the plan exposes no file paths (a non-file frame):
    the paths would then name only some of the batch's days, and a
    refresh of those alone silently skips the rest."""
    matches = [_DATE_DIR.search(f) for f in batch_df.inputFiles()]
    if matches and all(matches):
        return sorted({m.group(1) for m in matches})
    return sorted(
        str(r["_date"]) for r in batch_df.select("_date").distinct().collect()
    )


def start_rollup_maintenance(
    spark,
    bucket_path: str,
    rollup_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    maintain_manifest: bool = False,
    watch_recent_days: int | None = None,
):
    """Continuous-aggregate maintenance as a stream: TAIL THE BUCKET
    (file-source stream over the partitioned store) and, per
    micro-batch, refresh exactly the `_date` partitions the new files
    touched (`bucket.refresh_hourly_rollup`). Composed with the
    exactly-once CSV→bucket ingest this yields the InfluxDB
    continuous-query chain — raw stream → bucket → hourly rollup —
    with each stage independently restartable:

    * the refresh recomputes touched partitions FROM THE BUCKET (the
      source of truth) and dynamic-partition-overwrites them, so a
      replayed batch rewrites identical bytes — idempotent without any
      sink log;
    * the batch only yields the touched-date set (a handful of
      values), so maintenance cost tracks data arrival, not history.

    ``maintain_manifest=True`` additionally runs the INCREMENTAL stats-
    manifest refresh per batch (``bucket.refresh_bucket_manifest``),
    keeping file-level skipping (``scan_bucket``) fresh as the stream
    lands files — the single-maintenance-writer assumption holds here
    by construction (this stream IS the maintenance process). Cost per
    tick = footers of the batch's new files only.

    ``watch_recent_days=N`` bounds the METADATA FLOOR (SCALE §20): the
    file source's per-trigger directory listing walks the whole store
    (~6 ms/file of pure metadata — the known Spark file-source limit
    at ~10⁶ files), but the touched-date refresh never needs history,
    so the source path is narrowed to the newest N ``_date``
    partitions (one cheap dir-level listing at start; Hadoop
    ``{a,b}`` glob + ``basePath`` keeps the partition columns). Each
    ``availableNow`` tick re-derives the horizon, so it rolls forward
    with arrivals; the checkpoint's seen-files log carries across path
    changes, and a file that ages past the horizon unseen is caught by
    the next backfill refresh — retention (``expire_partitions``)
    bounds the live set either way.
    """
    from ..sources import bucket as bkt

    source_path = bucket_path
    if watch_recent_days is not None:
        recent = _recent_bucket_dates(bucket_path, watch_recent_days)
        if recent:
            source_path = (
                f"{bucket_path}/_measurement=*/_date={{{','.join(recent)}}}"
            )
    stream = (
        spark.readStream.schema(
            bkt.read_bucket(spark, bucket_path).schema
        )
        .option("maxFilesPerTrigger", 64)
        .option("basePath", bucket_path)
        .parquet(source_path)
    )

    def _refresh(batch_df, epoch_id: int) -> None:
        dates = _touched_dates(batch_df)
        if dates:
            bkt.refresh_hourly_rollup(
                batch_df.sparkSession, bucket_path, rollup_path, dates
            )
        if maintain_manifest:
            bkt.refresh_bucket_manifest(
                batch_df.sparkSession, bucket_path, incremental=True
            )

    writer = (
        stream.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_lineprotocol_ingest(
    spark: SparkSession,
    src_dir: str,
    bucket_path: str,
    checkpoint: str,
    tag_keys: list[str] | None = None,
    time_unit: str = "ns",
    available_now: bool = True,
) -> StreamingQuery:
    """Line-protocol arrivals → parse (sources/line_protocol — JVM-only
    shredding, declared tags promoted) → partitioned Parquet bucket,
    exactly once: the file source's processed-file log gives
    at-most-once per file, the sink's transaction log gives atomic
    batches — the same two-sided contract as ``start_bucket_ingest``,
    over InfluxDB's native wire format instead of the reference's
    CSVs. Rejected lines are dropped here (the parse keeps only good
    rows); run ``line_protocol_rejects`` over the same directory in
    batch for the quarantine report — the parse is deterministic, so
    the split is exactly reproducible."""
    from ..sources import line_protocol as lp

    parsed = lp.stream_line_protocol(
        spark, src_dir, tag_keys=tag_keys, time_unit=time_unit
    ).withColumn("_date", F.to_date("_time"))

    writer = (
        parsed.writeStream.format("parquet")
        .option("path", bucket_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("_measurement", "_date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
