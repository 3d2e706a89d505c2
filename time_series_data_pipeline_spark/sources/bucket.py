"""Long-format partitioned-Parquet "bucket" — the storage contract.

The Spark-native replacement for the reference's InfluxDB measurement
(rahulkorpe/time-series-data-pipeline transform.py:64-76 writes the wide
frame through the InfluxDB client, which unpivots columns into
``(_time, _measurement, _field, _value)`` rows; README.md:155-161,
173-178 describe the long model and the TSM time-indexed store).

Layout (SURVEY.md §1.4, §4): ``partitionBy(_measurement, _date)`` +
``sortWithinPartitions(_field, _time)``. That single decision buys what
InfluxDB's TSM engine provides via code:

- measurement / time-range predicates  → directory partition pruning;
- ``_field`` / ``_time`` predicates    → Parquet row-group min-max
  skipping, because sorted-within-partition makes the stats tight.

Tags: the reference's ``data_frame_tag_columns=['Temperature']`` matches
no real column, so zero tags are ever written ("No tag keys found",
photo/Influxdb-result.png) — we carry an empty ``map<string,string>``
to keep the schema honest without replicating the bug. A REAL
line-protocol corpus keys its series on tags (README.md:155-161), so
the store supports them first-class (round 11): declared tag keys are
PROMOTED to top-level string columns (parquet predicate pushdown +
dictionary/RLE encoding — the columnar analog of InfluxDB's
dictionary-encoded tag sets) AND mirrored into the ``tags`` map (the
generic schema.tagKeys/tagValues surface). Every non-core column of a
bucket frame is, by contract, a promoted tag column.

Scale: the unpivot is narrow (each wide row expands to 19 long rows in
place); the only wide operation in ingestion is the optional
``sortWithinPartitions``, which sorts locally per output task — no
shuffle. At 100 TB, repartition by ``(_measurement, _date)`` before the
write so each Hive partition is produced by few tasks (small-file
control); day-partition count grows with time, not volume, so pruning
keeps interactive queries reading a constant number of files.
"""

from __future__ import annotations

import functools
import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import timeseries as ts_ops

BUCKET_COLS = ("_time", "_measurement", "_field", "_value", "tags")


def tag_columns(df: DataFrame) -> list[str]:
    """The frame's promoted tag columns — by the storage contract,
    every column beyond the bucket core (+ the ``_date`` partition
    column) is a promoted series tag (module doc). Order is the
    frame's column order (the write-time declaration order)."""
    return [c for c in df.columns if c not in BUCKET_COLS and c != "_date"]

#: Serializes EVERY session-global conf set/restore in this codebase
#: (write_bucket's parquet timestamp type here; the drained streams'
#: shuffle-partition sizing in queries/timeseries_q imports this same
#: lock — ADVICE r15): unlike partitionOverwriteMode, these confs have
#: no per-operation option, so concurrent mutators in one session
#: would race each other's set/restore.
_SESSION_CONF_LOCK = threading.Lock()


def to_long(
    df: DataFrame,
    measurement: str,
    time_col: str = "_time",
    value_cols: list[str] | None = None,
    field_labels: dict[str, str] | None = None,
    tag_cols: list[str] | None = None,
) -> DataFrame:
    """Wide → long unpivot into the bucket schema (the InfluxDB client's
    implicit reshape, transform.py:72-73). ``unpivot`` is a Catalyst
    ``Expand`` — JVM-side, no Python, no shuffle.

    ``field_labels`` maps in-flight safe column names back to their
    public field labels (gas_csv.FIELD_LABELS) via a literal map lookup
    — constant-folded per Expand branch, zero per-row cost in practice.

    ``tag_cols`` names wide columns carried as SERIES TAGS (the
    InfluxDB client's ``data_frame_tag_columns``): each becomes a
    promoted top-level string column (pushdown-capable) AND an entry in
    the ``tags`` map — the dual representation the module doc
    describes. Tag columns ride the unpivot's id side, so the reshape
    stays a single narrow Expand."""
    tag_cols = list(tag_cols or [])
    if value_cols is None:
        value_cols = [
            c
            for c, t in df.dtypes
            if t == "double" and c != time_col and c not in tag_cols
        ]
    if len(tag_cols) != len(set(tag_cols)):
        raise ValueError(f"tag_cols lists a column twice: {tag_cols}")
    overlap = set(tag_cols) & set(value_cols)
    if overlap:
        raise ValueError(f"tag_cols overlap value_cols: {sorted(overlap)}")
    # _date is derived at write time (the partition column) — a tag of
    # that name would silently collide in write_bucket
    reserved = set(tag_cols) & ({*BUCKET_COLS, "_date"})
    if reserved:
        raise ValueError(
            f"tag_cols collide with bucket schema columns: {sorted(reserved)}"
        )
    field = F.col("_field")
    if field_labels:
        lookup = F.create_map(
            *[F.lit(x) for kv in field_labels.items() for x in kv]
        )
        field = F.coalesce(lookup[F.col("_field")], F.col("_field"))
    tag_exprs = [F.col(c).cast("string").alias(c) for c in tag_cols]
    tags_map = (
        F.create_map(
            *[
                x
                for c in tag_cols
                for x in (F.lit(c), F.col(c).cast("string"))
            ]
        )
        if tag_cols
        else F.create_map().cast("map<string,string>")
    )
    return (
        df.unpivot(
            ids=[time_col, *tag_cols], values=list(value_cols), variableColumnName="_field", valueColumnName="_value"
        )
        .select(
            F.col(time_col).alias("_time"),
            F.lit(measurement).alias("_measurement"),
            field.alias("_field"),
            "_value",
            *tag_exprs,
            tags_map.alias("tags"),
        )
    )


def write_bucket(
    df: DataFrame, path: str, mode: str = "append", cluster: str = "day"
) -> None:
    """Write long rows under ``path`` partitioned by measurement/date,
    field-and-time sorted inside each file for row-group skipping.

    ``mode="overwrite"`` is the idempotent batch path (SURVEY.md §2.7
    ST6): with dynamic partition overwrite, only the (measurement, date)
    partitions PRESENT IN ``df`` are replaced — re-running a day's
    backfill overwrites exactly that day and never touches the rest of
    the bucket, so batch re-ingestion is safe to retry. (The streaming
    path gets the same guarantee from the sink's transaction log.)

    ``cluster`` picks the file-clustering key inside each day
    partition: ``"day"`` (default) co-locates a whole (measurement,
    date) in one task → one file per day; ``"field"`` additionally
    hashes on ``_field`` so each file covers one (or few) fields —
    tight footer ``_field`` stats that make the manifest's file-level
    skipping (``scan_bucket``) selective for single-field queries, the
    file-layout analog of InfluxDB's per-series TSM organization
    (README.md:173-178). Cost: ~|fields| files per day instead of one
    (bounded by fields × days, not volume). ``"tags"`` hashes on the
    promoted tag columns instead — each file covers ~one tag
    combination, so a manifest harvesting the tags skips whole files
    for tag-selective dashboards (measured: 32/114 files survive a
    one-host query at sf0.1, SCALE §23); pick per dominant query
    shape like any physical-design decision.
    """
    keys = {
        "day": ["_measurement", "_date"],
        "field": ["_measurement", "_date", "_field"],
        "tags": ["_measurement", "_date", *tag_columns(df)],
        # "pre": the CALLER already clustered the rows by the partition
        # keys (e.g. repartitioned the WIDE frame by day BEFORE the 19x
        # unpivot — the shuffle-before-explode rule: the exchange then
        # moves one wide row instead of 19 long ones). Skip the
        # repartition here; sort + partitioned write only. The caller's
        # clustering is TRUSTED, not validated (ADVICE r15): rows that
        # are not actually co-located by (_measurement, day) still
        # write correct data but silently produce one file per
        # (input-partition, day) pair — degrading the one-file-per-day
        # layout the manifest skipping relies on, without erroring.
        "pre": ["_measurement", "_date"],
    }[cluster]
    if cluster == "tags" and len(keys) == 2:
        raise ValueError(
            'cluster="tags" needs promoted tag columns in the frame '
            "(none found — see module doc)"
        )
    dated = df.withColumn("_date", F.to_date("_time"))
    if cluster in ("field", "tags"):
        # explicit partition count: a bare repartition(cols) is advisory
        # and AQE coalesces the tiny per-field splits back into one task
        # per day — which collapses the per-field files (and their tight
        # footer stats) this layout exists for
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        dated = dated.repartition(n, *keys)
    elif cluster != "pre":
        dated = dated.repartition(*keys)
    spark = df.sparkSession
    # INT96 (Spark's legacy parquet timestamp) carries NO column stats,
    # which silently disables both row-group skipping on _time and the
    # stats manifest; write INT64 micros for the duration of the write.
    # The conf is session-global with no per-write DataFrameWriter
    # option, so the set/write/restore is serialized under a module
    # lock (ADVICE r6): two concurrent write_bucket calls — or any
    # thread racing this block with its own parquet write — could
    # otherwise clobber each other's timestamp type or restore the
    # wrong value. Other writers in the same session that bypass this
    # lock still race the conf; they should take _SESSION_CONF_LOCK too.
    with _SESSION_CONF_LOCK:
        prev_ts = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        try:
            # series-key sort: (_field, tags..., _time) — one series'
            # rows are contiguous inside each file, so row-group
            # min/max stats are tight for field AND tag predicates
            # (the per-series TSM block layout, README.md:173-178)
            sort_cols = ["_field", *tag_columns(df), "_time"]
            out = (
                dated.sortWithinPartitions(*sort_cols)
                .write.mode(mode)
                .partitionBy("_measurement", "_date")
            )
            if mode == "overwrite":
                out = out.option("partitionOverwriteMode", "dynamic")
            out.parquet(path)
        finally:
            if prev_ts is None:
                spark.conf.unset("spark.sql.parquet.outputTimestampType")
            else:
                spark.conf.set(
                    "spark.sql.parquet.outputTimestampType", prev_ts
                )


def read_bucket(spark: SparkSession, path: str) -> DataFrame:
    """Read the bucket WITH its ``_date`` partition column: `scan`
    derives a partition predicate from the time range off it — dropping
    it here would leave only the row-level ``_time`` filter, which
    parquet row-group stats can skip but directory pruning cannot see
    (measured: the difference between listing/reading every
    day-partition and touching only the queried days)."""
    return spark.read.parquet(path)


#: per-(session, store, generation) promoted-tag-column cache — see
#: the discovery comment in flux._compile_pipeline. The session component
#: is the Spark applicationId (stable for a session's lifetime; a
#: recycled python object id would not be — review r11). The store
#: generation is the root directory's mtime — BEST-EFFORT staleness
#: protection: it changes whenever the root's direct children change
#: (first build, a new measurement, a plain-overwrite rewrite), which
#: covers how tag-set changes land in practice; a dynamic-partition
#: overwrite that swaps a store's tag set IN PLACE inside one session
#: stays outside the contract (a tag set is the store's schema
#: identity — changing it is a new store version, like any
#: table-format schema change).
_TAG_COLS_CACHE: dict[tuple[str, str, float], list[str]] = {}


def _store_tag_cols(spark: SparkSession, path: str) -> list[str]:
    import os

    root = os.path.abspath(path)
    try:
        gen = os.path.getmtime(root)
    except OSError:
        gen = -1.0
    key = (spark.sparkContext.applicationId, root, gen)
    if key not in _TAG_COLS_CACHE:
        _TAG_COLS_CACHE[key] = tag_columns(read_bucket(spark, path))
        if len(_TAG_COLS_CACHE) > 256:
            _TAG_COLS_CACHE.pop(next(iter(_TAG_COLS_CACHE)))
    return _TAG_COLS_CACHE[key]


def compact_bucket(
    spark: SparkSession,
    path: str,
    measurement: str,
    date: str,
    files_per_partition: int = 1,
    split_by_field: bool = False,
) -> None:
    """Rewrite one (measurement, date) partition into
    ``files_per_partition`` field/time-sorted files.

    The small-file problem is the operational tax of streaming ingest:
    every micro-batch appends a file per partition, and a year of
    5-minute batches is ~100k tiny files per day-partition — metadata
    pressure and lost row-group locality. Compaction = read one
    partition, coalesce, rewrite with dynamic partition overwrite, so
    concurrent readers only ever see the old or the new complete set.
    Idempotent: re-running reproduces the same partition content.

    ``split_by_field`` clusters rows into output files BY FIELD
    (hash-repartition on ``_field``) instead of coalescing arbitrary
    input splits together: each file then covers few fields, its
    footer ``_field`` min/max is TIGHT, and the stats manifest
    (``refresh_bucket_manifest`` + ``scan_bucket``) can skip whole
    files for a single-field query — the file-level analog of the
    reference's per-(measurement, field) TSM series index
    (README.md:173-178). Without it one compacted file spans every
    field and file-level field pruning is vacuous.
    """
    part = (
        spark.read.parquet(path)
        .filter((F.col("_measurement") == measurement) & (F.col("_date") == date))
        .drop("_date")
    )
    if split_by_field:
        part = part.repartition(files_per_partition, "_field")
    else:
        part = part.coalesce(files_per_partition)
    (
        part.sortWithinPartitions("_field", "_time")
        .withColumn("_date", F.to_date("_time"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_measurement", "_date")
        .parquet(path)
    )


#: Stats-manifest location inside a bucket store. The leading ``_``
#: keeps it invisible to Spark's data-file discovery (same convention
#: as _SUCCESS / Delta's _delta_log).
MANIFEST_SUBDIR = "_stats_manifest"


def refresh_bucket_manifest(
    spark: SparkSession,
    path: str,
    columns: tuple[str, ...] | None = None,
    incremental: bool = False,
) -> str:
    """(Re)build the bucket's file-level stats manifest — the engine
    analog of the reference's TSM index (README.md:173-178: InfluxDB
    resolves (measurement, field, time range) to storage blocks via an
    index; here the manifest resolves it to parquet FILES before any
    footer is opened). Run after write/compact maintenance, like any
    table-format stats refresh; staleness is safe (uncovered files are
    force-scanned, see sources/manifest.py).

    ``incremental=True`` harvests footers only for files the manifest
    does not cover yet and drops rows for compacted-away files — the
    steady-state maintenance tick whose cost tracks arrival, not store
    size (single maintenance writer assumed, like any table format's
    metadata commit).

    ``columns=None`` (the default) derives the column set from the
    EXISTING manifest's distinct ``column`` values when one is readable
    (ADVICE r6: a hardcoded default here would harvest newly-arrived
    files with different columns than the manifest was built with,
    silently mixing per-file coverage); a store with no — or an
    unreadable/partial — manifest falls back to the bucket's standard
    ("_field", "_time"), so the full rebuild always heals a
    half-written manifest dir instead of crashing on it."""
    import os

    from . import manifest as mf

    man = os.path.join(path, MANIFEST_SUBDIR)
    if incremental and os.path.isdir(man):
        # refresh_stats_manifest derives columns=None from the manifest
        # read it performs anyway (one job for coverage + column set)
        mf.refresh_stats_manifest(
            spark, path, man, list(columns) if columns is not None else None
        )
    else:
        if columns is None:
            # manifest_columns heals absent/partial manifests with
            # None (→ defaults) but PROPAGATES transient read errors —
            # silently falling back would rebuild with narrower
            # columns and drop file-skipping coverage
            columns = tuple(
                mf.manifest_columns(spark, man) or ("_field", "_time")
            )
        mf.write_manifest(
            mf.build_stats_manifest(spark, path, list(columns)), man
        )
    return man


def scan(
    bucket: DataFrame,
    measurement: str | None = None,
    field: str | None = None,
    start: str | Column | None = None,
    stop: str | Column | None = None,
    tags: dict[str, str] | None = None,
) -> DataFrame:
    """The Flux pipeline prefix (reference photo/use-variable.png lines
    1-4): ``from(bucket) |> range(start, stop) |> filter(_measurement)
    |> filter(_field)``. Range is half-open ``[start, stop)``.

    All predicates are plain comparisons, so Catalyst pushes them to
    the scan: measurement + date prune directories, field/time prune
    row groups (see module doc). When the frame carries the ``_date``
    partition column, the time range is ALSO applied to it —
    ``_date ∈ [date(start), date(stop)]`` is implied by ``_time ∈
    [start, stop)`` since ``_date = to_date(_time)`` — which is what
    turns the range into PartitionFilters (directory pruning at
    planning time) instead of a row-level filter evaluated after every
    partition has been listed and opened.

    ``tags`` adds per-tag equality predicates: on a PROMOTED tag
    column they are plain pushed comparisons (parquet row-group
    skipping over the series-key sort); a key with no promoted column
    falls back to a ``tags`` map lookup — row-level only (maps carry
    no parquet stats), documented as the slow path.
    """
    has_date = "_date" in bucket.columns
    as_col = lambda x: F.lit(x) if isinstance(x, str) else x  # noqa: E731
    # ONE filter call over the conjunction: each DataFrame.filter is a
    # py4j round trip with eager analysis. The conjuncts keep the order
    # CombineFilters gives one filter per predicate, so the optimized
    # plan is the same either way
    preds: list[Column] = []
    if measurement is not None:
        preds.append(F.col("_measurement") == measurement)
    if start is not None:
        preds.append(F.col("_time") >= start)
        if has_date:
            preds.append(F.col("_date") >= F.to_date(as_col(start)))
    if stop is not None:
        preds.append(F.col("_time") < stop)
        if has_date:
            # _date is day-truncated, so the half-open _time bound maps
            # to an INCLUSIVE date bound (stop's own day can still hold
            # rows with _time < stop)
            preds.append(F.col("_date") <= F.to_date(as_col(stop)))
    if field is not None:
        preds.append(F.col("_field") == field)
    for k, v in (tags or {}).items():
        if k in bucket.columns:
            preds.append(F.col(k) == v)
        else:
            preds.append(F.element_at(F.col("tags"), F.lit(k)) == v)
    if not preds:
        return bucket
    return bucket.filter(functools.reduce(Column.__and__, preds))


def expire_partitions(
    spark: SparkSession,
    path: str,
    older_than_date: str,
    measurement: str | None = None,
) -> list[str]:
    """Retention enforcement — the InfluxDB bucket-retention analog,
    expressed as partition-directory deletion: drop every ``_date``
    partition strictly OLDER than ``older_than_date`` (optionally for
    one measurement), then incrementally refresh the stats manifest so
    pruning stops listing the dead files. Returns the deleted
    partition dir names (relative).

    Deleting whole day-directories is the only retention shape that
    stays O(expired-days) at 100 TB — a row-level DELETE would rewrite
    the table. Single maintenance writer assumed (like compact);
    readers racing the delete behave like any vanished-partition read
    and retry off the refreshed listing. Idempotent: re-running with
    the same cutoff deletes nothing new."""
    import os
    import shutil

    root = os.path.abspath(path)
    if os.path.isdir(os.path.join(root, "_spark_metadata")):
        # a FileStreamSink store's readers list files from the
        # _spark_metadata log, not the directory — deleting partition
        # dirs would leave the log pointing at vanished files and break
        # every native read with PATH_NOT_FOUND. Retention on a
        # streaming store must rewrite the sink log (compact the store
        # into a batch-written bucket first, then expire there).
        raise ValueError(
            f"{path} is a streaming-sink store (_spark_metadata present): "
            "expire_partitions would orphan the sink log; compact to a "
            "batch bucket first"
        )
    deleted: list[str] = []
    for mdir in sorted(os.listdir(root)):
        if not mdir.startswith("_measurement="):
            continue
        if measurement is not None and mdir != f"_measurement={measurement}":
            continue
        mpath = os.path.join(root, mdir)
        for ddir in sorted(os.listdir(mpath)):
            if not ddir.startswith("_date="):
                continue
            if ddir.split("=", 1)[1] < older_than_date:
                shutil.rmtree(os.path.join(mpath, ddir), ignore_errors=True)
                deleted.append(os.path.join(mdir, ddir))
    if deleted and os.path.isdir(os.path.join(root, MANIFEST_SUBDIR)):
        refresh_bucket_manifest(spark, path, incremental=True)
    return deleted


def delete_rows(
    spark: SparkSession,
    path: str,
    start: str,
    stop: str,
    measurement: str | None = None,
    field: str | None = None,
    tags: dict[str, str] | None = None,
    cluster: str = "day",
) -> dict:
    """The InfluxDB DELETE endpoint analog (``influx delete --bucket b
    --start --stop [--predicate '_measurement="m" AND host="a"']``):
    remove rows inside ``[start, stop)`` matching the predicate —
    the documented equality-conjunction subset (measurement, field,
    promoted-tag equalities), exactly the trio the scanner pushes down.
    ``start``/``stop`` are REQUIRED, as upstream requires them.

    Scale shape (SURVEY §2.7 ST6's idempotent-overwrite discipline):
    only the ``_date`` partitions intersecting the range are read and
    rewritten — dynamic partition overwrite replaces each touched
    partition with its SURVIVING rows, so cost is O(touched
    partitions), never a table rewrite. A partition left with zero
    survivors is removed like ``expire_partitions`` (dynamic overwrite
    cannot express "replace with nothing"). Survivors are eagerly
    materialized (``localCheckpoint``) before the overwrite — a lazy
    plan would read the very files the write replaces. The stats
    manifest refreshes incrementally afterwards. Idempotent: a re-run
    finds no matching rows and rewrites partitions with themselves.
    Single maintenance writer assumed, like compact/expire.

    PARTIAL-FAILURE story (ADVICE r12): the eager ``localCheckpoint``
    pins the touched partitions' survivors in executor storage
    UNREPLICATED, so an executor loss mid-delete fails the job — and
    the dynamic overwrite is per-partition, so some touched partitions
    may already hold the post-delete state while others still hold the
    pre-delete one. Readers see only whole old or whole new partitions
    (never torn files), and because the operation is idempotent the
    documented recovery is simply RE-RUN THE SAME CALL: already-swapped
    partitions have no matching rows left and rewrite as themselves,
    the rest complete the delete. For ranges too wide to pin in
    executor memory, split the call into per-day [start, stop) slices —
    cost is identical (the partition set is the unit of work either
    way) and each slice bounds the checkpointed footprint to one day.

    ``cluster`` must name the store's file-clustering layout (see
    ``write_bucket``) so the rewritten partitions keep their footer-
    stats organization. Returns ``{"rows_deleted": int,
    "partitions_rewritten": [...], "partitions_removed": [...]}``.
    """
    import os
    import shutil

    root = os.path.abspath(path)
    if os.path.isdir(os.path.join(root, "_spark_metadata")):
        raise ValueError(
            f"{path} is a streaming-sink store (_spark_metadata present): "
            "delete_rows would orphan the sink log; compact to a batch "
            "bucket first"
        )
    # derive the touched-date window from PARSED UTC instants, never
    # raw string slices (review 12d: an offset-bearing bound or a
    # non-zero-padded date would silently skip partitions and report
    # success); the same parsed instants feed the row filter below so
    # the directory window and the row window cannot disagree
    import datetime as _dt

    def _parse_utc(tok: str, label: str) -> _dt.datetime:
        try:
            d = _dt.datetime.fromisoformat(
                tok.replace("Z", "+00:00").replace(" ", "T")
            )
        except ValueError as exc:
            raise ValueError(
                f"delete_rows {label}: unparseable timestamp {tok!r} "
                "(ISO-8601 / 'YYYY-MM-DD HH:MM:SS' required)"
            ) from exc
        if d.tzinfo is not None:
            d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return d

    start_dt = _parse_utc(start, "start")
    stop_dt = _parse_utc(stop, "stop")
    if not start_dt < stop_dt:
        raise ValueError(
            f"delete_rows: start {start!r} must precede stop {stop!r}"
        )
    d0 = start_dt.date().isoformat()
    # stop is exclusive: a midnight stop does not touch that day
    d1 = (stop_dt - _dt.timedelta(microseconds=1)).date().isoformat()
    # touched partitions, from the directory layout (like expire)
    touched: list[tuple[str, str]] = []
    for mdir in sorted(os.listdir(root)):
        if not mdir.startswith("_measurement="):
            continue
        mname = mdir.split("=", 1)[1]
        if measurement is not None and mname != measurement:
            continue
        mpath = os.path.join(root, mdir)
        for ddir in sorted(os.listdir(mpath)):
            if ddir.startswith("_date=") and d0 <= ddir.split("=", 1)[1] <= d1:
                touched.append((mname, ddir.split("=", 1)[1]))
    if not touched:
        return {
            "rows_deleted": 0,
            "partitions_rewritten": [],
            "partitions_removed": [],
        }
    src = read_bucket(spark, path).filter(
        F.col("_date").between(d0, d1)
        & (
            F.col("_measurement").isin([m for m, _ in {*touched}])
            if measurement is None
            else (F.col("_measurement") == measurement)
        )
    )
    matching = (F.col("_time") >= F.lit(start_dt)) & (
        F.col("_time") < F.lit(stop_dt)
    )
    if field is not None:
        matching = matching & (F.col("_field") == field)
    for t, v in (tags or {}).items():
        if t not in src.columns:
            raise ValueError(
                f"predicate tag {t!r} is not a promoted column of this "
                f"store (has {tag_columns(src)})"
            )
        # a NULL tag never equals the predicate value — those rows
        # survive, exactly upstream's missing-tag behavior
        matching = matching & (F.col(t) == v)
    # ONE parquet pass over the touched partitions: the match flag is
    # materialized alongside the rows, and both the deleted count and
    # the survivor frame read the checkpoint, not the files the
    # overwrite is about to replace
    flagged = src.drop("_date").withColumn(
        "__match", F.coalesce(matching, F.lit(False))
    ).localCheckpoint(eager=True)
    n_match = flagged.filter(F.col("__match")).count()
    survivors = flagged.filter(~F.col("__match")).drop("__match")
    surv_parts = {
        (r["_measurement"], r["_date"].isoformat())
        for r in survivors.withColumn("_date", F.to_date("_time"))
        .select("_measurement", "_date")
        .distinct()
        .collect()
    }
    rewritten = n_match > 0 and bool(surv_parts)
    if rewritten:
        write_bucket(survivors, path, mode="overwrite", cluster=cluster)
    removed = []
    for mname, d in touched:
        if (mname, d) not in surv_parts:
            shutil.rmtree(
                os.path.join(root, f"_measurement={mname}", f"_date={d}"),
                ignore_errors=True,
            )
            removed.append(f"_measurement={mname}/_date={d}")
    if n_match and os.path.isdir(os.path.join(root, MANIFEST_SUBDIR)):
        refresh_bucket_manifest(spark, path, incremental=True)
    return {
        "rows_deleted": n_match,
        # only partitions the overwrite actually replaced — a no-match
        # call rewrites nothing and says so (review 12d)
        "partitions_rewritten": sorted(
            f"_measurement={m}/_date={d}"
            for (m, d) in surv_parts
            if (m, d) in set(touched)
        )
        if rewritten
        else [],
        "partitions_removed": removed,
    }


def scan_bucket(
    spark: SparkSession,
    path: str,
    measurement: str | None = None,
    field: str | None = None,
    start: str | None = None,
    stop: str | None = None,
    tags: dict[str, str] | None = None,
) -> DataFrame:
    """Manifest-aware ``scan``: beyond ``_date`` directory pruning, the
    file-level stats manifest (``refresh_bucket_manifest``) skips
    whole parquet files whose footer ``_field``/``_time`` ranges miss
    the predicates — files are eliminated from the read BEFORE any
    footer is opened, the third pruning tier between directories and
    row groups (VERDICT r5 item 4; reference analog: the TSM index,
    README.md:173-178). Falls back to the plain partition-pruned scan
    when no manifest exists. Row-level semantics are identical to
    ``scan`` in both paths — pruning is conservative by construction
    (intersecting or uncovered files are always read; ``scan``'s
    pushed filters do the final cut)."""
    import os

    from . import manifest as mf

    man = os.path.join(path, MANIFEST_SUBDIR)
    if not os.path.isdir(man):
        return scan(
            read_bucket(spark, path), measurement, field, start, stop, tags
        )
    constraints: dict[str, tuple] = {}
    if field is not None:
        constraints["_field"] = (field, field)
    if start is not None or stop is not None:
        # file granularity keeps the half-open stop bound inclusive —
        # conservative; scan()'s _time < stop row filter finishes it
        constraints["_time"] = (start, stop)
    for k, v in (tags or {}).items():
        # promoted-tag equality joins the file-level skip when the
        # manifest harvested that column; an uncovered column is a
        # no-op constraint (prune_files is conservative by design) and
        # scan()'s row filter still applies it
        constraints[k] = (v, v)
    if not constraints:
        return scan(
            read_bucket(spark, path), measurement, field, start, stop, tags
        )
    pruned = mf.scan_pruned(
        spark, path, man, constraints=constraints, base_path=path
    )
    return scan(pruned, measurement, field, start, stop, tags)


def window_mean(scanned: DataFrame, every: str = "5 minutes") -> DataFrame:
    """The Flux suffix: ``aggregateWindow(every, fn: mean, createEmpty:
    false) |> yield("mean")`` — tumbling mean per field."""
    return ts_ops.tumbling_agg(scanned, "_time", "_value", ["_field"], every)


def hourly_rollup(bucket: DataFrame) -> DataFrame:
    """Continuous-aggregate shape: per (measurement, field, hour) exact
    count/sum/min/max over the long bucket. SUM is carried as
    DECIMAL(38,6) so partial rollups MERGE losslessly — the property
    that makes the cascade (hour → day → month) and the incremental
    refresh below algebraically exact, never approximate."""
    return (
        bucket.groupBy(
            "_measurement",
            "_field",
            F.date_trunc("hour", "_time").alias("_hour"),
            F.col("_date"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_value").cast("decimal(38,6)")).alias("sum_value"),
            F.min("_value").alias("min_value"),
            F.max("_value").alias("max_value"),
        )
    )


def refresh_hourly_rollup(
    spark: SparkSession,
    bucket_path: str,
    rollup_path: str,
    dates: list[str] | None = None,
) -> None:
    """Incrementally maintain the hourly rollup store — the InfluxDB
    continuous-query / TimescaleDB continuous-aggregate refresh,
    Spark-first: recompute ONLY the ``dates`` partitions from the
    bucket (partition-pruned scan) and dynamic-partition-overwrite them
    into the rollup store. ``dates=None`` performs a full build.

    Idempotent (re-running a refresh rewrites the same partitions with
    the same content) and exactly as fresh as the bucket: a late-data
    backfill into day D is folded in by refreshing [D] — cost is one
    day's scan, not the table's. At 100 TB this is THE rollup
    maintenance pattern: the overwrite granularity equals the bucket's
    partition granularity, so refresh cost tracks data arrival, not
    history size.

    ONE maintenance writer per rollup store assumed (VERDICT r6 item
    5) — two concurrent refreshes of the same date would race the
    partition overwrite, the same contract every table format's commit
    makes. The overwrite mode is the PER-WRITER DataFrameWriter option
    (not a session-conf mutation), so concurrent unrelated writers in
    the same session are unaffected."""
    b = read_bucket(spark, bucket_path)
    if dates is not None:
        b = b.filter(F.col("_date").isin(dates))
    (
        hourly_rollup(b)
        .repartition("_measurement", "_date")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_measurement", "_date")
        .parquet(rollup_path)
    )
