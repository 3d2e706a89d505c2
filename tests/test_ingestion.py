"""Golden + property tests for the ingestion path (SURVEY.md §5.2-5.5):
timestamp derivation edge cases, the 86400 boundary, anti-join
idempotence, wide↔long round-trip, bucket layout pruning, and
streaming-vs-batch equivalence.

Fixture CSVs follow FIXTURES.md §A1 (tiny scale): fractional 3.5 Hz
steps, t=0, t=86400 exactly, t>86400, three filename dates.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from time_series_data_pipeline_spark.sources import bucket as bkt
from time_series_data_pipeline_spark.sources import gas_csv
from time_series_data_pipeline_spark.streaming import ingest as st

# Original CSV headers (skipped positionally at read; realism only).
HEADER = ",".join(["Time (s)", *gas_csv.FIELD_LABELS.values()])

# (file name, time values). Values for column j at time t: t + j.
FILES = {
    "20161007_210049.csv": [0.0, 0.29, 0.5714, 86399.71, 86400.0, 86400.29],
    "20161008_234508.csv": [0.0, 300.0, 600.0],
    "20161010_095937.csv": [0.0, 1.0],
}
KEPT = {f: [t for t in ts if t < 86400] for f, ts in FILES.items()}
N_KEPT = sum(len(v) for v in KEPT.values())


def _write_csvs(d: str, names=None) -> str:
    os.makedirs(d, exist_ok=True)
    for name, times in FILES.items():
        if names is not None and name not in names:
            continue
        rows = [HEADER]
        for t in times:
            rows.append(",".join(str(t + j) for j in range(20)))
        with open(os.path.join(d, name), "w") as f:
            f.write("\n".join(rows) + "\n")
    return d


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory) -> str:
    return _write_csvs(str(tmp_path_factory.mktemp("gas_csv")))


def test_timestamp_derivation_goldens(spark, csv_dir):
    df = gas_csv.ingest_wide(spark, csv_dir)
    got = {
        (r["file_name"], r[gas_csv.TIME_COL]): r["_time"]
        for r in df.select("file_name", gas_csv.TIME_COL, "_time").collect()
    }
    assert len(got) == N_KEPT
    # t=0 → file date midnight; fractional seconds survive at µs precision.
    assert got[("20161007_210049.csv", 0.0)] == dt.datetime(2016, 10, 7)
    assert got[("20161007_210049.csv", 0.29)] == dt.datetime(2016, 10, 7, 0, 0, 0, 290000)
    assert got[("20161007_210049.csv", 86399.71)] == dt.datetime(
        2016, 10, 7, 23, 59, 59, 710000
    )
    # second file's date comes from ITS filename
    assert got[("20161008_234508.csv", 600.0)] == dt.datetime(2016, 10, 8, 0, 10)


def test_day_boundary_strict(spark, csv_dir):
    """Reference kept t<=86400 and emitted '1 day, 0:00:00' timestamps
    (transform.py:22-27); we pin strict < (SURVEY.md §2.3)."""
    df = gas_csv.ingest_wide(spark, csv_dir)
    times = [r[0] for r in df.select(gas_csv.TIME_COL).collect()]
    assert max(times) < 86400
    assert 86400.0 not in times and 86400.29 not in times


def test_anti_join_new_files(spark, csv_dir):
    discovered = gas_csv.ingest_wide(spark, csv_dir).select("file_name").distinct()
    processed = spark.createDataFrame(
        [Row(file_name="20161007_210049.csv"), Row(file_name="not_seen.csv")]
    )
    fresh = {r[0] for r in gas_csv.new_files(discovered, processed).collect()}
    assert fresh == {"20161008_234508.csv", "20161010_095937.csv"}
    # full overlap → empty (idempotent re-run)
    assert gas_csv.new_files(discovered, discovered).count() == 0


def test_wide_long_roundtrip(spark, csv_dir):
    """unpivot ∘ pivot = id (SURVEY.md §5.4)."""
    wide = gas_csv.ingest_wide(spark, csv_dir).select("_time", *gas_csv.VALUE_COLS)
    long_df = bkt.to_long(wide, "gas", value_cols=list(gas_csv.VALUE_COLS))
    assert long_df.count() == N_KEPT * 19
    assert set(long_df.columns) == set(bkt.BUCKET_COLS)
    back = (
        long_df.groupBy("_time")
        .pivot("_field", list(gas_csv.VALUE_COLS))
        .agg(F.first("_value"))
    )
    a = {tuple(r) for r in wide.collect()}
    b = {tuple(r) for r in back.select("_time", *gas_csv.VALUE_COLS).collect()}
    assert a == b


def test_bucket_write_layout_and_flux_query(spark, csv_dir, tmp_path):
    path = str(tmp_path / "bucket")
    wide = gas_csv.ingest_wide(spark, csv_dir)
    bkt.write_bucket(
        bkt.to_long(
            wide, "gas",
            value_cols=list(gas_csv.VALUE_COLS),
            field_labels=gas_csv.FIELD_LABELS,
        ),
        path,
    )
    # Hive layout: measurement dir → one date dir per file date.
    dates = os.listdir(os.path.join(path, "_measurement=gas"))
    assert sorted(d for d in dates if d.startswith("_date=")) == [
        "_date=2016-10-07",
        "_date=2016-10-08",
        "_date=2016-10-10",
    ]
    b = bkt.read_bucket(spark, path)
    assert b.count() == N_KEPT * 19

    # Flux restatement: range + measurement + field + 5m window mean.
    scanned = bkt.scan(
        b, measurement="gas", field="CO (ppm)",
        start="2016-10-08 00:00:00", stop="2016-10-09 00:00:00",
    )
    got = {
        r["window_start"]: (r["avg_value"], r["n"])
        for r in bkt.window_mean(scanned, "5 minutes").collect()
    }
    # day-2 times 0/300/600 s, CO column = t+1 → buckets 00:00, 00:05, 00:10
    assert got == {
        dt.datetime(2016, 10, 8, 0, 0): (1.0, 1),
        dt.datetime(2016, 10, 8, 0, 5): (301.0, 1),
        dt.datetime(2016, 10, 8, 0, 10): (601.0, 1),
    }
    # partition pruning: a one-day scan reads exactly one date partition
    plan = scanned._jdf.queryExecution().executedPlan().toString()
    assert "_date=2016-10-08" not in plan  # sanity: plan prints pruned count, not paths


def test_streaming_matches_batch_and_is_incremental(spark, csv_dir, tmp_path):
    """SURVEY.md §5.3 + §5.5: identical results via read vs readStream,
    and a second availableNow run appends only newly arrived files."""
    src = _write_csvs(str(tmp_path / "src"), names=["20161007_210049.csv"])
    bucket_path = str(tmp_path / "bucket")
    ckpt = str(tmp_path / "ckpt")

    q = st.start_bucket_ingest(spark, src, bucket_path, ckpt)
    q.awaitTermination(120)
    stream1 = spark.read.parquet(bucket_path)
    assert stream1.count() == len(KEPT["20161007_210049.csv"]) * 19

    # new file arrives; re-trigger — old file must NOT be re-ingested
    _write_csvs(src, names=["20161008_234508.csv"])
    q2 = st.start_bucket_ingest(spark, src, bucket_path, ckpt)
    q2.awaitTermination(120)
    stream2 = spark.read.parquet(bucket_path).drop("_date")

    batch = bkt.to_long(
        gas_csv.ingest_wide(spark, src), "gas",
        value_cols=list(gas_csv.VALUE_COLS),
        field_labels=gas_csv.FIELD_LABELS,
    )
    key = ["_time", "_measurement", "_field", "_value"]
    assert stream2.count() == batch.count()
    assert stream2.select(key).exceptAll(batch.select(key)).count() == 0
    assert batch.select(key).exceptAll(stream2.select(key)).count() == 0


def test_windowed_mean_stream_plan(spark, csv_dir, tmp_path):
    """The watermarked agg compiles to an append-mode streaming plan and
    drains under availableNow with correct per-field means."""
    src = _write_csvs(str(tmp_path / "src2"), names=["20161008_234508.csv"])
    out = str(tmp_path / "agg_out")
    long_stream = bkt.to_long(
        gas_csv.with_event_time(st.stream_wide_csv(spark, src)),
        "gas",
        value_cols=list(gas_csv.VALUE_COLS),
        field_labels=gas_csv.FIELD_LABELS,
    )
    agg = st.windowed_mean_stream(long_stream, "5 minutes", "0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("agg_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM agg_test").collect()
    got = {
        (r["window_start"], r["_field"]): (r["avg_value"], r["n"]) for r in res
    }
    # CO (ppm) is col j=1 → value t+1; times 0,300,600 → three 5m buckets
    assert got[(dt.datetime(2016, 10, 8, 0, 0), "CO (ppm)")] == (1.0, 1)
    assert got[(dt.datetime(2016, 10, 8, 0, 5), "CO (ppm)")] == (301.0, 1)
    # The 00:10 window holds the max event time (600 s): the watermark
    # (= max seen - delay) never passes its END, so append mode keeps it
    # open — correct finality semantics, pinned here on purpose.
    assert (dt.datetime(2016, 10, 8, 0, 10), "CO (ppm)") not in got


def test_stateful_running_stats_across_restarts(spark, tmp_path):
    """applyInPandasWithState: per-key totals accumulate across separate
    availableNow runs because state lives in the checkpoint (ST5)."""
    import json

    from time_series_data_pipeline_spark.streaming.stateful import running_stats

    src = tmp_path / "json_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_state")

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def drain(qname):
        # memory sink can't recover from a checkpoint; foreachBatch can —
        # each run lands its emissions in its own parquet dir
        out = str(tmp_path / f"out_{qname}")
        stream = spark.readStream.schema("k string, v double").json(str(src))
        q = (
            running_stats(stream, "k", "v")
            .writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["key"]: (r["n"], r["total"], r["vmin"], r["vmax"])
            for r in spark.read.parquet(out).collect()
        }

    write_batch("b1.json", [{"k": "a", "v": 1.0}, {"k": "a", "v": 3.0}, {"k": "b", "v": 5.0}])
    got1 = drain("state_run1")
    assert got1["a"] == (2, 4.0, 1.0, 3.0)
    assert got1["b"] == (1, 5.0, 5.0, 5.0)

    # restart with a NEW query reading the same checkpoint: prior state
    # must be restored, new file folded on top
    write_batch("b2.json", [{"k": "a", "v": -2.0}])
    got2 = drain("state_run2")
    assert got2["a"] == (3, 2.0, -2.0, 3.0)
    assert "b" not in got2  # update mode: only keys touched this batch re-emit


def test_overwrite_by_partition_idempotent(spark, csv_dir, tmp_path):
    """ST6 batch path: dynamic partition overwrite replaces only the
    day partitions present in the incoming frame — re-running one day's
    backfill is idempotent and other days are untouched."""
    path = str(tmp_path / "bucket_ow")
    wide = gas_csv.ingest_wide(spark, csv_dir)
    long_df = bkt.to_long(
        wide, "gas",
        value_cols=list(gas_csv.VALUE_COLS),
        field_labels=gas_csv.FIELD_LABELS,
    )
    bkt.write_bucket(long_df, path)
    before = bkt.read_bucket(spark, path).count()

    # re-ingest ONLY day 2 in overwrite mode, twice
    day2 = long_df.filter(F.to_date("_time") == "2016-10-08")
    bkt.write_bucket(day2, path, mode="overwrite")
    bkt.write_bucket(day2, path, mode="overwrite")
    after = bkt.read_bucket(spark, path)
    assert after.count() == before  # no duplicates, nothing lost
    assert (
        after.filter(F.to_date("_time") == "2016-10-07").count()
        == len(KEPT["20161007_210049.csv"]) * 19
    )


def test_compact_bucket_preserves_content(spark, csv_dir, tmp_path):
    """Compaction rewrites a day partition into one file with identical
    content; other partitions untouched (small-file management)."""
    path = str(tmp_path / "bucket_c")
    long_df = bkt.to_long(
        gas_csv.ingest_wide(spark, csv_dir), "gas",
        value_cols=list(gas_csv.VALUE_COLS),
        field_labels=gas_csv.FIELD_LABELS,
    )
    # fragment day 1 into many files on purpose (bypass write_bucket's
    # per-partition coalescing repartition)
    (
        long_df.withColumn("_date", F.to_date("_time"))
        .repartition(8)
        .write.partitionBy("_measurement", "_date")
        .parquet(path)
    )
    day_dir = os.path.join(path, "_measurement=gas", "_date=2016-10-07")
    before_rows = {
        tuple(r) for r in bkt.read_bucket(spark, path).drop("tags").collect()
    }
    assert len([f for f in os.listdir(day_dir) if f.endswith(".parquet")]) > 1

    bkt.compact_bucket(spark, path, "gas", "2016-10-07", files_per_partition=1)

    assert len([f for f in os.listdir(day_dir) if f.endswith(".parquet")]) == 1
    after_rows = {
        tuple(r) for r in bkt.read_bucket(spark, path).drop("tags").collect()
    }
    assert after_rows == before_rows


def test_watermark_drops_late_data(spark, tmp_path):
    """ST4: a row arriving behind the watermark is dropped — its
    already-closed window is never re-emitted; on-time rows in the same
    batch still close their windows."""
    src = tmp_path / "late_src"
    src.mkdir()
    ckpt = str(tmp_path / "late_ckpt")

    def write_file(name, times):
        rows = [HEADER] + [",".join(str(t + j) for j in range(20)) for t in times]
        (src / name).write_text("\n".join(rows) + "\n")

    def drain(tag):
        out = str(tmp_path / f"late_out_{tag}")
        long_stream = bkt.to_long(
            gas_csv.with_event_time(st.stream_wide_csv(spark, str(src))),
            "gas",
            value_cols=list(gas_csv.VALUE_COLS),
            field_labels=gas_csv.FIELD_LABELS,
        )
        agg = st.windowed_mean_stream(long_stream, "5 minutes", "0 seconds")
        q = (
            agg.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            int(r["window_start"].timestamp()) % 86400: (r["avg_value"], r["n"])
            for r in spark.read.parquet(out)
            .filter(F.col("_field") == "CO (ppm)")
            .collect()
        }

    # batch 1: events at t=0,300,600,1200 -> watermark 1200; windows
    # [0,300) [300,600) [600,900) close, [1200,1500) stays open
    write_file("20161008_000000.csv", [0.0, 300.0, 600.0, 1200.0])
    got1 = drain("r1")
    assert got1 == {0: (1.0, 1), 300: (301.0, 1), 600: (601.0, 1)}

    # batch 2: t=100 is LATE (behind watermark 1200, its window closed)
    # -> dropped; t=1800 advances the watermark so [1200,1500) closes
    write_file("20161008_000001.csv", [100.0, 1800.0])
    got2 = drain("r2")
    assert got2 == {1200: (1201.0, 1)}  # no re-emit of window 0, no 101


def test_streaming_session_windows(spark, tmp_path):
    """ST3 session windows on a STREAM: F.session_window + watermark in
    append mode — sessions close once the watermark passes start+gap."""
    import json

    src = tmp_path / "sess_src"
    src.mkdir()
    out = str(tmp_path / "sess_out")

    # user a: events at 0s,60s (one session), then 1000s (second session);
    # user b: 30s. A final 5000s event advances the watermark so all close.
    rows = [
        {"u": "a", "sec": 0}, {"u": "a", "sec": 60}, {"u": "a", "sec": 1000},
        {"u": "b", "sec": 30}, {"u": "w", "sec": 5000},
    ]
    with open(src / "events.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("u string, sec long")
        .json(str(src))
        .withColumn("ts", F.timestamp_seconds("sec"))
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "u")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("u", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    q = (
        agg.writeStream.foreachBatch(
            lambda df, eid: df.write.mode("append").parquet(out)
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["u"], int(r["s"].timestamp()), int(r["e"].timestamp()), r["n"])
        for r in spark.read.parquet(out).collect()
    }
    assert ("a", 0, 360, 2) in got       # [0, 60+300)
    assert ("a", 1000, 1300, 1) in got
    assert ("b", 30, 330, 1) in got


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """ST2 row-level dedup on a stream: dropDuplicatesWithinWatermark
    drops re-deliveries of the same key across micro-batches while the
    key is inside the watermark window — with BOUNDED state (the
    unwatermarked variant would keep every key forever)."""
    import json

    src = tmp_path / "dd_src"
    src.mkdir()
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")

    def drain(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = (
            spark.readStream.schema("event_id long, sec long")
            .json(str(src))
            .withColumn("ts", F.timestamp_seconds("sec"))
        )
        dedup = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            dedup.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r["event_id"] for r in spark.read.parquet(out).collect())

    assert drain("b1.json", [
        {"event_id": 1, "sec": 10000},
        {"event_id": 2, "sec": 10060},
        {"event_id": 2, "sec": 10061},  # intra-batch duplicate
        {"event_id": 3, "sec": 10120},
    ]) == [1, 2, 3]

    # batch 2: id 2 re-delivered (still within the 10 min watermark
    # window) -> dropped; id 4 is new -> kept
    assert drain("b2.json", [
        {"event_id": 2, "sec": 10180},
        {"event_id": 4, "sec": 10240},
    ]) == [1, 2, 3, 4]


def test_upsert_sink_merges_restarts_and_replays(spark, tmp_path):
    """Keyed MERGE/upsert foreachBatch sink (streaming/upsert.py):
    latest-wins per key across micro-batches; a checkpoint restart
    continues without loss; a REPLAYED epoch (the crash-between-write-
    and-commit case foreachBatch redelivers) applies exactly once."""
    import json as _json

    from time_series_data_pipeline_spark.streaming.upsert import UpsertParquetSink

    src = str(tmp_path / "upsrc")
    os.makedirs(src)
    table_path = str(tmp_path / "uptable")
    ckpt = str(tmp_path / "upckpt")
    sink = UpsertParquetSink(table_path, keys=["sensor"], order_col="ts")

    def write_file(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def run_stream():
        stream = (
            spark.readStream.schema("sensor string, ts long, value double")
            .json(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two sensors, an in-batch duplicate key (ts=2 must win)
    write_file("b1.json", [
        {"sensor": "a", "ts": 1, "value": 10.0},
        {"sensor": "a", "ts": 2, "value": 11.0},
        {"sensor": "b", "ts": 1, "value": 20.0},
    ])
    run_stream()
    state = {r["sensor"]: (r["ts"], r["value"]) for r in sink.read(spark).collect()}
    assert state == {"a": (2, 11.0), "b": (1, 20.0)}

    # "restart": a NEW query on the same checkpoint sees only new files;
    # sensor a is UPDATED, c INSERTED, b untouched
    write_file("b2.json", [
        {"sensor": "a", "ts": 5, "value": 12.5},
        {"sensor": "c", "ts": 3, "value": 30.0},
    ])
    run_stream()
    state = {r["sensor"]: (r["ts"], r["value"]) for r in sink.read(spark).collect()}
    assert state == {"a": (5, 12.5), "b": (1, 20.0), "c": (3, 30.0)}
    assert sink.read(spark).count() == 3  # no duplicate keys ever

    # replay: redeliver an ALREADY-COMMITTED epoch id with hostile data —
    # exactly-once means it must be a no-op
    replay = spark.createDataFrame(
        [("a", 99, 999.0)], "sensor string, ts long, value double"
    )
    committed = sorted(int(n) for n in os.listdir(os.path.join(table_path, "_commits")))
    sink(replay, committed[-1])
    state = {r["sensor"]: (r["ts"], r["value"]) for r in sink.read(spark).collect()}
    assert state["a"] == (5, 12.5), "replayed epoch was double-applied"

    # ...while a genuinely NEW epoch applies normally
    sink(replay, committed[-1] + 1000)
    state = {r["sensor"]: (r["ts"], r["value"]) for r in sink.read(spark).collect()}
    assert state["a"] == (99, 999.0)


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """Partitioned MERGE sink (streaming/upsert.PartitionedUpsertSink):
    merge semantics match the full-snapshot sink, but a batch touching
    one partition must leave every other partition's data POINTER
    unchanged in the manifest (the rewrite-only-touched property that
    makes keyed state maintainable at 100 TB), and replayed epochs are
    no-ops."""
    import json as _json

    from time_series_data_pipeline_spark.streaming.upsert import (
        PartitionedUpsertSink,
    )

    table_path = str(tmp_path / "ptable")
    sink = PartitionedUpsertSink(
        table_path, keys=["sensor"], order_col="ts", partition_col="site"
    )

    def batch(rows, epoch):
        df = spark.createDataFrame(
            rows, "site string, sensor string, ts long, value double"
        )
        sink(df, epoch)

    batch(
        [
            ("s1", "a", 1, 10.0),
            ("s1", "a", 2, 11.0),  # in-batch dup: ts=2 wins
            ("s2", "b", 1, 20.0),
        ],
        epoch=0,
    )
    state = {r["sensor"]: (r["site"], r["ts"], r["value"]) for r in sink.read(spark).collect()}
    assert state == {"a": ("s1", 2, 11.0), "b": ("s2", 1, 20.0)}

    def manifest():
        commits_dir = os.path.join(table_path, "_commits")
        latest = max(int(n) for n in os.listdir(commits_dir) if n.isdigit())
        with open(os.path.join(commits_dir, str(latest))) as f:
            mf = f.read().strip()
        with open(os.path.join(table_path, mf)) as f:
            return _json.load(f)

    m0 = manifest()
    assert set(m0) == {"site=s1", "site=s2"}

    # epoch 1 touches ONLY s1: update a, insert c
    batch([("s1", "a", 5, 12.5), ("s1", "c", 3, 30.0)], epoch=1)
    state = {r["sensor"]: (r["site"], r["ts"], r["value"]) for r in sink.read(spark).collect()}
    assert state == {
        "a": ("s1", 5, 12.5),
        "b": ("s2", 1, 20.0),
        "c": ("s1", 3, 30.0),
    }
    m1 = manifest()
    assert m1["site=s2"] == m0["site=s2"], "untouched partition was rewritten"
    assert m1["site=s1"] != m0["site=s1"]

    # replayed epoch with hostile data: exactly-once no-op
    batch([("s2", "b", 99, 999.0)], epoch=1)
    state = {r["sensor"]: (r["site"], r["ts"], r["value"]) for r in sink.read(spark).collect()}
    assert state["b"] == ("s2", 1, 20.0), "replayed epoch was double-applied"

    # a sensor MOVING partitions upserts by key within its new partition
    # (keys are global only per partition-col design: sensor 'b' in a new
    # site is a new row there; the old site's row is replaced only if the
    # batch touches that site too)
    batch([("s2", "b", 7, 21.0)], epoch=2)
    state = {r["sensor"]: (r["site"], r["ts"], r["value"]) for r in sink.read(spark).collect()}
    assert state["b"] == ("s2", 7, 21.0)
    assert sink.read(spark).count() == 3


def test_stream_dedup_within_watermark_across_restarts(spark, tmp_path):
    """dedup_stream: per-record exactly-once on top of the file source's
    per-file log — a key redelivered in a LATER file (and a later run,
    through the checkpoint) is dropped while inside the watermark."""
    import json

    from time_series_data_pipeline_spark.streaming.ingest import dedup_stream

    src = tmp_path / "dedup_src"
    src.mkdir()
    ckpt = str(tmp_path / "dedup_ckpt")
    out = str(tmp_path / "dedup_out")

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for k, t in rows:
                f.write(json.dumps({"k": k, "_time": t}) + "\n")

    def drain(qname):
        stream = spark.readStream.schema("k string, _time timestamp").json(str(src))
        q = (
            dedup_stream(stream, ["k"], "_time", "1 day")
            .writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [tuple(r) for r in spark.read.parquet(out).collect()]

    t = "2024-01-01 10:00:00"
    write_file("f1.json", [("a", t), ("a", t), ("b", t)])  # in-batch dupe
    got1 = drain("run1")
    assert sorted(k for k, _ in got1) == ["a", "b"]

    # same keys redelivered in a new file + a NEW run over the same
    # checkpoint: state must recall them; one genuinely new key passes
    write_file("f2.json", [("a", "2024-01-01 11:00:00"), ("c", t)])
    got2 = drain("run2")
    assert sorted(k for k, _ in got2) == ["a", "b", "c"]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join: clicks joined to same-user errors
    within the trailing 5 minutes, run as a live join over file
    streams, must equal the equivalent batch join."""
    import json

    from time_series_data_pipeline_spark.streaming.joins import (
        interval_join_streams,
    )

    lsrc = tmp_path / "ss_left"
    rsrc = tmp_path / "ss_right"
    lsrc.mkdir(); rsrc.mkdir()

    def write(d, name, rows):
        with open(d / name, "w") as f:
            for u, t, v in rows:
                f.write(json.dumps({"u": u, "t": t, "v": v}) + "\n")

    # errors (left): u1@10:10, u2@10:10; clicks (right): u1@10:07 (in
    # window), u1@10:02 (too old), u2@10:12 (after -> no match)
    write(lsrc, "e.json", [("u1", "2024-01-01 10:10:00", 1.0),
                           ("u2", "2024-01-01 10:10:00", 2.0)])
    write(rsrc, "c.json", [("u1", "2024-01-01 10:07:00", 10.0),
                           ("u1", "2024-01-01 10:02:00", 20.0),
                           ("u2", "2024-01-01 10:12:00", 30.0)])

    schema = "u string, t timestamp, v double"
    ls = (
        spark.readStream.schema(schema).json(str(lsrc))
        .withColumnRenamed("t", "l_ts").withColumnRenamed("v", "l_v")
    )
    rs = (
        spark.readStream.schema(schema).json(str(rsrc))
        .withColumnRenamed("t", "r_ts").withColumnRenamed("v", "r_v")
    )
    out = str(tmp_path / "ss_out")
    q = (
        interval_join_streams(ls, rs, on="u", window="5 minutes",
                              watermark="10 minutes")
        .writeStream.foreachBatch(
            lambda df, eid: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.u, r.l_v, r.r_v) for r in spark.read.parquet(out).collect()}
    assert got == {("u1", 1.0, 10.0)}

    # batch equivalence on the same frames
    lb = spark.read.schema(schema).json(str(lsrc)).withColumnRenamed(
        "t", "l_ts").withColumnRenamed("v", "l_v")
    rb = spark.read.schema(schema).json(str(rsrc)).withColumnRenamed(
        "t", "r_ts").withColumnRenamed("v", "r_v")
    batch = lb.join(
        rb,
        (lb.u == rb.u)
        & (rb.r_ts >= lb.l_ts - F.expr("INTERVAL 5 minutes"))
        & (rb.r_ts <= lb.l_ts),
    )
    assert {(r.l_v, r.r_v) for r in batch.collect()} == {(1.0, 10.0)}


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-ordered parquet makes row-group stats selective on BOTH
    (user_id, ts): 2-D box predicates at two positions touch ~2.6x
    fewer row groups than the ts-sorted layout (measured from real
    parquet footers at sf0.1, ~300 row groups). The effect needs
    enough groups that a group's z-span is finer than the query box —
    at toy scales the curve's constant-factor box overhead hides it.
    """
    import glob

    import pyarrow.parquet as pq

    from time_series_data_pipeline_spark.catalog import table as cat_table
    from time_series_data_pipeline_spark.sources.layout import zorder_layout

    ev = cat_table(spark, "/root/testdata/sf0.1", "events").select(
        "event_id", "user_id", "ts"
    )
    naive_dir = str(tmp_path / "naive")
    z_dir = str(tmp_path / "zord")
    small = {"parquet.block.size": 8192}
    # Spark's default INT96 timestamps carry NO row-group stats — write
    # INT64 micros so the ts column is prunable at all (both layouts)
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        (
            ev.repartitionByRange(8, "ts").sortWithinPartitions("ts")
            .write.options(**small).parquet(naive_dir)
        )
        # zorder_layout returns exactly the input schema (no __z leak)
        zdf = zorder_layout(ev, "user_id", "ts", bits=12, n_files=8)
        assert zdf.columns == ev.columns
        zdf.write.options(**small).parquet(z_dir)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    b = ev.agg(
        F.min("user_id").alias("ul"), F.max("user_id").alias("uh"),
        F.min("ts").alias("tl"), F.max("ts").alias("th"),
    ).collect()[0]

    def overlap(d, lo_u, hi_u, lo_t, hi_t):
        total = hit = 0
        for f in glob.glob(f"{d}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                su = g.column(names["user_id"]).statistics
                st = g.column(names["ts"]).statistics
                total += 1
                if (
                    su.min <= hi_u and su.max >= lo_u
                    and st.min.replace(tzinfo=None) <= hi_t
                    and st.max.replace(tzinfo=None) >= lo_t
                ):
                    hit += 1
        return hit, total

    assert spark.read.parquet(z_dir).count() == ev.count()
    for pos in (0.25, 0.6):
        lo_u = b.ul + int((b.uh - b.ul) * pos)
        hi_u = lo_u + max(1, (b.uh - b.ul) // 10)
        lo_t = b.tl + (b.th - b.tl) * pos
        hi_t = lo_t + (b.th - b.tl) / 10
        hit_n, tot_n = overlap(naive_dir, lo_u, hi_u, lo_t, hi_t)
        hit_z, tot_z = overlap(z_dir, lo_u, hi_u, lo_t, hi_t)
        assert tot_n > 200 and tot_z > 200  # enough groups to measure
        assert hit_z / tot_z < 0.6 * hit_n / tot_n, (pos, hit_z, tot_z, hit_n, tot_n)


def test_zvalue_is_morton_order(spark):
    """Golden: zvalue() reproduces the textbook Morton interleave."""
    from time_series_data_pipeline_spark.sources.layout import zvalue

    df = spark.range(16).select(
        (F.col("id") % 4).alias("x"), (F.col("id") / 4).cast("long").alias("y")
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zvalue(F.col("x"), F.col("y"), bits=2).alias("z")
        ).collect()
    }

    def morton(x, y):
        z = 0
        for b in range(2):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    assert all(got[(x, y)] == morton(x, y) for x in range(4) for y in range(4))


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment: live events joined to a
    static dimension must equal the batch join, carry dimension
    attributes, and keep unmatched rows (left join)."""
    import json

    from time_series_data_pipeline_spark.streaming.joins import enrich_stream

    src = tmp_path / "en_src"
    src.mkdir()
    rows = [("click", "2024-01-01 10:00:00", 1.0),
            ("error", "2024-01-01 10:01:00", 2.0),
            ("mystery", "2024-01-01 10:02:00", 3.0)]
    with open(src / "ev.json", "w") as f:
        for ty, t, v in rows:
            f.write(json.dumps({"event_type": ty, "t": t, "v": v}) + "\n")

    dim = spark.createDataFrame(
        [("click", "interaction"), ("error", "fault"), ("view", "passive")],
        ["event_type", "category"],
    )
    schema = "event_type string, t timestamp, v double"
    stream = spark.readStream.schema(schema).json(str(src))
    out = str(tmp_path / "en_out")
    q = (
        enrich_stream(stream, dim, on="event_type")
        .writeStream.foreachBatch(
            lambda df, eid: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "en_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.event_type, r.category) for r in spark.read.parquet(out).collect()}
    assert got == {("click", "interaction"), ("error", "fault"),
                   ("mystery", None)}

    batch = spark.read.schema(schema).json(str(src)).join(
        dim, "event_type", "left"
    )
    assert {(r.event_type, r.category) for r in batch.collect()} == got


def test_streaming_curation_matches_batch(spark, tmp_path):
    """Streaming quality gate + content-hash dedup must land exactly the
    documents the batch form keeps: quality-gated, one copy per distinct
    text, across micro-batches and re-deliveries."""
    import json

    from time_series_data_pipeline_spark.operators import text as tx
    from time_series_data_pipeline_spark.streaming.ingest import (
        curate_doc_stream,
    )

    src = tmp_path / "cur_src"
    src.mkdir()
    out = str(tmp_path / "cur_out")
    ckpt = str(tmp_path / "cur_ckpt")

    good = ("spark window join hash value table part batch sort merge "
            "scan fast slow key agg line row " * 3).strip()
    junk = "x"
    docs_w1 = [
        {"doc_id": 1, "text": good, "sec": 100},
        {"doc_id": 2, "text": junk, "sec": 110},
        {"doc_id": 3, "text": good + " extra tail tokens here", "sec": 120},
    ]
    docs_w2 = [
        {"doc_id": 4, "text": good, "sec": 130},  # exact re-delivery of 1
        {"doc_id": 5, "text": junk + " y", "sec": 140},  # still junk
    ]

    def drain(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = (
            spark.readStream.schema("doc_id long, text string, sec long")
            .json(str(src))
            .withColumn("ingest_ts", F.timestamp_seconds("sec"))
        )
        cur = curate_doc_stream(stream, min_quality=0.55)
        q = (
            cur.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain("w1.json", docs_w1)
    drain("w2.json", docs_w2)

    got = spark.read.parquet(out)
    all_rows = docs_w1 + docs_w2
    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in all_rows], "doc_id long, text string"
    )
    expect_texts = {
        r["text"]
        for r in tx.quality_score(batch_df)
        .filter(F.coalesce(F.col("quality"), F.lit(0.0)) >= 0.55)
        .select("text")
        .distinct()
        .collect()
    }
    got_rows = got.collect()
    assert {r["text"] for r in got_rows} == expect_texts
    # one landed copy per distinct surviving text, quality attached
    assert len(got_rows) == len(expect_texts) == 2
    assert all(r["quality"] >= 0.55 for r in got_rows)


def test_upsert_time_travel(spark, tmp_path):
    """Every committed epoch's snapshot is retained, so the sink gives
    Delta/Iceberg-style VERSION AS OF reads: the table as of epoch N
    shows exactly the merges committed by then, and historical reads
    survive later writes untouched."""
    import json as _json

    from time_series_data_pipeline_spark.streaming.upsert import UpsertParquetSink

    src = str(tmp_path / "ttsrc")
    os.makedirs(src)
    sink = UpsertParquetSink(
        str(tmp_path / "tttable"), keys=["sensor"], order_col="ts"
    )
    ckpt = str(tmp_path / "ttckpt")

    def wave(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        q = (
            spark.readStream.schema("sensor string, ts long, value double")
            .json(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    wave("w1.json", [{"sensor": "a", "ts": 1, "value": 1.0},
                     {"sensor": "b", "ts": 1, "value": 2.0}])
    wave("w2.json", [{"sensor": "a", "ts": 2, "value": 9.0},
                     {"sensor": "c", "ts": 2, "value": 3.0}])

    epochs = sink.epochs()
    assert len(epochs) >= 2
    first, last = epochs[0], epochs[-1]
    v0 = {r["sensor"]: r["value"] for r in sink.read_at(spark, first).collect()}
    assert v0 == {"a": 1.0, "b": 2.0}
    v1 = {r["sensor"]: r["value"] for r in sink.read_at(spark, last).collect()}
    assert v1 == {"a": 9.0, "b": 2.0, "c": 3.0}
    # current read equals the newest version; too-early epoch raises
    assert {r["sensor"]: r["value"] for r in sink.read(spark).collect()} == v1
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        sink.read_at(spark, first - 1)


def test_upsert_vacuum_bounds_retention(spark, tmp_path):
    """vacuum(keep_last=N) drops older snapshots AND markers; current
    reads are untouched, vacuumed epochs become unreadable, and the
    newest N survive for time travel."""
    import json as _json

    from time_series_data_pipeline_spark.streaming.upsert import UpsertParquetSink

    src = str(tmp_path / "vsrc")
    os.makedirs(src)
    sink = UpsertParquetSink(
        str(tmp_path / "vtable"), keys=["sensor"], order_col="ts"
    )
    ckpt = str(tmp_path / "vckpt")

    def wave(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        q = (
            spark.readStream.schema("sensor string, ts long, value double")
            .json(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i in range(3):
        wave(f"w{i}.json", [{"sensor": "a", "ts": i, "value": float(i)}])
    epochs = sink.epochs()
    assert len(epochs) == 3
    gone = sink.vacuum(keep_last=2)
    assert gone == epochs[:1]
    assert sink.epochs() == epochs[1:]
    # current read still works and shows the newest value
    assert sink.read(spark).collect()[0]["value"] == 2.0
    # vacuumed epoch unreadable; surviving older epoch readable
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        sink.read_at(spark, epochs[0])
    assert sink.read_at(spark, epochs[1]).collect()[0]["value"] == 1.0
    # vacuumed snapshot dirs physically removed
    snaps = [d for d in os.listdir(sink.path) if d.startswith("v-")]
    assert len(snaps) == 2


def test_partitioned_vacuum_keeps_referenced_epoch_dirs(spark, tmp_path):
    """Partitioned vacuum must NOT delete an old epoch dir that the
    surviving manifest still references (an untouched partition keeps
    pointing into the epoch that last wrote it)."""
    import json as _json

    from time_series_data_pipeline_spark.streaming.upsert import (
        PartitionedUpsertSink,
    )

    src = str(tmp_path / "pvsrc")
    os.makedirs(src)
    sink = PartitionedUpsertSink(
        str(tmp_path / "pvtable"), keys=["sensor", "day"],
        order_col="ts", partition_col="day",
    )
    ckpt = str(tmp_path / "pvckpt")

    def wave(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        q = (
            spark.readStream.schema(
                "sensor string, day string, ts long, value double"
            )
            .json(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # epoch0 writes day=a; epochs 1-2 touch only day=b — day=a's data
    # stays in epoch0's dir, which the final manifest still references
    wave("w0.json", [{"sensor": "s", "day": "a", "ts": 1, "value": 1.0}])
    wave("w1.json", [{"sensor": "s", "day": "b", "ts": 2, "value": 2.0}])
    wave("w2.json", [{"sensor": "s", "day": "b", "ts": 3, "value": 9.0}])
    epochs = sink.epochs()
    assert len(epochs) == 3

    gone = sink.vacuum(keep_last=1)
    assert gone == epochs[:2]
    got = {(r["day"]): r["value"] for r in sink.read(spark).collect()}
    assert got == {"a": 1.0, "b": 9.0}
    # epoch0's dir survived (still referenced); epoch1's b-dir is gone
    dirs = {d for d in os.listdir(sink.path) if d.startswith("v-")}
    assert any(d.startswith("v-0-") for d in dirs)
    assert not any(d.startswith("v-1-") for d in dirs)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        sink.read_at(spark, epochs[0])


def test_partitioned_vacuum_spares_inflight_epoch_dirs(spark, tmp_path):
    """Concurrent-writer safety (ADVICE r5): vacuum's delete set is
    victim-referenced MINUS kept-referenced — a v-* dir written by an
    epoch that is mid-write (or committed after vacuum snapshotted the
    commit log) is referenced by NO victim manifest and therefore
    ineligible, even though it is also absent from the kept manifests.
    The old listdir sweep rmtree'd exactly such dirs."""
    import json as _json

    from time_series_data_pipeline_spark.streaming.upsert import (
        PartitionedUpsertSink,
    )

    src = str(tmp_path / "ifsrc")
    os.makedirs(src)
    sink = PartitionedUpsertSink(
        str(tmp_path / "iftable"), keys=["sensor", "day"],
        order_col="ts", partition_col="day",
    )
    ckpt = str(tmp_path / "ifckpt")

    def wave(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        q = (
            spark.readStream.schema(
                "sensor string, day string, ts long, value double"
            )
            .json(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    wave("w0.json", [{"sensor": "s", "day": "a", "ts": 1, "value": 1.0}])
    wave("w1.json", [{"sensor": "s", "day": "a", "ts": 2, "value": 2.0}])

    # simulate an in-flight epoch: data dir fully written, marker not
    # yet created (the window between merged.write and os.rename)
    inflight = os.path.join(sink.path, "v-99-cafef00d")
    os.makedirs(os.path.join(inflight, "day=c"))
    with open(os.path.join(inflight, "day=c", "part-0.parquet"), "wb") as f:
        f.write(b"\x00")

    gone = sink.vacuum(keep_last=1)
    assert gone == [0]
    # the in-flight dir survived the vacuum; the victim epoch's did not
    dirs = {d for d in os.listdir(sink.path) if d.startswith("v-")}
    assert "v-99-cafef00d" in dirs
    assert not any(d.startswith("v-0-") for d in dirs)
    # table still reads
    assert [r["value"] for r in sink.read(spark).collect()] == [2.0]


def test_partitioned_empty_first_epoch_reads_descriptively(spark, tmp_path):
    """A committed EMPTY first epoch (manifest = {}) must raise a
    descriptive error from read()/read_at(), not a bare IndexError
    (ADVICE r5)."""
    import pytest as _pytest

    from time_series_data_pipeline_spark.streaming.upsert import (
        PartitionedUpsertSink,
    )

    sink = PartitionedUpsertSink(
        str(tmp_path / "emptytable"), keys=["sensor", "day"],
        order_col="ts", partition_col="day",
    )
    empty = spark.createDataFrame(
        [], "sensor string, day string, ts long, value double"
    )
    sink(empty, 0)
    assert sink.epochs() == [0]
    with _pytest.raises(FileNotFoundError, match="references no partitions"):
        sink.read(spark)
    with _pytest.raises(FileNotFoundError, match="references no partitions"):
        sink.read_at(spark, 0)


def test_drained_stream_state_partitions_and_conf_restore(spark):
    """Round 15: the drained live-panel queries size their state store
    to the panel's key space (_stream_state_partitions), not the box's
    shuffle parallelism — and must RESTORE the session conf afterwards
    (set/drain/restore under the lock), even though the drain runs a
    full streaming query inside the registered function."""
    from .conftest import SF_SMOKE as _SF

    from time_series_data_pipeline_spark.queries import QUERIES
    from time_series_data_pipeline_spark.queries.timeseries_q import (
        _stream_state_partitions,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = QUERIES["stream_moving_avg_drained"](spark, _SF)
    rows = out.collect()
    assert rows, "drain emitted nothing"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # the drained frame is partitioned by the sized state-store count,
    # never the session default
    assert _stream_state_partitions() >= 1


def test_touched_dates_fall_back_when_any_file_lacks_a_date_dir(
    spark, csv_dir, tmp_path
):
    """Rollup maintenance takes a micro-batch's touched days from its
    input file paths. When only SOME files sit under ``_date=``
    directories, the paths name only some of the batch's days, so the
    derivation must fall back to scanning ``_date`` — refreshing the
    path-named days alone would silently skip the rest."""
    path = str(tmp_path / "bucket")
    wide = gas_csv.ingest_wide(spark, csv_dir)
    bkt.write_bucket(
        bkt.to_long(
            wide, "gas",
            value_cols=list(gas_csv.VALUE_COLS),
            field_labels=gas_csv.FIELD_LABELS,
        ),
        path,
    )
    bucket = bkt.read_bucket(spark, path)
    bucket_days = ["2016-10-07", "2016-10-08", "2016-10-10"]
    assert st._touched_dates(bucket) == bucket_days  # paths alone

    # one more day in a parquet file outside any _date= directory
    loose = str(tmp_path / "loose")
    bucket.limit(1).withColumn(
        "_date", F.lit("2016-10-12").cast(bucket.schema["_date"].dataType)
    ).write.parquet(loose)
    mixed = bucket.unionByName(spark.read.parquet(loose).select(*bucket.columns))
    assert st._touched_dates(mixed) == bucket_days + ["2016-10-12"]
