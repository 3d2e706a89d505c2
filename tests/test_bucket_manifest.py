"""File-level data skipping wired into the bucket path (VERDICT r5
item 4): the stats manifest must shrink the FILE LIST of a narrow
_field/_time query on a field-clustered bucket — the engine-side analog
of the reference's TSM index (README.md:173-178) — while scan_bucket
stays row-identical to the plain partition-pruned scan and degrades
gracefully (no manifest → plain scan; stale manifest → extra IO, never
missing rows)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from time_series_data_pipeline_spark.catalog import table
from time_series_data_pipeline_spark.sources import bucket as bkt
from time_series_data_pipeline_spark.sources import manifest as mf

from .conftest import SF_SMOKE


def _events_long(spark):
    ev = table(spark, SF_SMOKE, "events")
    return ev.select(
        F.col("ts").alias("_time"),
        F.lit("events").alias("_measurement"),
        F.col("event_type").alias("_field"),
        F.col("value").alias("_value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )


def _build_store(spark, tmp_path, cluster="field"):
    path = str(tmp_path / f"bucket_{cluster}")
    bkt.write_bucket(_events_long(spark), path, mode="overwrite", cluster=cluster)
    bkt.refresh_bucket_manifest(spark, path)
    return path


def test_field_clustered_bucket_prunes_files(spark, tmp_path):
    path = _build_store(spark, tmp_path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    all_files = mf._list_data_files(path)
    n_fields = _events_long(spark).select("_field").distinct().count()
    assert n_fields >= 3
    # field-clustered layout: more files than days (≈ days × fields)
    n_days = len(
        {p for f in all_files for p in f.split(os.sep) if p.startswith("_date=")}
    )
    assert len(all_files) > n_days

    kept = mf.prune_files(
        spark, path, man, constraints={"_field": ("click", "click")}
    )
    # the win the layout exists for: a single-field query reads a
    # strict minority of the store's files
    assert len(kept) < len(all_files) / 2, (len(kept), len(all_files))

    # _time stats exist (INT64 micros, not INT96) and prune too
    t = mf.read_manifest(spark, man).filter(
        (F.col("column") == "_time") & F.col("min_value").isNotNull()
    )
    assert t.count() == len(all_files)


def test_scan_bucket_matches_plain_scan(spark, tmp_path):
    path = _build_store(spark, tmp_path)
    lo, hi = "2024-01-03 00:00:00", "2024-01-06 00:00:00"
    pruned = bkt.scan_bucket(
        spark, path, measurement="events", field="click", start=lo, stop=hi
    )
    plain = bkt.scan(
        bkt.read_bucket(spark, path),
        measurement="events",
        field="click",
        start=lo,
        stop=hi,
    )
    a = sorted(pruned.select("_time", "_value").collect())
    b = sorted(plain.select("_time", "_value").collect())
    assert a == b and len(a) > 0


def test_scan_bucket_without_manifest_falls_back(spark, tmp_path):
    path = str(tmp_path / "noman")
    bkt.write_bucket(_events_long(spark), path, mode="overwrite")
    out = bkt.scan_bucket(spark, path, measurement="events", field="click")
    assert out.count() == _events_long(spark).filter(
        F.col("_field") == "click"
    ).count()


def test_scan_bucket_stale_manifest_sees_new_partitions(spark, tmp_path):
    """Files appended AFTER the harvest are uncovered → force-scanned:
    staleness costs IO, never rows."""
    path = _build_store(spark, tmp_path)
    extra = _events_long(spark).limit(50).withColumn(
        "_time", F.col("_time") + F.expr("INTERVAL 365 DAYS")
    )
    bkt.write_bucket(extra, path, mode="append", cluster="field")
    got = bkt.scan_bucket(spark, path, measurement="events").count()
    want = bkt.read_bucket(spark, path).count()
    # no time/field constraint → everything kept; sanity only
    assert got == want
    # a field-constrained scan still finds rows in the NEW (uncovered)
    # files even though the manifest has never seen them
    new_clicks = bkt.scan_bucket(
        spark,
        path,
        measurement="events",
        field="click",
        start="2024-12-01 00:00:00",
    )
    want_new = (
        bkt.read_bucket(spark, path)
        .filter(
            (F.col("_field") == "click")
            & (F.col("_time") >= "2024-12-01 00:00:00")
        )
        .count()
    )
    assert new_clicks.count() == want_new


def test_compact_split_by_field_tightens_stats(spark, tmp_path):
    """Day-clustered store + split_by_field compaction of one partition
    → that partition's files become field-prunable."""
    path = str(tmp_path / "compacted")
    bkt.write_bucket(_events_long(spark), path, mode="overwrite")  # day files
    dates = sorted(
        r["_date"]
        for r in bkt.read_bucket(spark, path).select("_date").distinct().collect()
    )
    target = str(dates[0])
    bkt.compact_bucket(
        spark, path, "events", target, files_per_partition=8, split_by_field=True
    )
    bkt.refresh_bucket_manifest(spark, path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    kept = mf.prune_files(
        spark, path, man, constraints={"_field": ("click", "click")}
    )
    day_files = [f for f in kept if f"_date={target}" in f]
    all_day_files = [
        f for f in mf._list_data_files(path) if f"_date={target}" in f
    ]
    # the compacted day now skips at least one non-click file
    assert len(day_files) < len(all_day_files)
    # row identity on the compacted day
    got = (
        bkt.scan_bucket(spark, path, measurement="events", field="click")
        .filter(F.col("_date") == target)
        .count()
    )
    want = (
        _events_long(spark)
        .filter(
            (F.col("_field") == "click")
            & (F.to_date("_time") == target)
        )
        .count()
    )
    assert got == want


def test_incremental_manifest_refresh(spark, tmp_path):
    """refresh_bucket_manifest(incremental=True) harvests ONLY new
    files, drops rows for deleted ones, and the refreshed manifest
    prunes identically to a full rebuild."""
    path = _build_store(spark, tmp_path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    before = {r["file"] for r in mf.read_manifest(spark, man).select("file").distinct().collect()}

    # append a year-later wave (new files, uncovered)
    extra = _events_long(spark).limit(80).withColumn(
        "_time", F.col("_time") + F.expr("INTERVAL 365 DAYS")
    )
    bkt.write_bucket(extra, path, mode="append", cluster="field")
    new_data_files = set(
        os.path.relpath(f, path) for f in mf._list_data_files(path)
    )
    n_new = mf.refresh_stats_manifest(
        spark, path, man, ["_field", "_time"]
    )
    assert n_new == len(new_data_files - before)
    after = {r["file"] for r in mf.read_manifest(spark, man).select("file").distinct().collect()}
    assert after == new_data_files  # full coverage, old rows retained

    # incremental == full rebuild, row for row
    full = sorted(
        map(tuple, mf.build_stats_manifest(spark, path, ["_field", "_time"]).collect())
    )
    inc = sorted(map(tuple, mf.read_manifest(spark, man).collect()))
    assert inc == full

    # second tick with nothing new is a no-op harvest
    assert mf.refresh_stats_manifest(spark, path, man, ["_field", "_time"]) == 0

    # and the refreshed manifest still prunes: new-year clicks are found
    got = bkt.scan_bucket(
        spark, path, measurement="events", field="click",
        start="2024-12-01 00:00:00",
    ).count()
    want = (
        bkt.read_bucket(spark, path)
        .filter((F.col("_field") == "click") & (F.col("_time") >= "2024-12-01 00:00:00"))
        .count()
    )
    assert got == want


def test_streaming_maintenance_keeps_manifest_fresh(spark, tmp_path):
    """start_rollup_maintenance(maintain_manifest=True): each tick's new
    bucket files enter the stats manifest incrementally, so scan_bucket
    prunes freshly streamed data without a manual rebuild."""
    import datetime

    from time_series_data_pipeline_spark.streaming.ingest import (
        start_rollup_maintenance,
    )

    bucket_path = str(tmp_path / "mbkt")
    roll = str(tmp_path / "mroll")
    ckpt = str(tmp_path / "mckpt")

    def mk(day, base):
        t0 = datetime.datetime(2024, 2, day)
        return [
            ("gas", f"f{j}", t0 + datetime.timedelta(minutes=20 * i),
             float(base + i + j))
            for i in range(5) for j in range(2)
        ]

    def wave(rows):
        df = spark.createDataFrame(
            rows, ["_measurement", "_field", "_time", "_value"]
        ).withColumn("tags", F.lit(None).cast("map<string,string>"))
        bkt.write_bucket(df, bucket_path, cluster="field")
        q = start_rollup_maintenance(
            spark, bucket_path, roll, ckpt, maintain_manifest=True
        )
        q.awaitTermination(120)

    wave(mk(1, 10))
    wave(mk(2, 20))  # second tick: only day-2 files are new

    man = os.path.join(bucket_path, bkt.MANIFEST_SUBDIR)
    covered = {
        r["file"]
        for r in mf.read_manifest(spark, man).select("file").distinct().collect()
    }
    data = {os.path.relpath(f, bucket_path) for f in mf._list_data_files(bucket_path)}
    assert covered == data and len(data) > 0

    # pruned scan over the streamed store matches the plain scan
    got = sorted(
        bkt.scan_bucket(spark, bucket_path, field="f1")
        .select("_time", "_value")
        .collect()
    )
    want = sorted(
        bkt.scan(bkt.read_bucket(spark, bucket_path), field="f1")
        .select("_time", "_value")
        .collect()
    )
    assert got == want and len(got) == 10


def test_multiconstraint_prune_on_zordered_store(spark, tmp_path):
    """Multi-dimensional FILE skipping: a Z-ordered store + the stats
    manifest evaluated with two ANDed constraints — the file-level
    counterpart of the row-group test in test_ingestion (SCALE §9) and
    the composition the multi-constraint prune_files exists for."""
    from time_series_data_pipeline_spark.sources.layout import zorder_layout

    ev = table(spark, SF_SMOKE, "events").select("event_id", "user_id", "ts")
    store = str(tmp_path / "zstore")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        zorder_layout(ev, "user_id", "ts", bits=12, n_files=16).write.parquet(
            store
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    man = str(tmp_path / "zman")
    mf.write_manifest(
        mf.build_stats_manifest(spark, store, ["user_id", "ts"]), man
    )
    b = ev.agg(
        F.min("user_id").alias("ul"), F.max("user_id").alias("uh"),
        F.min("ts").alias("tl"), F.max("ts").alias("th"),
    ).collect()[0]
    lo_u = b.ul + (b.uh - b.ul) // 2
    hi_u = lo_u + max(1, (b.uh - b.ul) // 8)
    lo_t = b.tl + (b.th - b.tl) / 2
    hi_t = lo_t + (b.th - b.tl) / 8
    kept = mf.prune_files(
        spark, store, man,
        constraints={"user_id": (lo_u, hi_u), "ts": (lo_t, hi_t)},
    )
    total = len(mf._list_data_files(store))
    # the 2-D box touches a strict subset of the z-ordered files
    assert 0 < len(kept) < total, (len(kept), total)
    # row conservation: pruned read + row predicate == full scan + same
    got = (
        mf.scan_pruned(
            spark, store, man,
            constraints={"user_id": (lo_u, hi_u), "ts": (lo_t, hi_t)},
        )
        .filter(F.col("user_id").between(lo_u, hi_u) & F.col("ts").between(lo_t, hi_t))
        .count()
    )
    want = ev.filter(
        F.col("user_id").between(lo_u, hi_u) & F.col("ts").between(lo_t, hi_t)
    ).count()
    assert got == want and want > 0


def test_stale_manifest_survives_compaction_deletes(spark, tmp_path):
    """Staleness must be safe in BOTH directions: after compact_bucket
    rewrites a partition (deleting the files the manifest still lists),
    scan_bucket before the next refresh must return correct rows — the
    dead paths are dropped from the kept set and the rewritten files
    are scanned as uncovered (no PATH_NOT_FOUND)."""
    path = _build_store(spark, tmp_path)
    want = sorted(
        bkt.scan(bkt.read_bucket(spark, path), field="click")
        .select("_time", "_value")
        .collect()
    )
    dates = sorted(
        str(r["_date"])
        for r in bkt.read_bucket(spark, path).select("_date").distinct().collect()
    )
    # compact two partitions WITHOUT refreshing the manifest
    for d in dates[:2]:
        bkt.compact_bucket(spark, path, "events", d, split_by_field=True)
    got = sorted(
        bkt.scan_bucket(spark, path, field="click")
        .select("_time", "_value")
        .collect()
    )
    assert got == want


def test_manifest_respects_streaming_sink_commit_log(spark, tmp_path):
    """A FileStreamSink store's glob shows more than its readers see:
    uncommitted files (aborted tasks, mid-write) are absent from
    _spark_metadata and must be invisible to the manifest and to
    prune_files' unknown-union — otherwise scan_pruned would return
    rows the sink's exactly-once log excludes."""
    import json as _json

    src = str(tmp_path / "ssrc")
    os.makedirs(src)
    sink_path = str(tmp_path / "slog")
    with open(os.path.join(src, "w.json"), "w") as f:
        for i in range(20):
            f.write(_json.dumps({"_time_s": 1700000000 + 60 * i, "v": float(i)}) + "\n")
    q = (
        spark.readStream.schema("_time_s long, v double")
        .json(src)
        .selectExpr(
            "timestamp_seconds(_time_s) AS _time",
            "'m' AS _measurement",
            "'f' AS _field",
            "v AS _value",
        )
        .writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    committed = set(mf._list_data_files(sink_path))
    assert committed  # the stream landed files

    # plant an UNCOMMITTED orphan (aborted-task leftover): valid parquet
    # bytes, present on disk, absent from the sink log
    spark.range(5).selectExpr(
        "timestamp_seconds(1700000000 + id) AS _time",
        "'m' AS _measurement",
        "'f' AS _field",
        "CAST(999 AS DOUBLE) AS _value",
    ).coalesce(1).write.parquet(str(tmp_path / "orphan_src"))
    import glob as _glob
    import shutil as _shutil

    orphan = _glob.glob(str(tmp_path / "orphan_src" / "*.parquet"))[0]
    planted = os.path.join(sink_path, "part-99999-orphan.snappy.parquet")
    _shutil.copy(orphan, planted)

    # invisible to the lister, the manifest, and the pruned scan
    assert planted not in set(mf._list_data_files(sink_path))
    man = str(tmp_path / "sman")
    mf.write_manifest(
        mf.build_stats_manifest(spark, sink_path, ["_time"]), man
    )
    got = mf.scan_pruned(spark, sink_path, man, "_time").count()
    native = spark.read.parquet(sink_path).count()  # sink-log read
    assert got == native == 20  # the orphan's 5 rows leak into neither


def test_corrupt_sink_log_slice_fails_loudly(spark, tmp_path):
    """ADVICE r6 (medium): an unreadable _spark_metadata slice must
    RAISE, not silently drop that batch's committed files from the
    manifest and the pruned read — spark.read.parquet(root) fails on
    the same corrupt log, and a fail-silent lister would return fewer
    rows than the native read with no error anywhere."""
    import json as _json

    import pytest as _pytest

    src = str(tmp_path / "csrc")
    os.makedirs(src)
    sink_path = str(tmp_path / "clog")
    with open(os.path.join(src, "w.json"), "w") as f:
        for i in range(5):
            f.write(_json.dumps({"_time_s": 1700000000 + 60 * i, "v": float(i)}) + "\n")
    q = (
        spark.readStream.schema("_time_s long, v double")
        .json(src)
        .selectExpr(
            "timestamp_seconds(_time_s) AS _time",
            "'m' AS _measurement",
            "'f' AS _field",
            "v AS _value",
        )
        .writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    meta = os.path.join(sink_path, "_spark_metadata")
    slices = [n for n in os.listdir(meta) if n.isdigit() or n.endswith(".compact")]
    assert slices
    with open(os.path.join(meta, slices[0]), "w") as f:
        f.write('v1\n{"path": "file:///truncated mid-obj')
    with _pytest.raises(RuntimeError, match="corrupt _spark_metadata"):
        mf._list_data_files(sink_path)


def test_expire_partitions_retention(spark, tmp_path):
    """InfluxDB-style bucket retention: partitions strictly older than
    the cutoff vanish, the manifest follows, and the surviving scan is
    row-identical to filtering the original data by the cutoff."""
    path = _build_store(spark, tmp_path)
    dates = sorted(
        str(r["_date"])
        for r in bkt.read_bucket(spark, path).select("_date").distinct().collect()
    )
    cutoff = dates[2]
    want = (
        _events_long(spark)
        .filter(F.to_date("_time") >= cutoff)
        .count()
    )
    gone = bkt.expire_partitions(spark, path, cutoff)
    assert len(gone) == 2 and all("_date=" in g for g in gone)
    assert bkt.read_bucket(spark, path).count() == want
    # manifest refreshed: pruned scans see no dead files
    got = bkt.scan_bucket(spark, path, field="click").count()
    ref = (
        _events_long(spark)
        .filter((F.col("_field") == "click") & (F.to_date("_time") >= cutoff))
        .count()
    )
    assert got == ref
    # idempotent
    assert bkt.expire_partitions(spark, path, cutoff) == []


def test_delete_rows_predicate(spark, tmp_path):
    """The InfluxDB DELETE endpoint analog (round 12d): rows inside
    [start, stop) matching the equality predicate vanish; only the
    touched _date partitions are rewritten (untouched partition files
    keep their mtimes — the O(touched) proof); an emptied partition
    dir is removed; the manifest follows; a re-run is a no-op."""
    import pytest

    path = _build_store(spark, tmp_path)
    src = _events_long(spark)
    dates = sorted(
        str(r["_date"])
        for r in bkt.read_bucket(spark, path).select("_date").distinct().collect()
    )
    assert len(dates) >= 4
    start = f"{dates[1]} 06:00:00"
    stop = f"{dates[2]} 18:00:00"
    # untouched partitions: record file mtimes before the delete
    def _files_outside():
        out = {}
        for dirpath, _dirs, files in os.walk(path):
            if bkt.MANIFEST_SUBDIR in dirpath:
                continue
            if f"_date={dates[1]}" in dirpath or f"_date={dates[2]}" in dirpath:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = _files_outside()
    assert before
    in_range = (F.col("_time") >= start) & (F.col("_time") < stop)
    want_deleted = src.filter(in_range & (F.col("_field") == "click")).count()
    assert want_deleted > 0
    res = bkt.delete_rows(
        spark, path, start, stop, measurement="events", field="click",
        cluster="field",
    )
    assert res["rows_deleted"] == want_deleted
    assert res["partitions_rewritten"] and not res["partitions_removed"]
    # surviving rows = everything except the matched ones
    assert bkt.read_bucket(spark, path).count() == src.count() - want_deleted
    assert (
        bkt.read_bucket(spark, path)
        .filter(in_range & (F.col("_field") == "click"))
        .count()
        == 0
    )
    # other fields in the range are intact
    assert (
        bkt.read_bucket(spark, path)
        .filter(in_range & (F.col("_field") != "click"))
        .count()
        == src.filter(in_range & (F.col("_field") != "click")).count()
    )
    # untouched partitions were not rewritten
    assert _files_outside() == before
    # the manifest followed: a pruned scan agrees
    assert (
        bkt.scan_bucket(spark, path, field="click").count()
        == src.filter(F.col("_field") == "click").count() - want_deleted
    )
    # idempotent re-run — and a no-match call rewrites NOTHING and
    # says so (review 12d: the old report listed never-rewritten
    # partitions)
    res2 = bkt.delete_rows(
        spark, path, start, stop, measurement="events", field="click",
        cluster="field",
    )
    assert res2["rows_deleted"] == 0 and not res2["partitions_removed"]
    assert res2["partitions_rewritten"] == []
    # offset-bearing bounds convert to UTC instants (review 12d: the
    # date window derives from parsed instants, not string slices)
    want_view = src.filter(in_range & (F.col("_field") == "view")).count()
    assert want_view > 0
    res_off = bkt.delete_rows(
        spark, path,
        f"{dates[1]}T11:00:00+05:00",  # == {dates[1]} 06:00 UTC
        f"{dates[2]}T23:00:00+05:00",  # == {dates[2]} 18:00 UTC
        measurement="events", field="view", cluster="field",
    )
    assert res_off["rows_deleted"] == want_view
    # malformed / inverted bounds raise naming the problem
    with pytest.raises(ValueError, match="unparseable"):
        bkt.delete_rows(spark, path, "2024-1-5 00:00:00", stop)
    with pytest.raises(ValueError, match="must precede"):
        bkt.delete_rows(spark, path, stop, start)
    # deleting a WHOLE day of every field empties the partition dir
    res3 = bkt.delete_rows(
        spark, path, f"{dates[3]} 00:00:00", "2099-01-01 00:00:00",
        measurement="events", cluster="field",
    )
    assert any(f"_date={dates[3]}" in p for p in res3["partitions_removed"])
    assert not os.path.isdir(
        os.path.join(path, "_measurement=events", f"_date={dates[3]}")
    )
    # unknown predicate tag raises naming the store's tag columns
    with pytest.raises(ValueError, match="not a promoted column"):
        bkt.delete_rows(
            spark, path, start, stop, tags={"host": "a"},
        )


def test_delete_rows_property_partition_of_rows(spark, tmp_path):
    """Property (round 12d): for random [start, stop) windows and
    predicates, delete_rows PARTITIONS the store — deleted + surviving
    == original, no surviving row matches, every non-matching row
    survives byte-identical, and a re-run deletes nothing. Hypothesis
    is deliberately not used here: each example needs a fresh store
    copy, so a seeded grid keeps the runtime bounded while still
    covering boundary hours and predicate shapes."""
    import shutil

    import datetime as dtm

    base = str(tmp_path / "prop_base")
    rows = []
    t0 = dtm.datetime(2024, 1, 1)
    for i in range(400):
        rows.append(
            (
                t0 + dtm.timedelta(minutes=17 * i),
                "events",
                f"f{i % 3}",
                float(i % 53),
            )
        )
    df = spark.createDataFrame(
        rows, "`_time` timestamp, `_measurement` string, `_field` string, "
        "`_value` double"
    ).withColumn("tags", F.create_map().cast("map<string,string>"))
    bkt.write_bucket(df, base, mode="overwrite")
    bkt.refresh_bucket_manifest(spark, base)
    total = df.count()
    all_rows = sorted(map(tuple, df.drop("tags").collect()), key=repr)
    cases = [
        # (start_h, stop_h, field) over the ~4.7-day span
        (0, 1, None),            # tiny window at the very start
        (23, 25, "f1"),          # day-boundary straddle
        (0, 24, None),           # exactly one whole day
        (30, 113, "f0"),         # multi-day middle slice
        (111, 240, None),        # through the end (empties tail days)
    ]
    for j, (h0, h1, fld) in enumerate(cases):
        path = str(tmp_path / f"prop_{j}")
        shutil.copytree(base, path)
        start = (t0 + dtm.timedelta(hours=h0)).isoformat(sep=" ")
        stop = (t0 + dtm.timedelta(hours=h1)).isoformat(sep=" ")
        in_win = (F.col("_time") >= start) & (F.col("_time") < stop)
        pred = in_win if fld is None else in_win & (F.col("_field") == fld)
        want_del = df.filter(pred).count()
        res = bkt.delete_rows(
            spark, path, start, stop, measurement="events", field=fld
        )
        assert res["rows_deleted"] == want_del, (j, res)
        cols = ["_time", "_measurement", "_field", "_value"]
        left = bkt.read_bucket(spark, path).select(*cols)
        assert left.count() == total - want_del, j
        assert left.filter(pred).count() == 0, j
        keep_rows = sorted(
            map(tuple, df.filter(~pred).select(*cols).collect()), key=repr
        )
        assert sorted(map(tuple, left.collect()), key=repr) == keep_rows, j
        # deleted ∪ survivors == original (no invented rows anywhere)
        assert len(keep_rows) + want_del == len(all_rows)
        res2 = bkt.delete_rows(
            spark, path, start, stop, measurement="events", field=fld
        )
        assert res2["rows_deleted"] == 0
        assert res2["partitions_rewritten"] == []
        assert res2["partitions_removed"] == []


def test_delete_rows_refuses_streaming_sink_stores(spark, tmp_path):
    import pytest

    store = str(tmp_path / "delsink")
    os.makedirs(os.path.join(store, "_spark_metadata"))
    with pytest.raises(ValueError, match="_spark_metadata"):
        bkt.delete_rows(spark, store, "2024-01-01", "2024-02-01")


def test_expire_partitions_refuses_streaming_sink_stores(spark, tmp_path):
    """Deleting partition dirs under a FileStreamSink store would leave
    _spark_metadata pointing at vanished files (every native read then
    crashes) — retention must refuse and say why."""
    import pytest as _pytest

    store = str(tmp_path / "sinkstore")
    os.makedirs(os.path.join(store, "_spark_metadata"))
    os.makedirs(os.path.join(store, "_measurement=m", "_date=2024-01-01"))
    with _pytest.raises(ValueError, match="_spark_metadata"):
        bkt.expire_partitions(spark, store, "2024-02-01")


def test_manifest_publish_grace_window_and_reader_race(spark, tmp_path):
    """ADVICE r6 / VERDICT r6 item 5: rapid back-to-back publishes must
    NOT delete a generation a reader resolved moments earlier — reaping
    is time-based (REAP_GRACE_S), so a reader holding any
    recently-current generation path can still read it after several
    newer publishes; only once a superseded generation AGES past the
    grace window does a publish remove it."""
    import time

    path = _build_store(spark, tmp_path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)

    def gens():
        return sorted(
            d for d in os.listdir(man) if d.startswith("data-")
        )

    # simulate a reader that resolved _CURRENT right before a burst of
    # rapid refreshes
    with open(os.path.join(man, "_CURRENT")) as f:
        held = os.path.join(man, f.read().strip())
    held_df = spark.read.parquet(held)
    n_before = held_df.count()
    base = mf.build_stats_manifest(spark, path, ["_field", "_time"])
    for _ in range(3):
        mf.write_manifest(base, man)
    # every generation from the burst survives (all younger than grace)
    assert len(gens()) == 4
    assert held_df.count() == n_before  # the held generation still reads

    # age one unreferenced generation past the grace window -> next
    # publish reaps exactly it (current + immediately-previous are kept
    # regardless of age)
    with open(os.path.join(man, "_CURRENT")) as f:
        cur = f.read().strip()
    old_t = time.time() - (mf.REAP_GRACE_S + 5)
    for d in gens():
        os.utime(os.path.join(man, d), (old_t, old_t))
    mf.write_manifest(base, man)
    after = gens()
    # the new generation plus the one it superseded survive; all other
    # aged generations are gone
    assert len(after) == 2
    assert cur in after


def test_manifest_crash_between_generation_and_pointer_heals(spark, tmp_path):
    """A crash AFTER the generation dir lands but BEFORE the _CURRENT
    rename must leave readers on the old complete manifest (no partial
    state is ever visible), and a re-run publish must heal: the orphan
    is reaped once aged, and scans behave identically throughout."""
    import shutil
    import time
    import uuid

    path = _build_store(spark, tmp_path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    with open(os.path.join(man, "_CURRENT")) as f:
        cur_before = f.read().strip()
    want = bkt.scan_bucket(spark, path, field="click").count()

    # simulate the crash: a fully-written generation dir, pointer never
    # flipped (copy the current generation under a fresh nonce)
    orphan = f"data-crash{uuid.uuid4().hex[:8]}"
    shutil.copytree(os.path.join(man, cur_before), os.path.join(man, orphan))
    # readers are unaffected: pointer still names the old generation
    with open(os.path.join(man, "_CURRENT")) as f:
        assert f.read().strip() == cur_before
    assert bkt.scan_bucket(spark, path, field="click").count() == want

    # the re-run (the maintenance writer's next tick) publishes fine;
    # the aged orphan is reaped, and the store scans identically
    old_t = time.time() - (mf.REAP_GRACE_S + 5)
    os.utime(os.path.join(man, orphan), (old_t, old_t))
    bkt.refresh_bucket_manifest(spark, path, incremental=True)
    assert orphan not in os.listdir(man)
    assert bkt.scan_bucket(spark, path, field="click").count() == want


def test_incremental_refresh_inherits_manifest_columns(spark, tmp_path):
    """ADVICE r6: a manifest built with a CUSTOM column set must keep
    that set on default-argument incremental refreshes (retention /
    rollup maintenance call refresh_bucket_manifest with no columns) —
    otherwise newly-arrived files get harvested with the defaults and
    one manifest silently mixes per-file column coverage."""
    path = str(tmp_path / "custom_cols")
    rows = _events_long(spark)
    bkt.write_bucket(rows, path, mode="overwrite", cluster="field")
    bkt.refresh_bucket_manifest(spark, path, columns=("_value", "_time"))
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)

    def colset():
        return {
            r["column"]
            for r in mf.read_manifest(spark, man).select("column").distinct().collect()
        }

    assert colset() == {"_value", "_time"}
    # new files arrive; the maintenance tick runs with DEFAULT args
    bkt.write_bucket(
        rows.withColumn("_time", F.col("_time") + F.expr("INTERVAL 40 DAYS")),
        path,
        mode="append",
        cluster="field",
    )
    bkt.refresh_bucket_manifest(spark, path, incremental=True)
    m = mf.read_manifest(spark, man)
    assert colset() == {"_value", "_time"}
    # and EVERY file is covered for both columns (no mixed coverage)
    n_files = m.select("file").distinct().count()
    per_col = (
        m.groupBy("column").agg(F.countDistinct("file").alias("nf")).collect()
    )
    assert all(r["nf"] == n_files for r in per_col)


def test_concurrent_write_bucket_conf_isolation(spark, tmp_path):
    """ADVICE r6: two write_bucket calls racing in one session must not
    clobber each other's parquet timestamp-type conf — both stores get
    stats-bearing TIMESTAMP_MICROS files and the session conf is
    restored afterwards."""
    import threading

    rows = _events_long(spark)
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    paths = [str(tmp_path / f"conc_{i}") for i in range(2)]
    errs: list[Exception] = []

    def run(p):
        try:
            bkt.write_bucket(rows, p, mode="overwrite", cluster="field")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=run, args=(p,)) for p in paths]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert spark.conf.get("spark.sql.parquet.outputTimestampType", None) == prev
    import pyarrow.parquet as pq

    for p in paths:
        f = mf._list_data_files(p)[0]
        # INT96 would mean the lock failed and _time stats are gone
        assert "INT96" not in str(pq.read_metadata(f).row_group(0))
        # the manifest harvest finds usable _time stats
        bkt.refresh_bucket_manifest(spark, p)
        man = os.path.join(p, bkt.MANIFEST_SUBDIR)
        t = mf.read_manifest(spark, man).filter(
            (F.col("column") == "_time") & F.col("min_value").isNotNull()
        )
        assert t.count() > 0


def test_prune_cache_keyed_by_generation(spark, tmp_path):
    """prune_files caches the manifest evaluation per committed
    GENERATION + constraints (the snapshot-cache pattern): a repeat
    call returns identical files without re-running the job; a manifest
    republish (new generation nonce) invalidates; and the LIVE-listing
    staleness union is never cached — files appended after the harvest
    still appear."""
    path = _build_store(spark, tmp_path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    cons = {"_field": ("click", "click")}

    mf._PRUNE_CACHE.clear()
    a = mf.prune_files(spark, path, man, constraints=cons)
    assert len(mf._PRUNE_CACHE) == 1
    b = mf.prune_files(spark, path, man, constraints=cons)
    assert a == b

    # append new (uncovered) files WITHOUT refreshing the manifest:
    # the cached evaluation is still valid, and the unknown-union must
    # surface the new files on the very next call
    extra = _events_long(spark).limit(30).withColumn(
        "_time", F.col("_time") + F.expr("INTERVAL 365 DAYS")
    )
    bkt.write_bucket(extra, path, mode="append", cluster="field")
    c = mf.prune_files(spark, path, man, constraints=cons)
    assert set(a) < set(c)  # cached manifest verdicts + fresh unknowns
    assert len(mf._PRUNE_CACHE) == 1  # still the same generation entry

    # republish -> new generation -> cache miss, fresh evaluation
    bkt.refresh_bucket_manifest(spark, path, incremental=True)
    d = mf.prune_files(spark, path, man, constraints=cons)
    assert len(mf._PRUNE_CACHE) == 2
    # after refresh the new files are covered: manifest excludes the
    # non-click ones again
    assert set(d) <= set(c)


def test_manifest_columns_heal_vs_transient_policy(spark, tmp_path):
    """manifest_columns heals absent/partial manifests (None → caller
    defaults) but PROPAGATES a read failure while a committed pointer
    exists — silently defaulting there would rebuild the manifest with
    narrower columns and drop file-skipping coverage."""
    import shutil

    import pytest as _pytest

    # absent dir → None
    assert mf.manifest_columns(spark, str(tmp_path / "nope")) is None
    # crash-partial: dir exists, no pointer, no parquet → None
    partial = str(tmp_path / "partial")
    os.makedirs(partial)
    assert mf.manifest_columns(spark, partial) is None
    # committed manifest → its column set
    path = _build_store(spark, tmp_path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    assert mf.manifest_columns(spark, man) == ["_field", "_time"]
    # committed pointer but generation dir unreadable (racing reap /
    # transient IO) → raises, never silently narrows
    with open(os.path.join(man, "_CURRENT")) as f:
        gen = f.read().strip()
    shutil.rmtree(os.path.join(man, gen))
    with _pytest.raises(Exception):
        mf.manifest_columns(spark, man)


def test_concurrent_manifest_writer_fails_loudly(spark, tmp_path):
    """VERDICT r7 item 5: the manifest publish is single-writer, and a
    SECOND concurrent writer must fail loudly (ConcurrentManifestWriter)
    instead of silently last-wins — while a crashed writer's abandoned
    lock is taken over after LOCK_STALE_S, and readers resolve a
    complete manifest at every point."""
    import time

    import pytest as _pytest

    path = _build_store(spark, tmp_path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    base = mf.build_stats_manifest(spark, path, ["_field", "_time"])
    lock = os.path.join(man, "_WRITER_LOCK")

    # a fresh (in-flight) lock blocks a second writer loudly
    with open(lock, "w") as f:
        f.write("someone-else")
    with _pytest.raises(mf.ConcurrentManifestWriter, match="single-writer"):
        mf.write_manifest(base, man)
    # the blocked writer must not have moved the committed pointer
    assert mf.read_manifest(spark, man).count() > 0

    # an abandoned lock (crashed writer) is taken over once stale
    old_t = time.time() - (mf.LOCK_STALE_S + 5)
    os.utime(lock, (old_t, old_t))
    mf.write_manifest(base, man)
    assert not os.path.exists(lock)  # released after publish
    assert mf.read_manifest(spark, man).count() == base.count()


def test_two_writer_race_one_fails_readers_always_complete(spark, tmp_path):
    """Two genuinely concurrent write_manifest calls: every failure is
    the LOUD ConcurrentManifestWriter (never silent last-wins with two
    success reports), at least one publish commits, and the committed
    pointer resolves a complete readable manifest."""
    import threading

    path = _build_store(spark, tmp_path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    base = mf.build_stats_manifest(spark, path, ["_field", "_time"])
    results: list = [None, None]
    barrier = threading.Barrier(2)

    def writer(i):
        barrier.wait()
        try:
            mf.write_manifest(base, man)
            results[i] = "ok"
        except mf.ConcurrentManifestWriter:
            results[i] = "loud"
        except Exception as e:  # anything else is a real failure
            results[i] = e

    ts = [threading.Thread(target=writer, args=(i,)) for i in (0, 1)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert all(r in ("ok", "loud") for r in results), results
    assert "ok" in results  # at least one commit landed
    # reader: committed pointer resolves a complete manifest
    got = mf.read_manifest(spark, man)
    assert got.count() == base.count()
    assert not os.path.exists(os.path.join(man, "_WRITER_LOCK"))


def test_takeover_vs_takeover_race_never_two_successes(spark, tmp_path):
    """ADVICE r9 / VERDICT r9 item 6: two writers that BOTH observe a
    stale lock race the takeover itself. The rename-aside takeover is
    exclusive (only one racer can move a given lock file), so every
    outcome is ok-or-loud, at least one publish commits, and the
    committed pointer always resolves a complete manifest."""
    import threading
    import time

    import pytest as _pytest

    path = _build_store(spark, tmp_path)
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    base = mf.build_stats_manifest(spark, path, ["_field", "_time"])
    lock = os.path.join(man, "_WRITER_LOCK")

    for attempt in range(3):  # repeat: the interleaving is timing-luck
        # plant a stale lock both writers will judge abandoned
        with open(lock, "w") as f:
            f.write(f"crashed-writer-{attempt}")
        old_t = time.time() - (mf.LOCK_STALE_S + 5)
        os.utime(lock, (old_t, old_t))

        results: list = [None, None]
        barrier = threading.Barrier(2)

        def writer(i):
            barrier.wait()
            try:
                mf.write_manifest(base, man)
                results[i] = "ok"
            except mf.ConcurrentManifestWriter:
                results[i] = "loud"
            except Exception as e:
                results[i] = e

        ts = [threading.Thread(target=writer, args=(i,)) for i in (0, 1)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert all(r in ("ok", "loud") for r in results), results
        assert "ok" in results
        got = mf.read_manifest(spark, man)
        assert got.count() == base.count()
        assert not os.path.exists(lock)
        # no aside debris left behind by either takeover path
        assert not [
            d for d in os.listdir(man) if d.startswith("_WRITER_LOCK.stale-")
        ]


def test_takeover_refuses_to_steal_a_live_lock(tmp_path):
    """Deterministic replay of the window the threaded test can only
    hit by luck: a takeover that observed holder X finds the lock
    re-created by live writer Y between the staleness check and the
    rename. It must restore Y's lock byte-for-byte and raise, never
    proceed as owner."""
    import pytest as _pytest

    lock = str(tmp_path / "_WRITER_LOCK")
    # live writer Y re-created the lock after our staleness observation
    with open(lock, "w") as f:
        f.write("live-writer-Y")
    with _pytest.raises(mf.ConcurrentManifestWriter, match="live writer"):
        mf._take_over_stale_lock(lock, "crashed-writer-X", "my-nonce")
    with open(lock) as f:
        assert f.read().strip() == "live-writer-Y"  # restored, not stolen
    assert not os.path.exists(lock + ".stale-my-nonce")
    # holder unreadable at observation time (lock vanished mid-check):
    # a lock present at rename time is someone else's fresh lock — same
    # refusal
    with _pytest.raises(mf.ConcurrentManifestWriter, match="live writer"):
        mf._take_over_stale_lock(lock, None, "my-nonce")
    with open(lock) as f:
        assert f.read().strip() == "live-writer-Y"
    # the clean case: the lock we observed IS the one we move
    mf._take_over_stale_lock(lock, "live-writer-Y", "my-nonce")
    assert not os.path.exists(lock)
    # and a vanished lock is a completed release, not an error
    mf._take_over_stale_lock(lock, "whoever", "my-nonce")


def test_pre_clustered_write_matches_day_clustered(spark, tmp_path):
    """cluster="pre" (round 15): a caller that clusters the rows by day
    BEFORE write_bucket (e.g. a wide repartition ahead of the unpivot —
    the shuffle-before-explode backfill path) must land the identical
    store: same partition dirs, same rows, same within-file sort."""
    long_df = _events_long(spark)
    day_path = str(tmp_path / "bucket_day")
    bkt.write_bucket(long_df, day_path, mode="overwrite", cluster="day")

    pre_path = str(tmp_path / "bucket_pre")
    pre = long_df.repartition(F.to_date("_time"))
    bkt.write_bucket(pre, pre_path, mode="overwrite", cluster="pre")

    def norm(p):
        return spark.read.parquet(p).withColumn("tags", F.to_json("tags"))

    a, b = norm(day_path), norm(pre_path)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    dirs_a = sorted(
        os.path.relpath(d, day_path)
        for d, _, _ in os.walk(day_path)
        if "_date=" in d
    )
    dirs_b = sorted(
        os.path.relpath(d, pre_path)
        for d, _, _ in os.walk(pre_path)
        if "_date=" in d
    )
    assert dirs_a == dirs_b


#: Hand-built manifest rows (file, column, arrow type, min, max): every
#: type family, null stats, and — in the ``bad_`` files — stat strings
#: that do not type, NaN, and a missing type. The timestamp rows sit
#: next to the 2021 America/New_York DST gap (03-14 02:00 local) and
#: overlap (11-07 01:00 local), so a bound resolved with the wrong
#: offset changes a verdict.
_HAND_MANIFEST = [
    ("i1.parquet", "n", "int64", "10", "20"),
    ("i2.parquet", "n", "int64", "-5", "3"),
    ("u1.parquet", "n", "uint64", "18446744073709551600", "18446744073709551615"),
    ("d1.parquet", "x", "double", "0.5", "1.5"),
    ("d2.parquet", "x", "double", "-1e3", "-2.5"),
    ("t1.parquet", "_time", "timestamp[us, tz=UTC]",
     "2021-03-14 06:00:00+00:00", "2021-03-14 07:15:00+00:00"),
    ("t2.parquet", "_time", "timestamp[us, tz=UTC]",
     "2021-03-14 07:15:00+00:00", "2021-03-14 07:45:00+00:00"),
    ("t3.parquet", "_time", "timestamp[us]", "2021-03-14 03:10:00", "2021-03-14 04:00:00"),
    ("t4.parquet", "_time", "timestamp[us, tz=UTC]",
     "2021-11-07 05:00:00+00:00", "2021-11-07 06:00:00+00:00"),
    ("t5.parquet", "_time", "timestamp[us]", "2021-11-07 01:10:00", "2021-11-07 01:50:00"),
    ("t6.parquet", "_time", "timestamp[us]",
     "2024-01-01 00:00:00.250000", "2024-01-01 00:00:00.750000"),
    ("dt1.parquet", "day", "date32[day]", "2021-03-13", "2021-03-15"),
    ("s1.parquet", "_field", "string", "click", "click"),
    ("s2.parquet", "_field", "string", "a", "m"),
    ("m1.parquet", "_field", "string", "view", "view"),
    ("m1.parquet", "_time", "timestamp[us]", "2021-03-14 00:00:00", "2021-03-14 23:59:59"),
    ("null_min.parquet", "n", "int64", None, "5"),
    ("null_both.parquet", "x", "double", None, None),
    ("bad_int.parquet", "n", "int64", "abc", "5"),
    ("bad_nan.parquet", "x", "double", "NaN", "NaN"),
    ("bad_ts.parquet", "_time", "timestamp[us]", "not-a-time", "2021-03-14 05:00:00"),
    ("bad_type.parquet", "n", None, "10", "20"),
]

#: Constraint sets whose bounds are inside the typed grammar: date-only,
#: minute and fractional-second timestamps, DST-gap and -overlap wall
#: times, integers up to 38 digits, decimal floats.
_WELL_FORMED_BOUNDS = [
    {"n": ("12", "15")},
    {"n": ("-10", "0")},
    {"n": ("21", None)},
    {"n": (None, "9")},
    {"n": ("18446744073709551610", None)},
    {"x": ("1.6", None)},
    {"x": ("-3", "0.4")},
    {"x": ("1e-1", "5E2")},
    {"_time": ("2021-03-14 02:30:00", "2021-03-14 02:45")},
    {"_time": ("2021-11-07 01:30", None)},
    {"_time": (None, "2021-11-07 01:05:00")},
    {"_time": ("2024-01-01 00:00:00.8", None)},
    {"_time": ("2024-01-01 00:00:00.123456", "2024-01-01 00:00:00.2")},
    {"_time": ("2021-03-14", "2021-03-14")},
    {"day": ("2021-03-16", None)},
    {"day": (None, "2021-03-12 23:59:59.999999")},
    {"_field": ("click", "click")},
    {"_field": ("n", "z")},
    {"_field": ("view", "view"), "_time": ("2021-03-15", None)},
]

#: Bounds outside the grammar: the new prune may only keep more.
_MALFORMED_BOUNDS = [
    {"n": ("1.5", "abc")},
    {"n": (" 5", None)},
    {"n": ("9" * 39, None)},
    {"x": ("NaN", None)},
    {"x": (None, "1.5d")},
    {"_time": ("2021-03-14T05:00:00Z", None)},
    {"_time": ("2021-3-14", None)},
    {"_time": ("2021-03-14 05:00:00+01:00", None)},
    {"_time": ("2024", None)},
]


def _hand_store(spark, tmp_path):
    """A store of EMPTY data files named by ``_HAND_MANIFEST`` (pruning
    only lists them) and its committed manifest."""
    path = str(tmp_path / "hand")
    os.makedirs(path)
    for f in {r[0] for r in _HAND_MANIFEST}:
        open(os.path.join(path, f), "w").close()
    man = os.path.join(path, bkt.MANIFEST_SUBDIR)
    rows = [(*r, 1) for r in _HAND_MANIFEST]
    mf.write_manifest(spark.createDataFrame(rows, mf.MANIFEST_SCHEMA), man)
    return path, man


def _oracle_exclusion_sql(column, lo, hi):
    """The former Spark-side exclusion predicate, written as SQL: the
    row belongs to ``column``, carries both stats, and its try_cast
    [min, max] misses the try_cast bounds, per recorded type family."""

    def miss(t):
        parts = ["false"]
        if lo is not None:
            parts.append(f"try_cast(max_value AS {t}) < try_cast('{lo}' AS {t})")
        if hi is not None:
            parts.append(f"try_cast(min_value AS {t}) > try_cast('{hi}' AS {t})")
        return " OR ".join(parts)

    return (
        f"(`column` = '{column}' AND min_value IS NOT NULL AND max_value IS "
        "NOT NULL AND coalesce(CASE "
        f"WHEN `type` RLIKE '^u?int' THEN {miss('decimal(38,0)')} "
        "WHEN `type` RLIKE '^(float|double|halffloat|decimal)' THEN "
        f"{miss('double')} "
        f"WHEN `type` RLIKE '^(timestamp|date)' THEN {miss('timestamp')} "
        f"ELSE {miss('string')} END, false))"
    )


def test_driver_prune_matches_spark_predicate_oracle(spark, tmp_path):
    """The driver-side index keeps a SUPERSET of the files the former
    Spark-side predicate kept, for every constraint set, and exactly
    the same files among well-formed rows under well-formed bounds —
    in UTC and in a DST-observing session zone (the oracle evaluates
    in the same zone, in one job for all constraint sets)."""
    path, man = _hand_store(spark, tmp_path)
    files = sorted({r[0] for r in _HAND_MANIFEST})
    cases = _WELL_FORMED_BOUNDS + _MALFORMED_BOUNDS
    excl = [
        " OR ".join(_oracle_exclusion_sql(c, lo, hi) for c, (lo, hi) in cons.items())
        for cons in cases
    ]
    with bkt._SESSION_CONF_LOCK:
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        try:
            for tz in ("UTC", "America/New_York"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                flags = (
                    mf.read_manifest(spark, man)
                    .groupBy("file")
                    .agg(
                        *[
                            F.expr(f"max(CASE WHEN {e} THEN 1 ELSE 0 END)").alias(f"e{i}")
                            for i, e in enumerate(excl)
                        ]
                    )
                    .collect()
                )
                for i, cons in enumerate(cases):
                    oracle = {
                        os.path.join(path, f)
                        for f in files
                        if f not in {r["file"] for r in flags if r[f"e{i}"] == 1}
                    }
                    got = set(mf.prune_files(spark, path, man, constraints=cons))
                    assert oracle <= got, (tz, cons, sorted(oracle - got))
                    if i < len(_WELL_FORMED_BOUNDS):
                        good = {f for f in got | oracle if "bad_" not in f}
                        assert got & good == oracle & good, (
                            tz, cons, sorted(got ^ oracle)
                        )
                    # the well-formed cases must actually prune
                    assert i >= len(_WELL_FORMED_BOUNDS) or len(got) < len(files), (
                        tz, cons
                    )
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_warm_prune_launches_no_spark_job(spark, tmp_path, monkeypatch):
    """On a warm generation prune_files launches ZERO Spark jobs for any
    constraint set (counted through the status tracker; a sentinel job
    afterwards makes sure the listener has caught up), and a manifest
    republish costs exactly one index load."""
    import time

    path, man = _hand_store(spark, tmp_path)
    sc = spark.sparkContext
    loads = []
    real_load = mf._load_index
    monkeypatch.setattr(
        mf, "_load_index", lambda *a: loads.append(a) or real_load(*a)
    )

    def jobs(group, at_least=0):
        deadline = time.time() + 30
        while True:
            ids = sc.statusTracker().getJobIdsForGroup(group)
            if len(ids) >= at_least or time.time() > deadline:
                return ids
            time.sleep(0.05)

    def settle(tag):
        # listener events arrive in order: once this job is visible,
        # every earlier job of the thread is too
        sc.setJobGroup(f"sentinel-{tag}", "sentinel")
        spark.range(1).count()
        assert jobs(f"sentinel-{tag}", at_least=1)

    mf._PRUNE_CACHE.clear()
    try:
        sc.setJobGroup(f"cold-{tmp_path.name}", "cold prune")
        mf.prune_files(spark, path, man, constraints={"n": ("12", "15")})
        assert jobs(f"cold-{tmp_path.name}", at_least=1)  # the counter works
        assert len(loads) == 1

        sc.setJobGroup(f"warm-{tmp_path.name}", "warm prune")
        for cons in _WELL_FORMED_BOUNDS:
            mf.prune_files(spark, path, man, constraints=cons)
        settle(f"a-{tmp_path.name}")
        assert jobs(f"warm-{tmp_path.name}") == []
        assert len(loads) == 1

        # republish -> one load, then warm again
        rows = [(*r, 1) for r in _HAND_MANIFEST]
        mf.write_manifest(spark.createDataFrame(rows, mf.MANIFEST_SCHEMA), man)
        for cons in _WELL_FORMED_BOUNDS:
            mf.prune_files(spark, path, man, constraints=cons)
        assert len(loads) == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
