"""What a long-lived session keeps across repeated work: generated
classes stay compiled (the codegen cache holds the engine's working
set), and pinned frames stay bounded (the oldest pins are unpersisted)."""

from __future__ import annotations

import gc
import shutil
import weakref

from pyspark.storagelevel import StorageLevel

from time_series_data_pipeline_spark.operators import _util
from time_series_data_pipeline_spark.queries import QUERIES

from .conftest import SF_SMOKE

CURATION = (
    "curation_pipeline",
    "ngram_jaccard_pairs",
    "embedding_lsh_ann",
    "hybrid_search_rrf",
)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one histogram sample each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_curation_pass_reuses_generated_classes(spark, tmp_path):
    """The curation queries over a new corpus copy build new stores but
    the same plan shapes: the second pass must find its classes in the
    codegen cache. At Spark's default of 100 entries a pass (about 210
    classes) evicts its own classes and the second pass recompiles them
    all."""
    dirs = []
    for name in ("first", "second"):
        d = tmp_path / name
        d.mkdir()
        for t in ("documents", "embeddings"):
            shutil.copy(f"{SF_SMOKE}/{t}.parquet", d)
        dirs.append(str(d))

    def run_pass(sf_dir):
        for q in CURATION:
            QUERIES[q](spark, sf_dir).collect()

    run_pass(dirs[0])
    before = _compiles(spark)
    run_pass(dirs[1])
    compiled = _compiles(spark) - before
    # a few plans carry per-corpus literals; everything else must hit
    assert compiled <= 20, f"second pass compiled {compiled} classes"


def _is_cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_pins_are_bounded_and_evicted_frames_recompute(spark):
    spark.catalog.clearCache()
    first = _util.pin(spark.range(50).selectExpr("id", "id % 7 AS k"))
    query = first.groupBy("k").count()  # built while `first` is cached
    want = sorted(query.collect())
    later = [
        _util.pin(spark.range(3).selectExpr(f"id + {i} AS x"))
        for i in range(_util._PINNED_MAX)
    ]
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData()
    assert cached.size() <= _util._PINNED_MAX
    assert not _is_cached(first)
    assert all(_is_cached(df) for df in later)
    assert sorted(query.collect()) == want


def test_pins_hold_no_python_session(spark):
    from pyspark.sql.session import _monkey_patch_RDD

    other = spark.newSession()
    ref = weakref.ref(other)
    _util.pin(other.range(3).selectExpr("id * 11 AS x"))
    # every new session rebinds RDD.toDF to itself; hand it back
    _monkey_patch_RDD(spark)
    del other
    gc.collect()
    assert ref() is None


def test_repinning_a_cached_plan_keeps_it_cached(spark):
    """The same plan pinned again (a repeated query) refreshes its one
    entry: more repeats than the bound must not evict the plan itself."""
    for _ in range(_util._PINNED_MAX + 1):
        df = _util.pin(spark.range(5).selectExpr("id * 17 AS x"))
    assert _is_cached(df)


def test_pins_of_a_stopped_context_are_dropped(spark):
    """A pin from another application id belongs to a stopped context:
    the next pin drops it without calling into that context."""

    class StoppedContextDataset:
        def unpersist(self, blocking):
            raise AssertionError("unpersist on a stopped context")

    with _util._PINNED_LOCK:
        _util._PINNED[("local-stopped", 0)] = StoppedContextDataset()
        _util._PINNED.move_to_end(("local-stopped", 0), last=False)
    _util.pin(spark.range(3).selectExpr("id * 13 AS x"))
    assert all(app != "local-stopped" for app, _ in _util._PINNED)
