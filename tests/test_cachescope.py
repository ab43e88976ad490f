"""Cache-scope hygiene: operators register their persisted intermediates
with cachescope.track; a long-lived session composing entries releases
them with release_tracked() instead of relying on bench.py's blanket
clearCache. cachescope.release frees a persist or a localCheckpoint, so
the model DAG's checkpoints are freed by Pipeline.unpersist_all and by
the incremental runner.

Every assertion names the RDD ids the handles under test hold, never the
global persistent-RDD count: Spark's ContextCleaner drops unreachable
RDDs asynchronously, so a count compared against a baseline is flaky.
"""

from __future__ import annotations

from kwwhat_spark.operators import cachescope
from kwwhat_spark.operators.cachescope import release, release_tracked
from kwwhat_spark.queries import REGISTRY


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _held_rdd_id(spark, df) -> int:
    """The RDD holding df's materialized rows: the checkpointed RDD under
    a localCheckpoint's LogicalRDD leaf, or a persist()'s column-buffer
    RDD."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        return plan.rdd().id()
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()


def test_release_tracked_after_two_entry_composition(spark, sf_dir):
    release_tracked(blocking=True)  # so the tracked handles are only these entries
    # Two cache-holding entries composed in ONE session, both
    # materialized: minhash holds shingled+banded, the span strip holds
    # its token stage.
    for name in ("dedup_minhash_lsh", "dedup_substring_spans"):
        df = REGISTRY[name].spark(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    held = {_held_rdd_id(spark, df) for df in cachescope._TRACKED}
    assert held <= _persistent_ids(spark)  # the intra-query caches exist...

    n = release_tracked(blocking=True)
    assert n >= 3  # ...all of them were tracked (shingled, banded, tokens)
    assert not held & _persistent_ids(spark)  # ...and release drops every one


def test_release_tracked_idempotent(spark):
    assert release_tracked() == 0


def test_release_frees_a_local_checkpoint(spark):
    df = spark.range(100).selectExpr("id * 2 AS x").localCheckpoint(eager=True)
    rdd_id = _held_rdd_id(spark, df)
    df.unpersist(blocking=True)  # a no-op on a checkpoint...
    assert rdd_id in _persistent_ids(spark)
    release(df, blocking=True)  # ...release frees it
    assert rdd_id not in _persistent_ids(spark)


def test_unpersist_all_frees_the_pipeline_checkpoints(spark, small_fleet_dir):
    import kwwhat_spark.models  # noqa: F401  (registers the model DAG)
    from kwwhat_spark.models.base import Pipeline
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    pipe = Pipeline(
        spark=spark,
        sources=load_ocpp_sources(spark, small_fleet_dir),
        cache_views=("stg_ocpp_logs",),
    )
    kept = pipe.ref("dim_connectors")
    kept_id = _held_rdd_id(spark, kept)
    held = {_held_rdd_id(spark, df) for n, df in pipe._cache.items() if pipe.materializes(n)}
    assert len(held) >= 4  # staging, status changes, latest status, connectors, ...
    assert held <= _persistent_ids(spark)

    pipe.unpersist_all(keep=("dim_connectors",))
    assert list(pipe._cache) == ["dim_connectors"]
    assert _persistent_ids(spark) & held == {kept_id}
    assert kept.count() > 0  # a kept checkpoint stays readable

    pipe.unpersist_all()
    assert not pipe._cache
    assert not held & _persistent_ids(spark)


def test_incremental_batch_leaves_no_checkpoint(spark, small_fleet_dir, tmp_path):
    # Two batches: the first writes fresh state, the second takes the
    # partitioned store's merge path (its own batch checkpoint).
    from kwwhat_spark.plans.incremental import IncrementalRunner, PartitionedStateStore
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    sources = load_ocpp_sources(spark, small_fleet_dir)
    runner = IncrementalRunner(spark, PartitionedStateStore(spark, str(tmp_path)))
    models = ["int_status_changes", "int_connector_latest_status"]
    for _ in range(2):
        before = _persistent_ids(spark)
        runner.run_batch(sources, models=models)
        assert not _persistent_ids(spark) - before
