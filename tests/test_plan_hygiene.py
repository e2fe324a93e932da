"""Plan-construction hygiene: building any registry query's DataFrame
must be purely declarative — zero Spark jobs (no ``.first()`` dim
probes, no ``.collect()`` bounds lookups, no RDD conversions that
materialize). At 100 TB a hidden driver-side action per operator call
is an extra cluster round-trip before the real query even starts.
"""

from __future__ import annotations

import pytest

from stock_data_pipeline_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"

# The documented exceptions: queries composing connected-components to
# convergence — an inherently iterative algorithm whose per-round
# checkpoint barrier + convergence test ARE Spark jobs (and must be:
# without the materialization barrier the unrolled plan grows ~4^rounds,
# see dedup.connected_components_fixed's caveat). q122 layers the
# canonical-selection argmax on q66's clusters, so it inherits the loop.
ITERATIVE = {"q66_dup_clusters", "q122_cluster_canonical", "q265_grid_dbscan", "q295_giant_component"}


@pytest.mark.slow  # 122 s: builds all 397 plans under a job-counting listener (r10 tier split)
def test_plan_construction_triggers_no_jobs(spark):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    built = 0
    for name, spec in REGISTRY.items():
        if name in ITERATIVE:
            continue
        df = spec.fn(spark, SF)  # plan only — never an action
        assert df is not None, name
        built += 1
    after = set(tracker.getJobIdsForGroup(None))
    new = after - before
    assert not new, f"plan construction launched Spark jobs {sorted(new)} (built {built} plans)"


def test_engine_session_reuses_generated_code_confs(spark):
    """Stable generated-class names (runtime conf, from
    ``ensure_engine_confs``) and a codegen cache sized to the measured
    working set (static conf, from ``get_session``)."""
    from stock_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_repeated_plan_compiles_no_new_classes(spark):
    """A repeated plan must hit Spark's generated-code cache: q66 run a
    third time in one session compiles nothing. With the AQE stage id in
    each class name (Spark's default) every repeat compiled 100+
    classes, because AQE numbers stages differently on each run.

    Broadcast joins are off for the test: AQE turns a shuffle join into
    a broadcast join when one side's stage finishes first, so a run can
    legitimately meet a plan variant (new code) that earlier runs never
    planned. Without broadcasts the plan is the same on every run and
    only the cache decides whether it is compiled again."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    fn = REGISTRY["q66_dup_clusters"].fn
    confs = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k in confs:
            spark.conf.set(k, "-1")
        per_run = []
        for _ in range(3):
            before = compiles.getCount()
            fn(spark, SF).write.format("noop").mode("overwrite").save()
            per_run.append(compiles.getCount() - before)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert per_run[2] == 0, f"compiles per run: {per_run}"
