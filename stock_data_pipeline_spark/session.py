"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster where it
translates (AQE, adaptive coalescing/skew-join, Arrow transfers); the
shuffle-partition count is sized to cores locally but on a 1000-executor
cluster would be left to AQE's coalescing with a high initial value.

Generated-code reuse. The engine's workloads run the same plans again
and again (the daily job every market day, the LLM-dedup queries on
every corpus snapshot), so Spark's whole-stage codegen cache must hit
on a repeated plan. Two confs make it hit:

- ``spark.sql.codegen.useIdInClassName=false`` (runtime, set by
  :func:`ensure_engine_confs`): AQE numbers codegen stages as it plans
  them, so the same pipeline is ``GeneratedIteratorForCodegenStage13``
  on one run and ``...Stage18`` on the next. The class name is part of
  the cache key (the generated source), so identical code missed the
  cache. Without the id every class is ``GeneratedIterator``; the stage
  id stays in the source's ``// codegenStageId=N`` comment.
- ``spark.sql.codegen.cache.maxEntries`` (static, set by
  :func:`get_session` only): the default 100-entry LRU is smaller than
  one pass over the engine's working set, so each entry was evicted
  before its plan came round again. See :data:`CODEGEN_CACHE_ENTRIES`.

Measured on a 4-core VM (Janino compiles counted by
``CodegenMetrics.METRIC_COMPILATION_TIME`` after a warm pass): a
steady-state pass of perfbench's ``llm_dedup`` went from ~160 compiles
to 0-2, ``daily_pipeline`` from 88 to 0, and a repeat of bench.py's 41
headliners at sf0.001 from 914 to 2-4. The few left are new plans, not
misses: AQE turns a shuffle join into a broadcast join when one side's
stage happens to finish first, so a run can meet a variant no earlier
run planned (q66's connected-components rounds do). Over 10
interleaved perfbench pairs on that VM, CPU per pass (JVM plus Python
workers) fell 29% on ``llm_dedup`` (23.5 to 16.7 s) and 16% on
``daily_pipeline`` (17.4 to 14.7 s): compiling, loading and JIT-ing the
recompiled classes is work no task's CPU time shows. Peak RSS did not
move, so the larger cache costs no measurable memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Whole-stage codegen cache size (static conf; Spark's default is 100).
# An entry is one generated body per class loader: in local mode the
# driver thread and the executor tasks each compile it once. Measured
# working set: one run of bench.py's 41 headliners at sf0.001 fills 736
# entries once class names carry no stage id, so 1000 holds every
# repeated plan of one session with headroom.
CODEGEN_CACHE_ENTRIES = 1000


def get_session(
    app_name: str = "stock_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` (driver contract) overrides core count.
    ``extra_confs``: creation-time confs that cannot be set at runtime
    (e.g. ``spark.ui.retainedStages`` for the bench's CPU-time
    accounting) — ignored if a session already exists in-process.

    Sizes the codegen cache to :data:`CODEGEN_CACHE_ENTRIES` (a static
    conf, so only sessions built here get it; see the module docstring).
    Call :func:`ensure_engine_confs` on the result for the runtime confs,
    including stable codegen class names.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # SCALE.md §14 / SKEW_r08.json: plans that aggregate ON the join
        # key (q90 shape) reuse the join's hash distribution, the planner
        # elides the exchange between join and agg, and OptimizeSkewedJoin
        # REVERTS rather than break that reuse — so without force the
        # designed skew mitigation silently never fires on exactly the
        # plans that reuse partitioning hardest. Force trades one extra
        # exchange for the split, and only acts at all once AQE has
        # already judged a partition skewed (factor x median AND above
        # the byte threshold) — at that point a straggler owning a
        # zipf-head key costs far more than the exchange. No-op on
        # non-skewed runs and below-threshold local tests.
        .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine relies on to a session we
    did not create (the driver hands us one in ``__spark_entry__``).

    - ``nanosAsLong``: lets the parquet reader accept an events fixture
      generated with TIMESTAMP(NANOS) (unit varies by generation —
      harmless for MICROS fixtures; see ``catalog.load_events``).
    - UTC session timezone: keeps ``date_format`` / LTZ casts stable and
      comparable with DuckDB's naive timestamps.
    - ``forceOptimizeSkewedJoin``: the SKEW_r08 mitigation (see the
      factory's comment) is runtime-settable and must hold on DRIVER
      sessions too — the q90-shape distribution-reuse trap does not
      care who built the session.
    - ``useIdInClassName=false``: generated classes are named without
      the AQE stage id, so a repeated plan hits Spark's codegen cache
      instead of recompiling (see the module docstring). Runtime, so a
      driver-provided session gets it; the cache SIZE is static, and a
      driver session keeps its own (Spark's default is 100 entries), so
      there only plans inside that LRU window reuse their code.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    return spark
