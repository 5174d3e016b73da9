"""Session factory pins: the generated-class cache holds the warm
working set, and launch-bound settings a stale session ignores are
reported.

1. A warm rerun of the 22 bench headline queries compiles nothing:
   Spark's default 100-entry codegen cache evicted the ~255 classes
   one pass needs, so every pass recompiled all of them. The first
   pass's compile count must stay below the configured cache size —
   if the working set outgrows the cache, this goes red.
   ``dedup_minhash_lsh`` self-joins one cached frame; its cache is
   loaded before the join is planned, so AQE cannot pick a different
   broadcast build side (and new generated code) from run to run.
2. ``get_spark`` names every launch-bound setting (JVM heap, codegen
   cache size) that an already-running session silently ignores.
"""

from __future__ import annotations

import pytest

from datafusion_archive_spark.queries import QUERIES
from datafusion_archive_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_stats,
    get_spark,
    stale_conf_warning,
)


def _headline_pass(spark, sf_dir) -> int:
    from bench import HEADLINE22

    before = codegen_stats(spark)["compiles"]
    for name in HEADLINE22:
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
    return codegen_stats(spark)["compiles"] - before


def test_warm_headline_rerun_compiles_nothing(spark, sf_dir):
    first = _headline_pass(spark, sf_dir)
    second = _headline_pass(spark, sf_dir)
    assert first < CODEGEN_CACHE_ENTRIES, (
        f"one headline pass compiled {first} classes, more than the "
        f"{CODEGEN_CACHE_ENTRIES}-entry codegen cache holds: raise "
        "CODEGEN_CACHE_ENTRIES in session.py"
    )
    assert second == 0, (
        f"the warm rerun recompiled {second} generated classes (first "
        f"pass: {first}); the codegen cache no longer holds the "
        "working set or a query now generates per-invocation code"
    )


def test_minhash_self_join_reads_a_loaded_cache(spark, sf_dir):
    """Both sides of the LSH self-join read one cached signature frame,
    loaded before the join is planned. Over an unloaded cache each side
    is its own AQE cache stage and the build side goes to whichever
    stage finishes first, so a warm rerun can plan the join the other
    way round and compile new classes."""
    df = QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    cached = [
        leaves.apply(i)
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "InMemoryRelation"
    ]
    assert len(cached) == 2  # one per join side
    assert all(
        rel.cacheBuilder().isCachedColumnBuffersLoaded() for rel in cached
    )


def test_stale_conf_warning_names_each_mismatch():
    msg = stale_conf_warning(
        {"spark.driver.memory": "1g"},
        {
            "spark.driver.memory": "8g",
            "spark.sql.codegen.cache.maxEntries": "1024",
        },
    )
    assert msg is not None
    assert "spark.driver.memory=8g but an existing session has 1g" in msg
    # absent from the SparkContext conf: the JVM runs Spark's default
    assert (
        "spark.sql.codegen.cache.maxEntries=1024 but an existing "
        "session has 100" in msg
    )
    assert "recompiles every query shape" in msg


def test_get_spark_warns_on_codegen_cache_mismatch(spark):
    current = spark.sparkContext.getConf().get(
        "spark.sql.codegen.cache.maxEntries", "100"
    )
    want = str(int(current) * 2)
    with pytest.warns(
        RuntimeWarning, match=f"spark.sql.codegen.cache.maxEntries={want}"
    ):
        got = get_spark(
            "codegen_mismatch_probe",
            extra_conf={"spark.sql.codegen.cache.maxEntries": want},
        )
    assert got is spark  # getOrCreate returned the existing session

