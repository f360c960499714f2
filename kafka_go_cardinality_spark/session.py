"""SparkSession construction with scale-oriented defaults.

The engine targets large clusters (the design point is ~100 TB inputs on
~1000 executors); tests and the bench harness run the same configuration on
``local[N]``.  Everything here is plain public Spark configuration:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- adaptive + explicit shuffle partition sizing;
- Arrow for any pandas-UDF exchange;
- broadcast threshold left at default so Catalyst auto-broadcasts small dims
  (we additionally hint ``broadcast()`` on known-small dimension tables).
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "kafka-go-cardinality-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or os.environ.get(
        "SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Local mode runs driver + executors in ONE JVM, so this is the
        # entire heap.  Sized generously for the 128 GiB test box: the
        # full query surface persists signature/fingerprint frames, and a
        # small heap turns late-run queries into GC victims.  On a real
        # cluster spark-submit supplies per-role memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        # The generated-class cache defaults to 100 entries; a session
        # that runs the ~200-query surface evicts every compiled stage
        # before its next use, so each bench pass re-pays Janino
        # compilation for every plan (measured as multi-second
        # pass-to-pass swings on codegen-heavy queries).  Steady-state
        # cost — what a cluster pays — is with warm compiled classes.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextlib.contextmanager
def conf_override(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session confs for the duration of the block, then restore each
    previous value — or unset the key if it was unset before."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
