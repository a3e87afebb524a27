"""SparkSession factory with scale-oriented defaults.

Tuned for the target workload (wide string payloads through Arrow-batched
pandas UDFs, shuffle-heavy joins/windows):

* AQE on (runtime re-plan, coalescing of small shuffle partitions, and
  splitting of skewed join partitions),
* Arrow transfer on, with a bounded records-per-batch so long `text`
  payloads don't blow executor memory (SURVEY.md §7 "hard parts" #6),
* a fixed shuffle-partition default; on a real cluster this is overridden
  via spark-submit --conf.

File-scan split size is left to Spark's bytes-per-core rule, ``min(128 MB,
max(4 MB, (input bytes + 4 MB x files) / cores))``: an input smaller than
cores x 128 MB gets about one split per core, so the narrow extraction map
over the scan runs as one wave of Python tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Arrow batch sizing: turns are ~0.3-5 KB of text, so 16384 rows ~= 5-80 MB
# per batch — large enough to amortize the JVM<->Python socket syscalls and
# per-batch pandas fixed costs that dominate at high parallelism, small
# enough to keep worker memory bounded (SURVEY.md §7 hard part #6; at a
# pathological 10 KB/turn a batch is ~160 MB, still fine per worker).
# MEASURED on the 3.94M-turn bench input (best-of-2, fresh JVM each):
#   16 cores: 4096 -> 29.3 s, 8192 -> 23.8 s, 16384 -> 22.4 s, 32768 -> 29.0 s
#   32 cores: 8192 -> 21.0 s, 16384 -> 17.4 s (226k turns/s)
# 32768 regresses (worker memory pressure/locality), so 16384 is the knee.
ARROW_MAX_RECORDS_PER_BATCH = 16384

# Session settings that can also be set at runtime: build_session starts
# with them and tune_for_session applies them to a session built elsewhere.
SESSION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS_PER_BATCH),
    "spark.sql.session.timeZone": "UTC",
}


def build_session(
    app_name: str = "janet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults applied."""
    master = master or os.environ.get("JANET_SPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.driver.memory", os.environ.get("JANET_SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in {**SESSION_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> None:
    """Apply the engine's runtime-settable defaults to an externally created
    session (the driver hands us one in ``__spark_entry__``)."""
    for k, v in SESSION_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - read-only conf on some builds
            pass
