"""SparkSession builder with the engine's standard configuration.

- AQE on (coalesce partitions + skew-join splitting) — the engine's
  runtime analog of the reference's adaptive OCR retry
  (text_extractor.py:96-117) and its noise-salting
  (color_extractor.py:222-225).
- Arrow on for all pandas UDF exchange (the vectorized-inner-loop
  discipline mandated by BASELINE.json input_hint).
- UTC session timezone so parquet timestamps compare byte-identically
  with the DuckDB oracle.
- parallelism sized to the cores the session actually has: the
  master defaults to `local[*]` (or `local[$SPARK_GRAFT_CPUS]`), and
  shuffle partitions default to 2 × `sparkContext.defaultParallelism`
  — the local thread count in local mode, the total executor cores on
  a cluster. Override order for the shuffle width: the
  `shuffle_partitions` argument > `$SPARK_GRAFT_SHUFFLE` > a
  `spark.sql.shuffle.partitions` given in `extra_conf` or at launch
  (spark-submit `--conf`) > 2 × cores. The cores are counted when the
  session is built, so on a cluster whose executors register later,
  pass the width at launch. Operators that size themselves
  (the pipeline's pre-kernel repartition rule, the as-of kernel
  buckets, `doc_queries._heavy`) read the resulting session value.
- a streaming query keeps the state-store partition count its
  checkpoint was created with: restarting it on a session with a
  different shuffle width does not re-shard its state.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "transcript-feature-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Master resolution order: explicit arg > env > spark-submit's
    # --master (already present as spark.master in the submitted conf)
    # > standalone local default. Unconditionally calling .master()
    # OVERRODE spark-submit's cluster master — a batch job has no
    # active session, so the entrypoint's build_session call would
    # silently pin a 10^12-turn job to the driver node (round-3 review
    # finding). spark-submit starts its JVM before Python and hands over
    # only the gateway port: until a context connects, Python's
    # SparkConf() cannot see that JVM's spark.master, so the port itself
    # is the sign that a master was already chosen.
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            master = "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "*")
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    b = (
        b.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # pandas kernels bound memory by Arrow batch size; large groups are
        # chunked by the salt layer (operators/skew.py), not by Spark.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # set after getOrCreate: the core count is only known once the
    # context exists (local[*], or the executors of a cluster)
    key = "spark.sql.shuffle.partitions"
    sc = spark.sparkContext
    shuffle = (
        shuffle_partitions
        or os.environ.get("SPARK_GRAFT_SHUFFLE")
        or (extra_conf or {}).get(key)
        or sc.getConf().get(key)
        or 2 * sc.defaultParallelism
    )
    spark.conf.set(key, str(shuffle))
    return spark
