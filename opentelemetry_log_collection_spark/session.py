"""SparkSession helper with the engine's canonical configuration.

Scale posture: AQE on (runtime skew-join splitting + partition
coalescing), Arrow enabled for the pandas-UDF slow path, UTC session
timezone so timestamp semantics are reproducible across engines.

The codegen class cache holds ``CODEGEN_CACHE_ENTRIES`` classes, so a
warm query finds the classes it compiled on its first run instead of
recompiling them. It is a static conf: only a session this helper
builds gets it, and only if no earlier session in the same JVM has
already compiled code. A session the caller builds keeps Spark's
default of 100 entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``. Census
#: (``tools/plan_audit.py --codegen``, sf0.001): the twelve benchmark
#: ``query_mix`` queries compile 245 classes per pass and all 68
#: declared queries 713-772, so the default 100 evicts what the next
#: query needs. At 1,000 a second 68-query pass recompiled 19 classes,
#: against 758 at 100 (11 of 633 with stage ids out of class names,
#: below).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    master: str | None = None,
    app_name: str = "otel-log-collection-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # engine-created sessions run merge-overwrite via plain
        # map_concat (fields.merge_maps fast path); caller-provided
        # sessions without this policy get the policy-independent
        # filter+concat instead
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # no stage id in generated class names: adaptive execution
        # numbers a query's codegen stages as it re-plans them, in an
        # order that depends on which stages finish first, so with the
        # id a warm run compiled up to 16 classes of unchanged code
        # again under new names; identical stages of two queries also
        # share one class (245 -> 219 per mix pass)
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local-bench scan granularity: the test tables are a few MB,
        # which the 128MB default packs into 1-5 splits — capping
        # parallelism at 5 tasks no matter how many cores. Force at
        # least one split per core and small bins. 100TB deployments
        # override these back up via extra_conf.
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "16k")
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # one BLAS thread per Python worker: numpy matmuls inside
        # Arrow UDFs must not oversubscribe the cores Spark already
        # saturates with one worker per slot
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # throughput GC: G1's pause-target pacing collapses under 32
        # mutator threads of columnar churn (measured 2-4x slower than
        # ParallelGC on the flagship at local[32])
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # task-side commit (v2): the v1 driver-side serial rename of
        # every task's partitioned output files is an Amdahl tail that
        # grows with task count
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
