"""SparkSession factory tuned for the local test harness, and
`local_frame`, the way driver code builds small relations.

Designed for a multi-executor cluster: nothing here assumes local mode
except the master URL default; shuffle partitioning is sized from the
requested parallelism so the same code scales to a real cluster by
changing `master`/`shuffle_partitions`.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "solr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    executors: int | None = None,
    executor_mem_mb: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or 32).
    executors (or $SPARK_GRAFT_EXECUTORS): when set, use
    `local-cluster[E, cores/E, mem]` — E separate executor JVMs on this
    host. That is the faithful single-machine proxy for a multi-executor
    cluster: per-executor heaps/GC and a real inter-process shuffle,
    unlike local[N] where all tasks share one JVM.
    shuffle_partitions: defaults to 3x cores — enough task granularity
    that one straggler doesn't idle the rest (same sizing rule as a real
    cluster: 2-3x total executor cores).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if executor_mem_mb is None:
        # larger corpora need bigger executor heaps (the 2M-doc scaling
        # study OOMed 12g executors); env knob keeps bench runs tunable
        executor_mem_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "12288"))
    if executors is None:
        e = os.environ.get("SPARK_GRAFT_EXECUTORS")
        executors = int(e) if e else None
    if shuffle_partitions is None:
        shuffle_partitions = cores * 3
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if executors:
        os.environ.setdefault(
            "SPARK_HOME", os.path.dirname(__import__("pyspark").__file__)
        )
        per = max(1, cores // executors)
        master = f"local-cluster[{executors},{per},{executor_mem_mb}]"
    else:
        master = f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # executor python workers must import solr_spark (the
        # spark-submit --py-files analogue for local-cluster executors)
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g" if executors else "64g"),
        )
        .config("spark.executor.memory", f"{executor_mem_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd shuffle compression: the invert/layout exchanges are
        # bandwidth-bound at high core counts — zstd's ratio cuts
        # bus+spill traffic enough to buy a 1.77x 32-core 1M-doc build
        # speedup vs the lz4 default in the round-2 A/B (clean-run
        # tables: BENCH/BASELINE.md). On a real cluster this also cuts
        # network shuffle bytes.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.shuffle.compress", "true")
        .config("spark.shuffle.spill.compress", "true")
    )
    # Shuffle spill location: prefer tmpfs when present. In local mode all
    # executor threads share ONE disk, so shuffle-heavy stages serialize on
    # IO and mask CPU scaling; a real cluster has per-executor local disks.
    # (Override with SPARK_GRAFT_LOCAL_DIR.)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/solr_spark_tmp"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@lru_cache(maxsize=64)
def _ddl_schema(ddl: str):
    """DDL string -> (Spark StructType, Arrow schema); parsing goes
    through the JVM, so each distinct DDL is parsed once."""
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-built relation that plans as a `LocalRelation`.

    `spark.createDataFrame(list_of_tuples, schema)` plans as a
    `LogicalRDD` over a parallelized Python list: every broadcast or
    collect of it runs a Spark job whose tasks unpickle the rows in
    Python workers (about 0.2-0.3 s each in local mode). Built through
    an Arrow table, the same rows become a `LocalRelation` the JVM
    already holds: a collect runs no job, and a broadcast is a JVM-only
    job with no Python worker. Typed Arrow columns keep None values and
    64-bit ints exact (a pandas detour turns an int column holding None
    into float64), and zero rows still give an empty `LocalRelation`.

    rows: a sequence of tuples in `schema` column order; schema: a DDL
    string such as "docid long, score double". Same schema and rows as
    `spark.createDataFrame(rows, schema)`.
    """
    import pyarrow as pa

    struct, arrow = _ddl_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
