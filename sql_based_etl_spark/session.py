"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` single-JVM; the conf set below is chosen
so the same logical plans survive a 1000-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join selection)
- broadcast threshold high enough that dimension tables (region, nation,
  supplier, part at bench SF) broadcast instead of shuffling
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE coalescing from a higher initial number
- UTC session timezone so timestamp semantics match the DuckDB oracle
- Arrow enabled for the Pandas-UDF slow path
- a codegen cache large enough that a warm plan never recompiles:
  Spark's default 100 entries hold only ~50 plans, because each
  generated class takes two (see the conf below)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of the host's physical RAM, capped at 48g: local mode runs
    the whole job in the driver JVM, and a heap larger than the host
    gets the JVM OOM-killed instead of spilling."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(48, int(ram_gb // 2)))}g"


def get_spark(
    app_name: str = "sql_based_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. On a real cluster, pass master=None with
    ``spark.master`` preset and these confs still apply. The driver
    heap is ``$SPARK_DRIVER_MEMORY`` when set, else half the host's
    RAM (at most 48g).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-coalesce the output partitioning of CACHED plans:
        # the default (false, a compatibility holdover) pins every
        # persisted subtree to the static shuffle partition count, so
        # each persist materialization in the dedup/ANN paths launched
        # full-width tiny-task stages (measured ~10% on the incremental
        # minhash path; strictly better at scale too — a cached plan's
        # partitioning is an implementation detail, not a contract)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # parquet scans resolve columns by FIELD ID whenever the read
        # schema carries parquet.field.id metadata (inert otherwise) —
        # required by the Delta bridge for id-mode column-mapped tables
        # (tables/delta_interop.py:_snapshot_df). Set here, at session
        # construction, so reading such a table is not a hidden session
        # mutation; the bridge fail-louds if a foreign session lacks it.
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Static conf: the compiled-class cache is keyed on (class
        # loader, source), and in local mode the planning-time compile
        # and the task's compile use different loaders, so each class
        # takes two entries. The default 100 holds ~50 plans; the
        # sql_analytics warm-up alone fills 129 entries, and each timed
        # query then recompiled 4-53 classes it had compiled seconds
        # earlier (and lost their JIT code). 5000 keeps every plan a
        # session reruns compiled once.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Wide arithmetic chains (64-dim dot products, LSH signatures)
        # stress both compilers: Janino's deeply-recursive compile
        # overflows the default 512k thread stack (codegen retry +
        # interpreted fallback costs minutes), and HotSpot refuses to
        # JIT generated methods over 8KB bytecode (DontCompileHugeMethods),
        # leaving the hot per-pair predicate interpreted — observed as
        # bimodal 10s/100s runs on the pairwise-cosine join.
        # ReservedCodeCacheSize: a long session compiles hundreds of
        # generated classes; once the default 240m code cache fills,
        # HotSpot silently disables the JIT and wide-expression stages
        # run interpreted (order-dependent 10-20× slowdowns).
        .config(
            "spark.driver.extraJavaOptions",
            "-Xss64m -XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=1g",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-Xss64m -XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=1g",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # delta-spark activation (README § pinned library recipe): when the
    # matching pip package is installed (`import delta` succeeds), wire
    # the SQL extension + catalog and let delta's own helper put the
    # jars on the classpath — the library read/write routes in
    # extract.py/load.py then prefer the library automatically. Inert
    # in jar-less environments (this sandbox): the bridge carries
    # everything.
    try:
        from delta import configure_spark_with_delta_pip
    except ImportError:
        configure_spark_with_delta_pip = None
    if configure_spark_with_delta_pip is not None:
        builder = (
            builder
            .config("spark.sql.extensions",
                    "io.delta.sql.DeltaSparkSessionExtension")
            .config("spark.sql.catalog.spark_catalog",
                    "org.apache.spark.sql.delta.catalog.DeltaCatalog")
        )
        builder = configure_spark_with_delta_pip(builder)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver's parquet tables as temp views named after
    the files (TESTDATA.md): region nation customer supplier part orders
    lineitem events documents embeddings.
    """
    from sql_based_etl_spark.queries._util import load

    for name in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load(spark, sf_dir, name).createOrReplaceTempView(name)
