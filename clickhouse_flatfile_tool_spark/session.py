"""SparkSession factory with scale-aware defaults.

The reference creates one ClickHouse HTTP client per request
(/root/reference/server/server.js:95-124 and every endpoint); Spark's analog is
one long-lived session reused across queries (SURVEY.md §2.9 C2).

Config choices (rationale):
  * AQE on — runtime re-plan: skew-join splitting, partition coalescing,
    dynamic broadcast; this is the 100 TB safety net.
  * ``spark.sql.shuffle.partitions`` is the ``shuffle_partitions`` argument,
    default 32, which matches the local[32] harness; no environment variable
    overrides it.  The test session and ``scripts/selfcheck.py`` pass 8.  At
    cluster scale AQE coalescing makes the static number far less critical.
  * Arrow enabled — every pandas UDF transfers columnar batches, not rows.
  * ``maxPartitionBytes`` left at default 128 MB — correct for both local
    parquet fixtures and a 100 TB scan (≈800k input splits on 1000 executors).
  * Generated-class cache (``spark.sql.codegen.cache.maxEntries``) holds
    :data:`CODEGEN_CACHE_ENTRIES` classes, not Spark's 100 — the analog of
    ClickHouse's compiled-expression cache.  One session reuses far more
    plan shapes than 100: about 350 distinct classes for the curation funnel
    plus similarity jobs, about 170 for an interactive statement mix, and
    3,320 for one sweep of every ``__spark_entry__.queries()`` entry at
    sf0.01.  At 100 the LRU evicted classes the next statement was about to
    reuse, so every repeat paid Janino compile, class load and JIT again
    (the sf0.01 sweep alone compiled 5,078 classes for its 3,320 shapes).
    4,096 holds the sweep plus both workloads' sets; a full cache costs
    about 30 KiB of live heap per class.  It is a static conf: it only
    applies when set on the builder before the JVM's first session, which
    holds because this is the only session factory.
  * Python worker daemon (``spark.python.daemon.module``) is
    :mod:`clickhouse_flatfile_tool_spark._worker_daemon`, not
    ``pyspark.daemon``.  Workers are reused, but each Python-UDF task starts
    in ``pyspark.worker_util.setup_spark_files``, whose
    ``importlib.invalidate_caches()`` makes every zipimporter re-read its
    archive's central directory (Python >= 3.10): ``pyspark.zip``, the py4j
    zip and the 15 MB spark-core jar behind 16 importers.  That cost about
    0.2 s of worker CPU per task, whatever the UDF does (40 no-op
    ``mapInArrow`` tasks: 7.2-8.8 s of worker CPU against 0.65-0.87 s with
    this daemon, 4 cores).  The daemon skips only the zipimporters: directory
    finders, including the ``userFiles`` directory ``addFile`` fills, and
    every ``sys.meta_path`` finder are still invalidated, and a zip shipped
    by ``addPyFile`` gets a fresh importer on its new path entry.  The
    stock daemon runs when ``pyspark.worker_util`` has another shape.
  * Workers find this package wherever the driver was started:
    ``spark.executorEnv.PYTHONPATH`` starts with the package's parent
    directory (before any value ``extra_conf`` passes).  Python workers
    see only their working directory, ``$PYTHONPATH`` and Spark's zips,
    and cloudpickle ships package functions by reference, so a driver
    started outside the checkout with the package only on ``sys.path``
    could neither start the daemon above nor run a UDF operator.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes kept per JVM (see "Config choices" above).
CODEGEN_CACHE_ENTRIES = 4096

# Python worker daemon (see "Config choices" above).
WORKER_DAEMON_MODULE = "clickhouse_flatfile_tool_spark._worker_daemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "clickhouse-flatfile-tool-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters mirror the knobs a deployment would set; everything else is a
    deliberate default.  ``master`` falls back to ``local[N]`` with N from
    ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scans: vectorized reader + pushdown are on by default; keep
        # them explicit so a misconfigured deployment can't silently lose them
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Long-lived multi-query sessions (the api.py server shape, the
        # bench) strand localCheckpoint blocks, broadcasts and shuffle files
        # until a DRIVER full GC lets ContextCleaner's weak refs fire; the
        # 30min default lets them pile up for the whole session.  Measured
        # (OPTIMIZATION_r11.md): a 33-query sequence at 8g degrades
        # late queries ~2x (margin_pairs 8.2s vs 4.3s with a 60s interval).
        # 2min is conservative for any heap size.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
    )
    conf = dict(extra_conf or {})
    worker_path = [_PACKAGE_PARENT, conf.pop("spark.executorEnv.PYTHONPATH", "")]
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.pathsep.join(filter(None, worker_path)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_spark_with_port_retry(
    ui_port: int = 4040,
    max_retries: int = 10,
    **kwargs,
) -> SparkSession:
    """Port-conflict retry (SURVEY §2.9 C3): the reference walks to the next
    port when its HTTP listener hits EADDRINUSE
    (/root/reference/server/server.js:870-885).  Spark's bindable surface is
    the driver UI; we pin ``spark.ui.port`` and let Spark's own bind loop
    walk ``ui_port .. ui_port+max_retries`` (``spark.port.maxRetries`` is the
    same next-port strategy the reference hand-rolls).  ``kwargs`` pass
    through to :func:`get_spark`.
    """
    extra = dict(kwargs.pop("extra_conf", None) or {})
    extra.setdefault("spark.ui.port", str(ui_port))
    extra.setdefault("spark.port.maxRetries", str(max_retries))
    return get_spark(extra_conf=extra, **kwargs)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
